"""PLAN_DIGEST.json: for every registered query, how many of each watched
node its physical plan holds before the action runs.

The counts come from the pre-execution plan (``executedPlan`` before the
collect): under AQE that is the initial plan, so runtime re-planning
(coalesced shuffles, a sort-merge join demoted to a broadcast) is not in
it, and the counts do not depend on the core count. Nodes under an
``InMemoryRelation`` are not counted: the cached plan printed there is
whatever the session's cache holds, so only the ``InMemoryTableScan``
that reads it is. A node absent from an entry has count 0.

The digest cannot see exchange reuse: under AQE it is decided at stage
creation, after the plan the digest reads, so ``ReusedExchange`` is not
watched.

``test_queries_oracle.test_query_matches_oracle`` checks each entry on
the frame it already builds for the oracle comparison. Regenerate the
whole file (builds every registered query at sf0.001, about 90 s):

    python -m tests.plan_digest
"""

from __future__ import annotations

import json
import re
from pathlib import Path

PATH = Path(__file__).resolve().parent.parent / "PLAN_DIGEST.json"

#: Watched node names. ``Exchange`` is the shuffle exchange (a broadcast
#: prints as ``BroadcastExchange`` and is not watched), and a checkpoint
#: read ``Scan ExistingRDD`` counts as ``ExistingRDD``.
NODES = (
    "FileScan",
    "Exchange",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "InMemoryTableScan",
    "ExistingRDD",
)

# one treeString line: tree drawing, an optional codegen stage id, then
# the node name ("Scan " prefixes RDD and local relation scans)
_LINE = re.compile(r"([ :+|-]*)(?:\*\(\d+\) )?(?:Scan )?(\w+)")


def digest(df) -> dict[str, int]:
    """Watched-node counts of ``df``'s physical plan, zeros left out.
    Call it before any action on ``df``: afterwards AQE has replaced the
    plan with the one it ran."""
    tree = df._jdf.queryExecution().executedPlan().treeString()
    counts: dict[str, int] = {}
    cached_depth = None
    for line in tree.splitlines():
        m = _LINE.match(line)
        if not m:
            continue
        depth, name = len(m.group(1)), m.group(2)
        if cached_depth is not None:
            if depth > cached_depth:
                continue
            cached_depth = None
        if name == "InMemoryRelation":
            cached_depth = depth
        elif name in NODES:
            counts[name] = counts.get(name, 0) + 1
    return dict(sorted(counts.items()))


def load() -> dict[str, dict[str, int]]:
    return json.loads(PATH.read_text())


def dumps(entries: dict[str, dict[str, int]]) -> str:
    """One line per query, so a plan change diffs as that query's line."""
    lines = [f"  {json.dumps(k)}: {json.dumps(v)}" for k, v in sorted(entries.items())]
    return "{\n" + ",\n".join(lines) + "\n}\n"


def main() -> None:
    from yelp_business_data_pipeline_spark.plans import QUERIES
    from yelp_business_data_pipeline_spark.session import get_spark

    from .conftest import SF_SMOKE

    spark = get_spark(app_name="plan_digest", shuffle_partitions=8)
    entries = {name: digest(QUERIES[name].spark(spark, SF_SMOKE)) for name in sorted(QUERIES)}
    PATH.write_text(dumps(entries))
    print(f"wrote {len(entries)} entries to {PATH}")


if __name__ == "__main__":
    main()
