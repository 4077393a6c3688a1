"""Multi-source breadth-first search: shortest hop distances over an
edge DataFrame.

Completes the graph-analytics family (degree / motif / connected
components / PageRank / triangles) with the remaining classic: hop
distance from a seed set — "how far is every user from an elite
reviewer", graph-locality features for ranking models, reachability
radii for integrity checks (reference neo4j_test.cypher's relationship
checks are the 1-hop special case).

Scale design (the 100 TB shape)
-------------------------------
Frontier iteration, the textbook BSP/Pregel BFS expressed as DataFrame
ops: per level ONE equi-join (frontier x edges on the source vertex)
plus ONE anti-join against the visited set — both keyed on vertex id.
The frontier is the only iterated state; at every level it holds exactly
the newly-discovered vertices, so per-level cost is proportional to the
frontier's edge fan-out, never the whole graph. Lineage is cut per level
(``localCheckpoint``, the repo's iterative pattern — pagerank/star-CC),
and the visited set grows by unionAll of checkpointed frontiers (each
union member is already materialized, so the union never recomputes
history). Termination: the frontier count (one 1-row aggregate per
level, same job as the checkpoint read) hits zero, or ``max_depth``
raises loudly.

One physical regime, measured against the Pregel layout pagerank uses
above its crossover (BASELINE.md round-6): BFS frontiers are small
relative to the edge set, so under AQE each level's frontier×edges join
plans as a BROADCAST of the frontier and the edge side never shuffles at
all. Placing the edges on their source once, with retained-partitioning
checkpoints, measured slower at both scales (sf0.1 4.9 s vs 3.1 s, sf1
6.9 s vs 5.9 s); it would only win once frontiers outgrow the broadcast
threshold — high-fanout graphs where one level's frontier is a large
fraction of the vertex set. Pagerank lives there permanently (its
"frontier" is ALL vertices every round), which is why it switches to the
placed-edges regime above 200k edges.

Directed by default; pass the symmetrized edge set (union both
directions) for undirected distance, exactly like the other graph
operators. With ``undirected=True`` the operator additionally exploits
the undirected BFS invariant — a neighbor of a distance-``d`` vertex has
distance ``d-1``, ``d`` or ``d+1``, never less — so the per-level
dedup anti-joins only the last TWO frontiers instead of the whole
visited set: per-level cost drops from O(|visited|) to O(|frontier|),
the difference between O(V·depth) and O(V) total shuffle volume on
deep graphs. (Equality against the general path and a python BFS model
is pinned in tests/test_bfs.py.) The flag is an assertion about the
EDGE SET (every edge's reverse is present), not a request: passing it
for a one-directional edge list silently corrupts distances, exactly
like passing an unsymmetrized edge set to connected_components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterutil import cut_lineage


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_depth: int = 30,
    undirected: bool = False,
) -> DataFrame:
    """(id, dist): minimum hop count from any seed in ``sources`` (a
    one-column DataFrame of vertex ids, dist 0) to every reachable
    vertex. Unreachable vertices are absent from the output (left-join
    against a vertex frame and fill if a dense result is needed).

    Raises RuntimeError when a frontier still exists after ``max_depth``
    levels — distances beyond the cap would be silently wrong, so the
    cap fails loudly (the star-CC convention).
    """
    e = cut_lineage(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).filter(
            F.col("_s").isNotNull() & F.col("_d").isNotNull()
        )
    )
    frontier = cut_lineage(
        sources.select(F.col(id_col).alias("id")).distinct().withColumn(
            "dist", F.lit(0)
        )
    )
    visited = frontier
    prev_frontier = frontier  # undirected mode: candidates can only hit d-1/d
    for depth in range(1, max_depth + 1):
        # undirected graphs: a candidate generated from the depth-d
        # frontier is at distance d-1, d, or d+1 — dedup needs only the
        # last two frontiers, not the full visited set
        seen = frontier.unionAll(prev_frontier) if undirected else visited
        nxt = (
            frontier.join(e, frontier.id == e._s)
            .select(F.col("_d").alias("id"))
            .distinct()
            .join(seen.select("id"), "id", "left_anti")
            .withColumn("dist", F.lit(depth))
        )
        # lazy checkpoint + count: materializing the level and testing
        # emptiness fuse into ONE job (see iterutil docstring) — with the
        # eager-checkpoint-then-count shape each level costs two
        nxt = cut_lineage(nxt, eager=False)
        if nxt.count() == 0:
            return visited
        # every member of the union is an already-materialized checkpoint:
        # the growing lineage is a union of RDD scans, never recomputation.
        visited = visited.unionAll(nxt)
        prev_frontier = frontier
        frontier = nxt
    # Raise only if the final frontier can still reach an UNVISITED
    # vertex — frontier edges back into the visited set (every undirected
    # graph has them) do not mean the search is incomplete.
    remaining = (
        frontier.join(e, frontier.id == e._s)
        .select(F.col("_d").alias("id"))
        .join(visited, "id", "left_anti")
    )
    if remaining.limit(1).count() > 0:
        raise RuntimeError(
            f"bfs_distances: frontier not exhausted after max_depth={max_depth}; "
            "raise the cap or check for unexpectedly long paths"
        )
    return visited
