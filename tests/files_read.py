"""How many files a call reads, from Spark's own SQL status store.

Every file-source scan reports a ``number of files read`` SQL metric. The
SQL status store keeps each execution's plan metrics
(``executionsList()``) and their final values (``executionMetrics``), so
summing that metric over the executions a call starts counts the files
the call's scans opened, subquery and cached-plan scans included. A
cached plan shows its scan in every execution that reads the cache, with
the same accumulator, which reads 0 where the cache served the rows, so
each accumulator counts once, at its largest value.
"""

from __future__ import annotations

_FILES_READ = "number of files read"


def _store(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def _executions(store) -> list:
    execs = store.executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def files_read(spark, fn):
    """``(fn(), n)``: the result of ``fn()`` and the number of files read
    by the executions it started."""
    seen = {e.executionId() for e in _executions(_store(spark))}
    result = fn()
    store = _store(spark)
    values: dict[int, int] = {}
    for e in _executions(store):
        if e.executionId() in seen:
            continue
        metrics = e.metrics()
        ids = {
            metrics.apply(i).accumulatorId()
            for i in range(metrics.size())
            if metrics.apply(i).name() == _FILES_READ
        }
        if not ids:
            continue
        final = store.executionMetrics(e.executionId())
        for acc in ids:
            if final.contains(acc):
                n = int(str(final.apply(acc)).replace(",", ""))
                values[acc] = max(values.get(acc, 0), n)
    return result, sum(values.values())
