"""SQL metrics of an executed query, read over py4j.

After an action on a DataFrame, ``plan_nodes(df)`` walks the final adaptive
(AQE) executed plan of that DataFrame and returns one record per physical
operator: its name, a one-line description and its SQL metrics. Query
stages and reused exchanges are followed into the plan they wrap; a reused
exchange reports nothing of its own, so no operator is counted twice.

Cached data is followed into the plan that filled the cache; a node's
``path`` tells how many cache boundaries lie above it.

A metric Spark does not report for an operator is simply absent from the
record; the helpers below return ``None`` for it, never 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# timing metrics are converted to seconds by their declared type
_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _metrics(node) -> dict[str, float]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        out[kv._1()] = metric.value() * _SCALE.get(metric.metricType(), 1)
    return out


def plan_nodes(df: DataFrame) -> list[dict]:
    """Operators of ``df``'s executed plan, parents before children.

    Each record: {"name", "desc", "metrics", "path"} where ``path`` lists
    the names of the operator's ancestors (nearest last)."""
    root = df._jdf.queryExecution().executedPlan()
    out: list[dict] = []

    def walk(node, path):
        name = node.nodeName()
        if name == "ReusedExchange":
            return
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan(), path)
        if name.endswith("QueryStage"):
            return walk(node.plan(), path)
        out.append({"name": name, "desc": node.simpleString(8), "metrics": _metrics(node),
                    "path": list(path)})
        if name == "InMemoryTableScan":  # the plan that filled the cache
            walk(node.relation().cachedPlan(), path + [name])
        for child in _seq(node.children()):
            walk(child, path + [name])

    walk(root, [])
    return out


def total(nodes: list[dict], metric: str, where=lambda n: True) -> float | None:
    """Sum of ``metric`` over the matching operators; None if none reports it."""
    vals = [n["metrics"][metric] for n in nodes if where(n) and metric in n["metrics"]]
    return sum(vals) if vals else None
