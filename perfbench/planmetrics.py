"""SQL metrics of an executed batch plan, read from the physical plan
after it ran (adaptive query stages included)."""

from __future__ import annotations

# metric name in the plan -> per-layer metric it adds to
_SUMS = {
    "shuffleBytesWritten": "shuffle_bytes",
    "pythonDataSent": "python_bytes_sent",
    "pythonNumRowsReceived": "python_rows_received",
}


def _nodes(plan):
    """Every node of a physical plan, looking through adaptive plans and
    query stages, which hide their subtrees from ``children``."""
    todo = [plan]
    while todo:
        node = todo.pop()
        yield node
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))


def _metric(node, name):
    opt = node.metrics().get(name)
    return int(opt.get().value()) if opt.isDefined() else 0


def run_with_metrics(df) -> dict[str, int]:
    """Execute ``df`` to completion without collecting it (like the noop
    sink) and sum its SQL metrics: shuffle bytes, bytes sent to and
    rows received from Python workers, and the partial sketches the
    two-phase operators' ``mapInPandas`` phase produced."""
    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()
    out = dict.fromkeys(list(_SUMS.values()) + ["partial_sketches"], 0)
    for node in _nodes(plan):
        for metric, key in _SUMS.items():
            out[key] += _metric(node, metric)
        if node.getClass().getSimpleName() == "MapInPandasExec":
            out["partial_sketches"] += _metric(node, "pythonNumRowsReceived")
    return out
