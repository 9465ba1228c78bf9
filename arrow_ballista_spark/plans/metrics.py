"""Per-operator execution metrics (reference parity: TaskMetrics /
OperatorMetrics — output_rows, elapsed_compute, spill_count, spilled_bytes,
mem_used — ``ballista.proto:245-278``, collected in
``ballista/core/src/utils.rs:366-377``).

Spark records the same counters as SQLMetrics on every physical operator;
this module walks the executed (post-AQE) plan over py4j and returns them
as plain dicts — the engine's answer to the reference's job-metrics REST
endpoint."""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def plan_children(node) -> list:
    """A physical-plan node's children, including the subtrees that
    query-stage nodes hide behind ``plan()`` and AQE behind
    ``executedPlan()``: AQE's CURRENT plan — the final one once the
    query has run, the initial one before — never a trigger of execution
    (``finalPhysicalPlan`` would run the query; ``initialPlan`` reads
    zero shuffle bytes on an already-executed query)."""
    children = node.children()
    out = [children.apply(i) for i in range(children.size())]
    for attr in ("plan", "executedPlan"):
        try:
            out.append(getattr(node, attr)())
        except Py4JError:  # not a stage / AQE node
            pass
    return out


def _walk(node):
    yield node
    for child in plan_children(node):
        yield from _walk(child)


def collect_metrics(df: DataFrame, execute: bool = True) -> list[dict]:
    """[{node, metric, value}] for every operator in the executed plan.
    ``execute=False`` reads the plan as it stands and starts no job:
    real counters when ``df`` already ran, zeros when it never did."""
    if execute:
        df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    out: list[dict] = []
    seen = set()
    for node in _walk(plan):
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        m = node.metrics()
        it = m.iterator()
        while it.hasNext():
            kv = it.next()
            out.append(
                {
                    "node": node.nodeName(),
                    "metric": str(kv._1()),
                    "value": kv._2().value(),
                }
            )
    return out


def metrics_summary(df: DataFrame, execute: bool = True) -> dict:
    """Aggregate view: total rows produced per operator type, spill bytes,
    peak memory — the reference's PartitionStats rollup equivalent."""
    rows = collect_metrics(df, execute=execute)
    summary: dict = {"output_rows": {}, "spill_bytes": 0, "peak_memory": 0}
    for r in rows:
        if r["metric"] == "numOutputRows":
            summary["output_rows"][r["node"]] = (
                summary["output_rows"].get(r["node"], 0) + r["value"]
            )
        elif r["metric"] == "spillSize":
            summary["spill_bytes"] += r["value"]
        elif r["metric"] == "peakMemory":
            summary["peak_memory"] = max(summary["peak_memory"], r["value"])
    return summary
