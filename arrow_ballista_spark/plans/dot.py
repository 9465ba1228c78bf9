"""DOT-graph export of the physical plan.

Reference parity: the scheduler renders the stage DAG as graphviz
(``ballista/scheduler/src/state/execution_graph_dot.rs``, REST
``/api/job/{id}/dot``).  Spark's equivalent visualization lives in the UI;
this module produces the same artifact headlessly from any DataFrame's
(post-AQE, if executed) physical plan."""

from __future__ import annotations

from pyspark.sql import DataFrame

from arrow_ballista_spark.plans.metrics import plan_children


def _walk(node, counter=None, parent=None):
    """Yield (id, label, parent_id) over the physical-plan tree."""
    if counter is None:
        counter = [0]
    my_id = counter[0]
    yield my_id, node.nodeName(), parent
    for child in plan_children(node):
        counter[0] += 1
        yield from _walk(child, counter, my_id)


def plan_dot(df: DataFrame, execute: bool = False) -> str:
    """Graphviz DOT for the plan tree (``execute=True`` finalizes AQE
    first so the rendered graph is the plan that actually ran)."""
    if execute:
        df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    lines = [
        "digraph physical_plan {",
        '  rankdir="BT";',
        "  node [shape=box, fontname=monospace];",
    ]
    for nid, label, parent in _walk(plan):
        safe = label.replace('"', "'")
        lines.append(f'  n{nid} [label="{safe}"];')
        if parent is not None:
            lines.append(f"  n{nid} -> n{parent};")
    lines.append("}")
    return "\n".join(lines)
