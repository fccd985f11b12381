"""Plan-shape guards for scale hazards: a query must not funnel a
data-sized table through one task. Values are pinned by the oracle
parity tests; these pin the physical shape."""

from __future__ import annotations

from tests.conftest import SF_DIR
from weather_data_data_pipeline_spark import registry


def _single_partition_exchanges(plan) -> list:
    """Every shuffle exchange of an executed plan that gathers its input
    into one partition."""
    found, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":  # AQE on: its initial plan
            node = node.executedPlan()
        if (
            node.nodeName() == "Exchange"
            and node.outputPartitioning().toString() == "SinglePartition"
        ):
            found.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return found


def _is_partial_aggregate(node) -> bool:
    """A hash aggregate (under its codegen wrapper) whose functions all
    run in Partial mode: one row per input partition, whatever the data
    size."""
    if node.nodeName().startswith("WholeStageCodegen"):
        node = node.child()
    if node.nodeName() != "HashAggregate":
        return False
    aggs = node.aggregateExpressions()
    return aggs.size() > 0 and all(
        aggs.apply(i).mode().toString() == "Partial" for i in range(aggs.size())
    )


def test_rho_excess_loss_select_has_no_single_partition_funnel(spark):
    """The corpus totals come from an aggregate broadcast back by a cross
    join, not a key-less window: the only exchanges into one partition
    carry per-partition partial sums, never the unigram table."""
    df = registry.get_query("rho_excess_loss_select").fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan()
    assert "windowspecdefinition(specifiedwindowframe" not in plan.toString()
    gathers = _single_partition_exchanges(plan)
    assert gathers, "expected the two scalar aggregates' gathers"
    funnels = [g.toString() for g in gathers if not _is_partial_aggregate(g.child())]
    assert not funnels, funnels
