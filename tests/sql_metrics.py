"""SQL-metric readings for plan-shape tests: how many rows each physical
operator put out across the SQL executions an action starts."""

from __future__ import annotations

from collections import Counter


def output_rows(spark, run) -> Counter:
    """Node name -> summed "number of output rows" over every SQL
    execution `run()` starts, read from the SQL status store (populated
    with the UI disabled too)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids():
        it = store.executionsList().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next().executionId())
        return ids

    before = execution_ids()
    run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    rows = Counter()
    for eid in execution_ids() - before:
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    rows[node.name()] += int(v.get().replace(",", ""))
    return rows


def scored_rows(spark, run) -> int:
    """Rows out of every ArrowEvalPython (scoring UDF) node."""
    return output_rows(spark, run)["ArrowEvalPython"]
