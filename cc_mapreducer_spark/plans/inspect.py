"""Plan-inspection helpers used by tests and the bench lane to assert the
physical plan is the one we want (pushdown reached the scan, the join
broadcast, no surplus Exchange) — not just that results are correct."""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchanges in the physical plan (broadcasts excluded).

    Counts only the formatted plan's detail headers ("(n) Exchange") so the
    tree rendering doesn't double-count each node."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if line.strip().split(" ", 1)[-1] == "Exchange" and line.strip().startswith("(")
    )


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE) physical plan; runs the query. Codegen spans show
    up as '*(n)' markers only once AQE has finalized the plan."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()  # type: ignore[attr-defined]


def execution_metrics(df: DataFrame) -> dict:
    """Execute ``df`` and sum the post-AQE plan's SQLMetrics: actual
    shuffle bytes/records written, shuffle bytes read, and spill.
    This is measured evidence, not plan-shape inference — the number
    that proves 'the dims broadcast and only 5 aggregated rows crossed
    the wire', and the one that explodes first when a plan regresses at
    scale. Used by bench.py's shuffle and skew lanes and by
    tests/test_plans.py::test_shuffle_byte_budgets_measured.

    Execution runs executor-side through the QueryExecution's own RDD
    (count of InternalRows) — NOT collect(): the bench's no-driver-
    materialization rule holds, so a row-heavy query at a big SF can't
    OOM the driver just to read its metrics.
    """
    qe = df._jdf.queryExecution()  # type: ignore[attr-defined]
    qe.toRdd().count()  # executes the SAME QueryExecution; rows stay executor-side
    root = qe.executedPlan()

    nodes: list = []

    def _walk(node) -> None:
        nodes.append(node)
        ch = node.children()
        for i in range(ch.size()):
            _walk(ch.apply(i))
        cls = node.getClass().getSimpleName()
        # AQE hides materialized subtrees behind stage wrappers
        if cls.endswith("QueryStageExec"):
            _walk(node.plan())
        if cls == "AdaptiveSparkPlanExec":
            _walk(node.executedPlan())

    _walk(root)
    keep = {
        "shuffleBytesWritten": "shuffle_bytes_written",
        "shuffleRecordsWritten": "shuffle_records_written",
        "localBytesRead": "shuffle_bytes_read_local",
        "remoteBytesRead": "shuffle_bytes_read_remote",
        "spillSize": "spill_bytes",
        # AQE skew-join evidence (AQEShuffleReadExec): non-zero means the
        # runtime actually detected and split a skewed partition — the
        # bench's skew lane records these on the Zipf corpus.
        "numSkewedPartitions": "skewed_partitions",
        "numSkewedSplits": "skewed_splits",
    }
    out = {v: 0 for v in keep.values()}
    for n in nodes:
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            k = str(kv._1())
            if k in keep:
                out[keep[k]] += kv._2().value()
    return out
