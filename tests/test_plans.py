"""Physical-plan assertions — scale-readiness, not just correctness.

These pin the plan shapes that matter at 100 TB: dim joins must broadcast
(no fact-side shuffle), filters must reach the parquet scan, global top-k
must avoid a global sort, and the anagram pipeline must shuffle exactly
once (its one semantic barrier)."""

from __future__ import annotations

from cc_mapreducer_spark import registry
from cc_mapreducer_spark.operators.relational import join_broadcast_dims, order_limit_topk
from cc_mapreducer_spark.plans.inspect import count_exchanges, executed_plan, formatted_plan
from tests.conftest import SF_ORACLE

Q = registry.all_queries()


def test_dim_joins_broadcast(spark):
    plan = formatted_plan(join_broadcast_dims(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # no dim join should shuffle the fact side


def test_q1_filter_pushdown(spark):
    plan = formatted_plan(Q["q1_pricing_summary"](spark, SF_ORACLE))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark):
    plan = formatted_plan(Q["q1_pricing_summary"](spark, SF_ORACLE))
    # scan must not read join keys/partkeys it doesn't need
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines and "l_orderkey" not in scan_lines[0]


def test_topk_avoids_global_sort(spark):
    plan = formatted_plan(order_limit_topk(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan


def test_anagram_single_semantic_shuffle(spark):
    # tokenize -> filters -> signature -> groupBy: exactly ONE hash-keyed
    # Exchange (the reference's shuffler stage). The extra RoundRobin
    # exchange is spread()'s single-file-input widening, a no-op on a real
    # multi-split table. The stop-word filter is an INSET predicate in the
    # scan stage: no join, and no RDD-backed lookup table whose broadcast
    # would run one extra job per execution.
    plan = formatted_plan(Q["anagram_groups"](spark, SF_ORACLE))
    hash_exchanges = sum(
        1 for l in plan.splitlines() if "Arguments: hashpartitioning" in l
    )
    assert hash_exchanges == 1
    assert count_exchanges(Q["anagram_groups"](spark, SF_ORACLE)) <= 2
    nodes = [l.split(" ", 1)[1] for l in plan.splitlines() if l.startswith("(")]
    assert not [n for n in nodes if "Join" in n]
    assert not [n for n in nodes if "RDD" in n]
    conditions = [l for l in plan.splitlines() if l.startswith("Condition")]
    assert any("NOT word" in c and " INSET " in c for c in conditions)


def test_q1_partial_aggregation(spark):
    # map-side combine the reference lacks (SURVEY §2.5): HashAggregate
    # appears both before and after the exchange
    plan = formatted_plan(Q["q1_pricing_summary"](spark, SF_ORACLE))
    assert plan.count("HashAggregate") >= 2


def test_wholestage_codegen_hot_path(spark):
    # '*(n)' markers = whole-stage-codegen spans in the final AQE plan;
    # and no Python evaluation node may appear in the hot path.
    plan = executed_plan(Q["q1_pricing_summary"](spark, SF_ORACLE))
    assert "*(" in plan
    assert "EvalPython" not in plan


# ---------------------------------------------------------------------------
# round-2 consolidated queries: pin the plan shapes that make the merges
# FREE at scale (one scan, shared partitioning) rather than N stitched jobs
# ---------------------------------------------------------------------------


def test_customer_profile_single_window_exchange(spark):
    """24 derived columns + 5 window functions must cost exactly ONE hash
    Exchange (the c_mktsegment window) over a single customer scan — the
    column merge must not add passes."""
    df = Q["customer_profile"](spark, SF_ORACLE)
    assert count_exchanges(df) == 1
    plan = formatted_plan(df)
    assert plan.count("(1) Scan parquet") == 1
    assert "SortMergeJoin" not in plan


def test_window_suite_single_exchange(spark):
    """ROWS and RANGE frames both partition by o_custkey: one Exchange
    feeds both Window operators."""
    df = Q["window_suite_orders"](spark, SF_ORACLE)
    assert count_exchanges(df) == 1


def test_text_profile_shuffle_free(spark):
    """The wide per-document profile is a pure per-row map: zero hash
    Exchanges (the only repartition is spread()'s round-robin scan
    widening, which disappears on a real multi-split table)."""
    plan = formatted_plan(Q["text_profile"](spark, SF_ORACLE))
    assert "hashpartitioning" not in plan


def test_orders_date_suite_no_exchange(spark):
    assert count_exchanges(Q["orders_date_suite"](spark, SF_ORACLE)) == 0


def test_pivot_summary_broadcasts_dims(spark):
    plan = formatted_plan(Q["pivot_segment_summary"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shuffle_byte_budgets_measured(spark):
    """Measured shuffle volume (post-AQE SQLMetrics), not plan-shape
    inference: the snowflake join must move only aggregated rows (dims
    broadcast + partial agg), and exact dedup must shuffle 32-byte
    hashes, never document bodies."""
    from cc_mapreducer_spark.plans.inspect import execution_metrics

    m = execution_metrics(Q["q5_local_supplier_volume"](spark, SF_ORACLE))
    # sf0.01: a handful of (nation, revenue) partials — bytes, not MBs
    assert m["shuffle_records_written"] < 1000
    assert m["shuffle_bytes_written"] < 100_000
    assert m["spill_bytes"] == 0

    m = execution_metrics(Q["exact_dedup"](spark, SF_ORACLE))
    # 500 docs -> ~1 hash record per doc (plus partial-agg rows), far
    # below what shuffling text bodies (~500 x 1-2KB) would cost
    assert m["shuffle_bytes_written"] < 200_000
    assert m["spill_bytes"] == 0


def test_q6_full_predicate_pushdown(spark):
    from cc_mapreducer_spark import registry

    plan = formatted_plan(registry.all_queries()["q6_forecast_revenue"](spark, SF_ORACLE))
    for pushed in ["GreaterThanOrEqual(l_shipdate", "LessThan(l_quantity,24.0)"]:
        assert pushed in plan, f"missing pushed filter {pushed}"
