"""Physical-plan shape guards (the 100 TB posture checks): pushdown
reaches the parquet scan, small dims broadcast, shuffle counts stay at
the designed number. Catches plan regressions that correctness tests
can't see."""

import os

from pyspark.sql import functions as F

from probability_of_buying_two_products_together_hadoop_project_spark.operators import basket
from probability_of_buying_two_products_together_hadoop_project_spark.plans import explain


def test_filter_pushdown_reaches_scan(spark, sf_smoke):
    li = spark.read.parquet(os.path.join(sf_smoke, "lineitem.parquet"))
    df = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = explain.formatted_plan(df)
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan
    # column pruning: scan schema is just the two referenced columns
    assert explain.pushed_filters(df)


def test_projection_prunes_scan_schema(spark, sf_smoke):
    li = spark.read.parquet(os.path.join(sf_smoke, "lineitem.parquet"))
    plan = explain.formatted_plan(li.select("l_orderkey"))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines and "l_orderkey" in scan_lines[0]
    assert "l_comment" not in scan_lines[0]


def test_q5_broadcasts_dims(spark, sf_smoke):
    import __spark_entry__ as e

    df = e.queries()["q5_region_revenue"](spark, sf_smoke)
    assert explain.has_broadcast_join(df)


def test_cooccurrence_single_pair_exchange(spark, sf_smoke):
    """The flagship plan: one exchange for the basket groupBy, one for the
    pair aggregation, one for the per-item window — and nothing else."""
    li = spark.read.parquet(os.path.join(sf_smoke, "lineitem.parquet"))
    df = basket.cooccurrence_pairs(basket.baskets_from_lineitem(li))
    n = explain.count_exchanges(df)
    assert n == 3, f"flagship must be exactly 3 exchanges, got {n}"


def test_basket_pairs_generators_are_whole_stage_codegen(spark):
    """Pair generation compiles: no lambda (higher-order functions are
    CodegenFallback, evaluated row-at-a-time), and both Generate nodes
    sit inside WholeStageCodegen (prefixed ``*(n)``)."""
    df = spark.createDataFrame([("Mary 34 56 29 34",)], ["value"])
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pairs = basket.basket_pairs(basket.baskets_from_text(df))
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert "lambdafunction" not in plan.lower(), plan
    gens = [l.lstrip("+- :") for l in plan.splitlines() if "Generate explode" in l]
    assert len(gens) == 2, plan
    assert all(g.startswith("*(") for g in gens), plan


def test_cooccurrence_bucketed_layout_drops_basket_exchange(spark, sf_smoke, tmp_path):
    """lineitem bucketed by l_orderkey: the basket-build groupBy reads
    pre-clustered buckets, so the dominant exchange disappears (the 100 TB
    layout story — measured ~35% faster at sf0.1)."""
    li = spark.read.parquet(os.path.join(sf_smoke, "lineitem.parquet"))
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .option("path", str(tmp_path / "li_b"))
        .saveAsTable("li_bucketed_t")
    )
    try:
        lib = spark.table("li_bucketed_t")
        plain = basket.cooccurrence_pairs(basket.baskets_from_lineitem(li))
        bucketed = basket.cooccurrence_pairs(basket.baskets_from_lineitem(lib))
        assert explain.count_exchanges(bucketed) == explain.count_exchanges(plain) - 1
        assert bucketed.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bucketed_t")


def test_aqe_splits_skewed_join(spark):
    """A hot join key (5/6 of all rows) must trigger AQE's runtime skew
    split (skew=true in the final adaptive plan) instead of one straggler
    task — the mechanism that replaces the reference's static hand-tuned
    range partitioner (/root/reference/src/CrystalBallPair.java:97-104)."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # thresholds scaled down so test-sized data exhibits "skew"
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        big = spark.range(300000).select(
            F.when(F.col("id") < 250000, F.lit(1)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(300000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = big.join(dim, "k")
        assert len(j.collect()) == 300000
        plan = j._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_topk_no_global_sort(spark, sf_smoke):
    import __spark_entry__ as e

    df = e.queries()["topk_orders_per_customer"](spark, sf_smoke)
    plan = explain.formatted_plan(df)
    # rank-window top-k: partition-local sort only, no global range exchange
    assert "rangepartitioning" not in plan


def test_correlated_subqueries_decorrelate(spark, sf_smoke):
    """The SQL-surface subquery shapes must plan as joins, never as
    per-row subquery execution: EXISTS -> left semi join; correlated
    scalar aggregates -> grouped aggregate joined back."""
    import __spark_entry__ as e

    qs = e.queries()
    q4 = explain.formatted_plan(qs["q4_order_priority_exists"](spark, sf_smoke))
    assert "LeftSemi" in q4
    q17 = explain.formatted_plan(qs["q17_small_quantity_revenue"](spark, sf_smoke))
    cmax = explain.formatted_plan(qs["correlated_max_order"](spark, sf_smoke))
    for plan in (q4, q17, cmax):
        # decorrelated: the subquery became part of the join tree
        assert "Subquery" not in plan, "per-row subquery survived decorrelation"
    assert "HashAggregate" in q17 and ("BroadcastHashJoin" in q17 or "SortMergeJoin" in q17)
    assert "HashAggregate" in cmax and ("BroadcastHashJoin" in cmax or "SortMergeJoin" in cmax)


def test_symdelete_candidates_single_variant_exchange(spark, sf_smoke):
    """Candidate generation is ONE shuffle of 16-byte variant keys plus
    the pair dedup and name join-backs — no quadratic join, no re-executed
    variant subtree (the bucket-aggregate formulation)."""
    import os

    from probability_of_buying_two_products_together_hadoop_project_spark.operators import dedup

    cust = spark.read.parquet(os.path.join(sf_smoke, "customer.parquet"))
    cand = dedup.edit_distance_candidates(
        cust, "c_custkey", "c_name", block_cols=("c_nationkey",)
    )
    plan = explain.formatted_plan(cand)
    # exactly two Generates — the variant explode and the in-bucket pair
    # expansion, each evaluated ONCE: a self-join formulation would carry
    # the variant explode on both sides (3+ Generates)
    import re

    explodes = len(re.findall(r"^\(\d+\) Generate", plan, re.M))
    assert explodes == 2, f"expected 2 Generate nodes, got {explodes}"


def test_new_operator_plan_shapes(spark, sf_smoke):
    """Pin the round-3 operators' exchange counts: each is designed as a
    single hash exchange (window or agg), so a regression to a global
    sort or extra shuffle fails here."""
    import __spark_entry__ as e

    qs = e.queries()
    for name, max_exchanges in (
        ("stratified_sample_orders", 1),
        ("keep_latest_events", 1),
        ("corpus_bigrams", 2),  # agg + total-ordered limit
        ("pseudonymize_customers", 0),  # narrow projection, no shuffle
    ):
        n = explain.count_exchanges(qs[name](spark, sf_smoke))
        assert n <= max_exchanges, f"{name}: {n} exchanges > {max_exchanges}"
    # salted join: the salt must not add exchanges beyond the join's own
    # (the replicated right side broadcasts or shuffles once)
    plan = explain.formatted_plan(qs["salted_join_revenue"](spark, sf_smoke))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # interval join plans as a real equi-join on user_id, never nested-loop
    ssj = explain.formatted_plan(qs["events_view_purchase_join"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" not in ssj and "CartesianProduct" not in ssj


def test_round4_operator_plan_shapes(spark, sf_smoke):
    """Pin the round-4 operators' plan structure: the banded interval
    join must be an EQUI-join (the naive range formulation would plan a
    per-key nested loop), the LSH near-dup pipeline stays
    bucket-aggregated (no cartesian anywhere), and the session-window
    twin is a single exchange."""
    import __spark_entry__ as e

    from probability_of_buying_two_products_together_hadoop_project_spark.plans import explain

    qs = e.queries()
    ij = explain.formatted_plan(qs["interval_join_view_purchase"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" not in ij and "CartesianProduct" not in ij
    nd = explain.formatted_plan(qs["embedding_cosine_near_dup"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" not in nd and "CartesianProduct" not in nd
    assert explain.count_exchanges(qs["events_session_window"](spark, sf_smoke)) <= 1
    assert explain.count_exchanges(qs["events_window_bounds"](spark, sf_smoke)) <= 1
    # PNG roundtrip: Arrow mapInPandas + one broadcast join-back, no shuffle
    assert explain.count_exchanges(qs["multimodal_png_roundtrip"](spark, sf_smoke)) == 0


def test_repetition_screen_zero_shuffle(spark, sf_smoke):
    """Per-doc repetition ratios are row-local facts; the screen must
    plan as a pure narrow projection (the explode+agg formulation cost
    4 exchanges for nothing)."""
    import __spark_entry__ as e

    from probability_of_buying_two_products_together_hadoop_project_spark.plans import explain

    assert explain.count_exchanges(e.queries()["repetition_screen"](spark, sf_smoke)) == 0


def test_late_r04_query_plan_shapes(spark, sf_smoke):
    """Pin the late-r04 queries: TPC-H shapes keep every dimension
    broadcast (no cartesian, no nested-loop except the 1-row scalar
    broadcasts in q22/bm25), and exchange counts stay at the designed
    minimum — the fact table shuffles once (its big equi-join or its
    aggregation), never more."""
    import __spark_entry__ as e

    from probability_of_buying_two_products_together_hadoop_project_spark.plans import explain

    qs = e.queries()
    # (name, max_exchanges, scalar_broadcast_allowed)
    cases = [
        ("q7_nation_volume_shipping", 1, False),
        ("q10_returned_item_revenue", 2, False),  # agg + top-k sort
        ("q13_order_count_distribution", 2, False),
        ("q18_large_quantity_orders", 2, False),
        ("q22_inactive_rich_customers", 2, True),
        ("bm25_search", 5, True),
        ("decontaminate_ngrams", 2, False),
    ]
    for name, max_exch, scalar_bnlj_ok in cases:
        df = qs[name](spark, sf_smoke)
        plan = explain.formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        if not scalar_bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, name
        n = explain.count_exchanges(df)
        assert n <= max_exch, f"{name}: {n} exchanges > {max_exch}"


def test_r05_tpch_query_plan_shapes(spark, sf_smoke):
    """Pin the r05 TPC-H additions: Q21's chained semi/anti self-joins
    stay co-partitioned equi-joins (no cartesian/nested-loop), Q2 scans
    lineitem ONCE (window min, not a min-side self-join), Q11's only
    nested loop is the 1-row threshold broadcast."""
    import __spark_entry__ as e

    from probability_of_buying_two_products_together_hadoop_project_spark.plans import explain

    qs = e.queries()
    cases = [
        # (name, max_exchanges, scalar_broadcast_allowed)
        ("q21_waiting_supplier", 4, False),
        ("q2_min_cost_supplier", 3, False),
        ("q11_important_stock", 3, True),
    ]
    for name, max_exch, scalar_bnlj_ok in cases:
        df = qs[name](spark, sf_smoke)
        plan = explain.formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        if not scalar_bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, name
        n = explain.count_exchanges(df)
        assert n <= max_exch, f"{name}: {n} exchanges > {max_exch}"
    # Q2 must read lineitem exactly once (the whole point of the window
    # formulation vs the join-back one)
    plan2 = explain.formatted_plan(qs["q2_min_cost_supplier"](spark, sf_smoke))
    assert plan2.count("lineitem.parquet") <= 1


def test_r05_full_battery_plan_shapes(spark, sf_smoke):
    """The 8 queries completing the TPC-H battery: the fact table
    shuffles at most once for its aggregation (q15's revenue view adds
    its global-max re-agg + join-back; q16's distinct count is
    two-phase), every dimension broadcasts, no cartesian products."""
    import __spark_entry__ as e

    from probability_of_buying_two_products_together_hadoop_project_spark.plans import explain

    qs = e.queries()
    cases = [
        ("q8_market_share", 1),
        ("q9_product_profit", 1),
        ("q12_late_shipments", 1),
        ("q14_promo_revenue", 1),
        ("q15_top_supplier", 3),
        ("q16_supplier_part_count", 2),
        ("q19_disjunctive_revenue", 1),
        ("q20_excess_supply", 1),
    ]
    for name, max_exch in cases:
        df = qs[name](spark, sf_smoke)
        plan = explain.formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        n = explain.count_exchanges(df)
        assert n <= max_exch, f"{name}: {n} exchanges > {max_exch}"


def test_curate_corpus_single_pass_plan(spark, sf_smoke):
    """The composed curation pipeline computes every per-row feature in
    one projection: exactly 2 parquet scans (the self-union's two legs —
    one per leg, NOT one per feature) and exactly 1 exchange (the
    survivor window over filtered rows)."""
    import __spark_entry__ as e

    from probability_of_buying_two_products_together_hadoop_project_spark.plans import explain

    df = e.queries()["curate_corpus_deduped"](spark, sf_smoke)
    plan = explain.formatted_plan(df)
    assert plan.count("documents.parquet") <= 2
    assert explain.count_exchanges(df) == 1
