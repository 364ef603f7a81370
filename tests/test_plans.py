"""Plan-shape regression tests (SURVEY §4): assert the physical properties
the 100 TB design depends on — filter pushdown + column pruning at the
scan, broadcast joins for dimensions, codegen coverage, and zero Python
UDFs in reference-parity queries."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from seo_audit_etl_actor_spark.operators import similarity
from seo_audit_etl_actor_spark.plans import audit
from seo_audit_etl_actor_spark.queries import QUERIES
from seo_audit_etl_actor_spark.session import load_table

SPECS = {q.name: q for q in QUERIES}


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select("o_orderkey")
    pushed = audit.pushed_filters(df)
    assert any("o_orderstatus" in f for f in pushed), pushed


def test_column_pruning_two_column_projection(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    cols = audit.read_schema_columns(df)
    assert cols == {"l_orderkey", "l_quantity"}, cols


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    df = SPECS["revenue_by_nation"].fn(spark, sf_dir)
    assert audit.has_broadcast_join(df)


def test_flagship_is_single_pass_no_python(spark, sf_dir):
    df = SPECS["keyword_position_buckets"].fn(spark, sf_dir)
    assert not audit.uses_python_udf(df)
    # AQE defers codegen planning until execution; disable it to make the
    # codegen coverage statically visible
    with audit.aqe_off(spark):
        df2 = SPECS["keyword_position_buckets"].fn(spark, sf_dir)
        assert audit.num_codegen_subtrees(df2) >= 1


@pytest.mark.parametrize(
    "name",
    [
        "keyword_position_buckets",
        "numeric_coercion",
        "status_code_bands",
        "p75_nearest_rank",
        "first_and_collect",
        "coverage_weighted_score",
        "revenue_by_nation",
        "topk_parts_per_brand",
        "asof_join_enrichment",
        "text_stats",
        "exact_dedup_stats",
        "minhash_near_dup",
        "simhash_near_dup",
        "cosine_topk_bruteforce",
    ],
)
def test_no_python_udf_anywhere(spark, sf_dir, name):
    """Engine policy (SURVEY §2.10): native expressions only — a Python
    eval node appearing in any of these plans is a regression."""
    assert not audit.uses_python_udf(SPECS[name].fn(spark, sf_dir))


def test_arrow_udf_is_visible_in_plan(spark, sf_dir):
    """The detector's positive case: every other call site asserts its
    absence, so a broken detector would pass them all vacuously."""
    emb = load_table(spark, sf_dir, "embeddings")
    df = emb.select("vec_id", similarity.lsh_bucket_pandas(8).alias("bucket"))
    assert audit.uses_python_udf(df)


def test_cosine_topk_plans_distributed_topk(spark, sf_dir):
    p = audit.plan_string(SPECS["cosine_topk_bruteforce"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_sessionize_single_data_shuffle(spark, sf_dir):
    """Both window passes and the session aggregate must ride ONE
    hashpartitioning(user_id) exchange — hashpartitioning on a key subset
    satisfies the aggregate's clustered distribution. Extra exchanges here
    would dominate cost on a 100 TB event log."""
    with audit.aqe_off(spark):
        df = SPECS["sessionize_events"].fn(spark, sf_dir)
        # 2 = one hashpartitioning(user_id) + the presentation-order range sort
        assert audit.num_shuffles(df) <= 2, audit.plan_string(df)
        assert "hashpartitioning(user_id" in audit.plan_string(df)


def test_pivot_is_single_pass_conditional_agg(spark, sf_dir):
    """Explicit pivot values must not add a distinct-values JOB (that would
    be a separate collect before planning). The plan itself is two
    aggregate phases — the full-data reduction to (status, priority) pairs,
    then PivotFirst over ~15 rows — plus the presentation sort; only the
    first shuffle scales with data."""
    with audit.aqe_off(spark):
        df = SPECS["pivot_status_priority"].fn(spark, sf_dir)
        assert audit.num_shuffles(df) <= 3, audit.plan_string(df)
        assert not audit.uses_python_udf(df)


def test_above_nation_avg_broadcasts_aggregate(spark, sf_dir):
    assert audit.has_broadcast_join(SPECS["above_nation_avg_balance"].fn(spark, sf_dir))


def test_range_join_is_hash_join_not_nested_loop(spark, sf_dir):
    """The bin-bucketed range join must plan as a broadcast HASH join on
    the bin key (the naive BETWEEN form would be BroadcastNestedLoopJoin —
    O(points x intervals) compares at 100 TB)."""
    df = SPECS["event_promo_windows"].fn(spark, sf_dir)
    p = audit.plan_string(df)
    assert "BroadcastHashJoin" in p, p
    assert "NestedLoop" not in p, p


def test_above_nation_avg_no_nested_loop_or_cartesian(spark, sf_dir):
    """The decorrelated subquery must stay a hash-join rewrite; a Spark
    upgrade silently degrading it to a nested-loop/cartesian plan would be
    an O(n x m) regression at scale."""
    p = audit.plan_string(SPECS["above_nation_avg_balance"].fn(spark, sf_dir))
    assert "NestedLoop" not in p, p
    assert "CartesianProduct" not in p, p


@pytest.mark.parametrize("name", ["cosine_topk_bruteforce", "cosine_topk_ivf"])
def test_cosine_topk_scores_without_nested_loop(spark, sf_dir, name):
    """The query vector enters the scoring scan as literals: a broadcast
    query side would plan a nested-loop or cartesian join and break
    whole-stage codegen for every cosine term."""
    p = audit.plan_string(SPECS[name].fn(spark, sf_dir))
    assert "NestedLoop" not in p, p
    assert "CartesianProduct" not in p, p


def test_prebucketed_ann_prunes_partitions(spark, sf_dir, tmp_path_factory):
    """Persisted-bucket ANN path: the per-query scan must show non-empty
    PartitionFilters (hamming-ball IN list pruned at plan time) and return
    the identical top-k as the self-contained recompute form."""
    emb = load_table(spark, sf_dir, "embeddings")
    lake = str(tmp_path_factory.mktemp("ann") / "corpus")
    similarity.write_lsh_bucketed_corpus(emb, lake)
    corpus = spark.read.parquet(lake)

    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    df = similarity.cosine_topk_lsh_prebucketed(corpus, qvec, query_vec_id=0, k=10)
    pf = audit.partition_filters(df)
    assert pf and any("bucket" in f for f in pf), audit.plan_string(df)

    got = [(r["vec_id"], r["cosine_sim"]) for r in df.collect()]
    want = [
        (r["vec_id"], r["cosine_sim"])
        for r in similarity.cosine_topk_lsh(emb, 0, k=10).collect()
    ]
    assert got == want


def test_contamination_broadcasts_benchmark_side(spark, sf_dir):
    """Decontamination: the benchmark gram set must enter as a broadcast
    LeftSemi hash join — corpus text never shuffles."""
    df = SPECS["contamination_by_source"].fn(spark, sf_dir)
    p = audit.plan_string(df)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    assert not audit.uses_python_udf(df)


def test_vocab_mapping_broadcasts_vocab(spark, sf_dir):
    df = SPECS["vocab_oov_stats"].fn(spark, sf_dir)
    assert audit.has_broadcast_join(df)
    assert not audit.uses_python_udf(df)


def test_cooccurrence_distributed_topk(spark, sf_dir):
    p = audit.plan_string(SPECS["part_cooccurrence"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p


def test_trailing_hour_single_data_shuffle(spark, sf_dir):
    """The RANGE-frame window must ride ONE hashpartitioning(user_id)
    exchange plus the presentation sort."""
    with audit.aqe_off(spark):
        df = SPECS["trailing_hour_value"].fn(spark, sf_dir)
        assert audit.num_shuffles(df) <= 2, audit.plan_string(df)
        assert "hashpartitioning(user_id" in audit.plan_string(df)


def test_tpch_q1_pushes_date_filter_and_prunes(spark, sf_dir):
    df = SPECS["tpch_q1_pricing_summary"].fn(spark, sf_dir)
    assert any("l_shipdate" in f for f in audit.pushed_filters(df))
    assert "l_orderkey" not in audit.read_schema_columns(df)  # pruned


def test_tpch_q3_broadcasts_customer_and_takeordered(spark, sf_dir):
    df = SPECS["tpch_q3_shipping_priority"].fn(spark, sf_dir)
    assert audit.has_broadcast_join(df)
    assert "TakeOrderedAndProject" in audit.plan_string(df)


def test_approx_distinct_prod_plan_has_no_exact_distinct(spark, sf_dir):
    """The production HLL form must plan as one partial+merge aggregate
    pair — no Expand node and no exact count(distinct) double-exchange
    anywhere (that cost is exactly what the prod split removes; the audit
    form approx_distinct_users deliberately keeps it)."""
    prod = SPECS["approx_distinct_users_prod"].fn(spark, sf_dir)
    plan = prod._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    assert "count(distinct" not in plan.lower(), plan
    assert "approx_count_distinct" in plan.lower(), plan
    # audit form is the negative control: it DOES carry the exact distinct
    audit_df = SPECS["approx_distinct_users"].fn(spark, sf_dir)
    audit_plan = audit_df._jdf.queryExecution().executedPlan().toString()
    assert "count(distinct" in audit_plan.lower() or "Expand" in audit_plan


def test_tpch_q18_single_lineitem_scan_and_broadcast(spark, sf_dir):
    """Q18's plan contract: ONE lineitem scan (the HAVING aggregate is
    reused as the output sum — no textbook double scan), big-orders and
    customer broadcast so orders never reshuffles."""
    df = SPECS["tpch_q18_large_volume_customer"].fn(spark, sf_dir)
    plan = audit.plan_string(df)
    assert plan.lower().count("lineitem.parquet") == 1, plan
    assert audit.has_broadcast_join(df)


def test_tpch_q21_single_scan_window_form(spark, sf_dir):
    """Q21's r4 plan contract: the EXISTS/NOT-EXISTS pair is computed as
    per-order collect_set windows over ONE lineitem scan (the textbook
    semi+anti chain re-scanned lineitem 3x — audit-flagged), with the
    supplier⨝nation dimension broadcast."""
    df = SPECS["tpch_q21_waiting_supplier"].fn(spark, sf_dir)
    plan = audit.plan_string(df)
    assert plan.lower().count("lineitem.parquet") == 1, plan
    assert "Window" in plan, plan
    assert audit.has_broadcast_join(df)
    assert not audit.uses_python_udf(df)


def test_tpch_q4_exists_decorrelates_to_semi_join(spark, sf_dir):
    """Q4's correlated EXISTS (with a non-equi lateness predicate) must be
    decorrelated by Catalyst into a left-semi join — a per-row subquery
    re-execution would be a scale killer."""
    plan = audit.plan_string(SPECS["tpch_q4_order_priority"].fn(spark, sf_dir))
    low = plan.lower()
    assert "leftsemi" in low or "left semi" in low, plan


def test_tpch_q5_broadcasts_dims_single_lineitem_scan(spark, sf_dir):
    """Q5's plan contract: one lineitem scan; supplier/nation/region ride
    broadcast hash joins (the co-nation constraint applies map-side)."""
    df = SPECS["tpch_q5_local_supplier_volume"].fn(spark, sf_dir)
    plan = audit.plan_string(df)
    assert plan.lower().count("lineitem.parquet") == 1, plan
    assert audit.has_broadcast_join(df)


def test_tpch_q6_filters_reach_scan(spark, sf_dir):
    """Q6 is the pushdown showcase: shipdate/discount/quantity predicates
    must appear in the parquet scan's PushedFilters."""
    df = SPECS["tpch_q6_forecast_revenue"].fn(spark, sf_dir)
    pushed = " ".join(audit.pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)


def test_tpch_q16_not_in_lowers_to_anti_join(spark, sf_dir):
    plan = audit.plan_string(
        SPECS["tpch_q16_parts_supplier_relationship"].fn(spark, sf_dir)
    )
    low = plan.lower()
    assert "leftanti" in low or "left anti" in low, plan


def test_tpch_q22_not_exists_lowers_to_anti_join(spark, sf_dir):
    plan = audit.plan_string(SPECS["tpch_q22_sales_opportunity"].fn(spark, sf_dir))
    low = plan.lower()
    assert "leftanti" in low or "left anti" in low, plan


@pytest.mark.parametrize(
    "name",
    [
        "gopher_quality_rules",
        "dup_ngram_span_ratio",
        "embedding_quantization_error",
        "embedding_centroid_outliers",
        "tpch_q9_product_type_profit",
        "tpch_q17_small_quantity_revenue",
    ],
)
def test_round4_queries_no_python_udf(spark, sf_dir, name):
    assert not audit.uses_python_udf(SPECS[name].fn(spark, sf_dir))


def test_centroid_outliers_broadcasts_centroid(spark, sf_dir):
    """The (label, dim) centroid frame is tiny — its re-join against the
    exploded vectors must be a broadcast, not a shuffle of the big side."""
    assert audit.has_broadcast_join(SPECS["embedding_centroid_outliers"].fn(spark, sf_dir))


def test_ann_probe_policy_audit_checkpoints_and_broadcasts(spark, sf_dir):
    """r11 probe-policy audit plan: the bucketed frame must be a
    materialized checkpoint (Scan ExistingRDD — the production persisted-
    bucket shape; re-planning the planes x dim literal tree per job is
    what made the first cut 6x slower), every query-side join a broadcast,
    and no Python eval anywhere."""
    df = SPECS["ann_probe_policy_audit"].fn(spark, sf_dir)
    p = audit.plan_string(df)
    assert "ExistingRDD" in p, p[:800]
    assert "BroadcastExchange" in p
    assert not audit.uses_python_udf(df)


@pytest.mark.parametrize("name", ["simhash_fingerprints", "simhash_wide_fingerprints"])
def test_simhash_wide_single_fingerprint_aggregate(spark, sf_dir, name):
    """The lane-packed fingerprint, at 60 and at 120 bits, must stay ONE
    partial/final HashAggregate pair over the token explode (one exchange
    on doc_id), with no Python eval — packing two 32-bit vote counters per
    long (bits/2 + 1 aggregate columns) is an expression-level change, not
    a plan-shape change."""
    df = SPECS[name].fn(spark, sf_dir)
    p = audit.plan_string(df)
    assert not audit.uses_python_udf(df)
    # ensure_parallelism round-robin + the doc_id aggregate + final sort
    assert audit.num_shuffles(df) <= 3, p[:400]
    # one "(n) HashAggregate" node section per aggregate in the formatted plan
    assert len(re.findall(r"^\(\d+\) HashAggregate$", p, re.M)) == 2, p[:1500]
    # the md5 must be materialized ONCE per token in its own projection —
    # both conv() words read hx, not two inlined md5 calls
    assert p.count("md5(") == 1, p[:1500]
