"""Bucketed-join layout: the join of two same-spec bucketed tables must
plan WITHOUT a single Exchange (the write-time shuffle bought us that), and
the result must equal the plain join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seo_audit_etl_actor_spark.operators import bucketing
from seo_audit_etl_actor_spark.plans import audit
from seo_audit_etl_actor_spark.session import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "custkey")
    bucketing.write_bucketed(orders, "orders_b", "custkey", 8, str(wh / "orders_b"))
    bucketing.write_bucketed(cust, "cust_b", "custkey", 8, str(wh / "cust_b"))
    yield "orders_b", "cust_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS cust_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    lt, rt = bucketed_tables
    joined = bucketing.bucketed_join(spark, lt, rt, "custkey")
    # disable AQE for a statically-inspectable plan
    with audit.aqe_off(spark):
        joined2 = bucketing.bucketed_join(spark, lt, rt, "custkey")
        assert audit.num_shuffles(joined2) == 0, audit.plan_string(joined2)
    assert joined.count() > 0


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    lt, rt = bucketed_tables
    got = (
        bucketing.bucketed_join(spark, lt, rt, "custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    want = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
