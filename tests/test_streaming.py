"""Streaming surface tests: each streaming query drains a bounded file
stream (availableNow) and must agree with the equivalent batch computation
over the same rows — the streaming analog of the oracle-differential
strategy (SURVEY §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seo_audit_etl_actor_spark.session import load_table
from seo_audit_etl_actor_spark.streaming import events as se


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir, tmp_path_factory):
    """Re-materialize events as micros-timestamp parquet drops (the raw
    testdata is TIMESTAMP(NANOS), which streaming schema enforcement
    rejects); two files ≈ two micro-batches."""
    out = tmp_path_factory.mktemp("event_stream")
    load_table(spark, sf_dir, "events").repartition(2).write.mode("overwrite").parquet(str(out))
    return str(out)


def _batch(spark, event_dir):
    return spark.read.schema(se.EVENTS_SCHEMA).parquet(event_dir)


def test_drain_of_empty_feed_is_an_empty_frame(spark, tmp_path):
    """An empty feed drains to 0 rows with the stream's schema plus
    `_epoch` — not a schema-inference error on an empty rows dir."""
    feed = tmp_path / "feed"
    feed.mkdir()
    got = se.drain(se.read_event_stream(spark, str(feed)), str(tmp_path / "drain"))
    assert got.schema == T.StructType(
        se.EVENTS_SCHEMA.fields + [T.StructField("_epoch", T.LongType())]
    )
    assert got.count() == 0


def test_hourly_windows_match_batch(spark, event_dir, tmp_path):
    stream = se.read_event_stream(spark, event_dir)
    got = se.drain(
        se.hourly_event_windows(stream), str(tmp_path / "drain"), output_mode="complete"
    ).collect()
    batch = (
        _batch(spark, event_dir)
        .groupBy(F.window("ts", "1 hour")["start"].alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .collect()
    )
    key = lambda r: (r["hour"], r["event_type"])
    got_map = {key(r): (r["n_events"], r["total_value"]) for r in got}
    want_map = {key(r): (r["n_events"], r["total_value"]) for r in batch}
    assert got_map == want_map


def test_sessionization_matches_batch(spark, event_dir, tmp_path):
    stream = se.read_event_stream(spark, event_dir)
    got = se.drain(
        se.user_sessions(stream), str(tmp_path / "drain"), output_mode="complete"
    ).collect()
    batch = (
        _batch(spark, event_dir)
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    assert len(got) == len(batch)
    assert sum(r["n_events"] for r in got) == _batch(spark, event_dir).count()


def test_running_user_totals_state(spark, event_dir, tmp_path):
    stream = se.read_event_stream(spark, event_dir)
    got = se.drain(
        se.running_user_totals(stream), str(tmp_path / "drain"), output_mode="update"
    ).collect()
    # last emission per user must equal the batch cumulative totals
    final: dict[int, tuple] = {}
    for r in got:
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = (
        _batch(spark, event_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("tv"),
        )
        .collect()
    )
    assert len(final) == len(batch)
    for r in batch:
        n, tv = final[r["user_id"]]
        assert n == r["n"]
        assert tv == pytest.approx(r["tv"], rel=1e-9)


def test_stream_static_enrichment(spark, event_dir, tmp_path):
    """Stream-static broadcast join: every event picks up its user's
    segment from the static dimension; row count is preserved (left join)."""
    batch = _batch(spark, event_dir)
    dim = (
        batch.select("user_id")
        .distinct()
        .withColumn("segment", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"))
    )
    stream = se.read_event_stream(spark, event_dir)
    got = se.drain(se.enrich_with_dimension(stream, dim), str(tmp_path / "drain")).collect()
    assert len(got) == batch.count()
    assert all(r["segment"] == ("even" if r["user_id"] % 2 == 0 else "odd") for r in got)


def test_streaming_dedup_within_watermark(spark, event_dir, tmp_path):
    """Duplicated input stream → dropDuplicatesWithinWatermark keeps one
    row per event_id (all test data fits inside one watermark window)."""
    doubled = str(tmp_path / "doubled")
    b = _batch(spark, event_dir)
    b.unionAll(b).repartition(2).write.mode("overwrite").parquet(doubled)
    stream = se.read_event_stream(spark, doubled)
    got = se.drain(se.dedup_event_stream(stream), str(tmp_path / "drain")).collect()
    assert len(got) == b.count()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids))


def test_batch_sessionize_matches_streaming_session_count(spark, event_dir, tmp_path):
    """The batch gap-sessionization (queries/reshape.py) and the native
    streaming session_window must carve identical session boundaries
    (verified no exact-gap ties exist in the test data, where the two
    definitions could legally differ: batch splits on gap > 30min,
    session_window on gap >= 30min over half-open intervals)."""
    from seo_audit_etl_actor_spark.queries.reshape import q_sessionize_events

    stream = se.read_event_stream(spark, event_dir)
    got = se.drain(
        se.user_sessions(stream), str(tmp_path / "drain"), output_mode="complete"
    ).collect()
    import os
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    batch_sessions = q_sessionize_events(spark, sf_dir).collect()
    assert len(got) == len(batch_sessions)
    got_counts = sorted((r["user_id"], r["n_events"]) for r in got)
    batch_counts = sorted((r["user_id"], r["n_events"]) for r in batch_sessions)
    assert got_counts == batch_counts


def test_stream_stream_interval_join_matches_batch(spark, event_dir, tmp_path):
    """purchase_view_attribution (stream-stream interval join) must emit
    exactly the pairs the equivalent batch self-join produces."""
    stream = se.read_event_stream(spark, event_dir)
    out = se.drain(se.purchase_view_attribution(stream), str(tmp_path / "drain")).collect()
    got = sorted((r["purchase_id"], r["view_id"]) for r in out)

    b = _batch(spark, event_dir)
    p = b.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    v = b.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("user_id").alias("vu"), F.col("ts").alias("vts")
    )
    want = sorted(
        (r["purchase_id"], r["view_id"])
        for r in p.join(
            v,
            (F.col("user_id") == F.col("vu"))
            & (F.col("vts") <= F.col("pts"))
            & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    )
    assert got == want and len(got) > 0
