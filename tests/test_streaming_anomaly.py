"""Streaming anomaly monitor vs the batch z-score query (the streaming
analog of the oracle-differential strategy, SURVEY §5.2): draining an
hour-aligned event stream must reproduce `event_rate_anomalies`' rows
exactly for every hour the stream closes.

Files are cut at hour boundaries so stream closure (an hour closes when a
later hour appears for that type) matches the batch semantics with zero
late data; per type, the final hour never closes, so the expected set is
the batch output minus each type's last hour."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seo_audit_etl_actor_spark.queries.events_ext import q_event_rate_anomalies
from seo_audit_etl_actor_spark.session import load_table
from seo_audit_etl_actor_spark.streaming import anomaly as sa
from seo_audit_etl_actor_spark.streaming.events import drain


@pytest.fixture(scope="module")
def event_stream_dir(spark, sf_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("event_stream_flat")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour_id", F.floor(F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long")
    )
    lo, hi = ev.agg(F.min("hour_id"), F.max("hour_id")).first()
    cut1 = lo + (hi - lo) // 3
    cut2 = lo + 2 * (hi - lo) // 3
    import shutil

    for i, pred in enumerate(
        [
            F.col("hour_id") <= cut1,
            (F.col("hour_id") > cut1) & (F.col("hour_id") <= cut2),
            F.col("hour_id") > cut2,
        ]
    ):
        tmp = tmp_path_factory.mktemp(f"ev_part{i}")
        ev.where(pred).drop("hour_id").coalesce(1).write.mode("overwrite").parquet(str(tmp))
        for j, p in enumerate(sorted(tmp.glob("*.parquet"))):
            shutil.copy(p, out / f"part-{i:02d}{j:02d}.parquet")
    return str(out)


def test_stream_anomalies_match_batch(spark, sf_dir, event_stream_dir, tmp_path):
    stream = sa.monitor_event_rates(sa.read_event_stream(spark, event_stream_dir))
    collected = [tuple(r) for r in drain(stream, str(tmp_path)).drop("_epoch").collect()]

    batch = q_event_rate_anomalies(spark, sf_dir)
    hour_id = F.floor(F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long")
    last_hours = {
        r["event_type"]: r["mx"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.max(hour_id).alias("mx"))
        .collect()
    }
    expected = sorted(
        tuple(r)
        for r in batch.collect()
        if r["hour_id"] < last_hours[r["event_type"]]
    )
    got = sorted(collected)
    assert len(got) == len(expected)
    assert got == expected


def test_stream_resumes_from_state(spark, sf_dir, event_stream_dir, tmp_path):
    """Draining the same directory in TWO runs over a shared checkpoint
    must produce the same union of rows as one run (state carries the
    trailing baseline across restarts)."""
    # run 1: only the first file visible
    import shutil
    from pathlib import Path

    staged = tmp_path / "staged"
    staged.mkdir()
    parts = sorted(Path(event_stream_dir).glob("part-*.parquet"))
    shutil.copy(parts[0], staged / parts[0].name)

    def run():
        stream = sa.monitor_event_rates(sa.read_event_stream(spark, str(staged)))
        return drain(stream, str(tmp_path / "drain")).drop("_epoch").collect()

    first = [tuple(r) for r in run()]
    for p in parts[1:]:
        shutil.copy(p, staged / p.name)
    # the second drain resumes from the checkpoint and returns the rows of
    # both runs
    both = [tuple(r) for r in run()]

    batch = q_event_rate_anomalies(spark, sf_dir)
    hour_id = F.floor(F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long")
    last_hours = {
        r["event_type"]: r["mx"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.max(hour_id).alias("mx"))
        .collect()
    }
    expected = sorted(
        tuple(r)
        for r in batch.collect()
        if r["hour_id"] < last_hours[r["event_type"]]
    )
    assert set(first) <= set(both)
    assert sorted(both) == expected
