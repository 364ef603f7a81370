"""Streaming event analytics: the `events` table as an unbounded source.

Design notes for scale:
- the tumbling-window aggregation is the SAME expression tree as the batch
  query (queries/relational.py q_hourly_event_windows) — `readStream` swaps
  the source, Catalyst keeps the plan; state is bounded by the watermark
  (late rows beyond 2 hours are dropped, closed windows are evicted);
- session windows use the native `session_window` gap operator — state per
  active (user, session), closed by watermark, no custom code;
- the per-user running aggregate shows the applyInPandasWithState path for
  semantics Spark lacks natively: Arrow-batched, one state row per user,
  GroupStateTimeout-managed;
- `drain` is the one harness that runs a bounded stream to completion for
  the tests and the stream≡batch differentials: drained rows land in
  per-epoch parquet and stay in Spark.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_event_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over parquet drops (schema must be declared —
    streaming reads cannot infer). max_files_per_trigger caps each
    micro-batch's file intake (mtime order) — availableNow otherwise may
    drain every file in one batch, which would make cross-batch claims
    (e.g. duplicate arrival in a LATER micro-batch) vacuous."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def hourly_event_windows(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows with watermarked state eviction — the
    streaming twin of the batch q_hourly_event_windows."""
    # group by the WINDOW STRUCT, not window.start: projecting start inside
    # the groupBy strips the event-time attribute, and append mode then
    # rejects the aggregation as unwatermarked (closure is undecidable)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def user_sessions(stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessionization via the native session_window operator:
    state is one open session per user, closed (and emitted) when the
    watermark passes the gap."""
    sw = F.session_window(F.col("ts"), gap)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), sw)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


RUNNING_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
    ]
)
RUNNING_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
    ]
)


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): cumulative per-user
    event count + value across micro-batches — semantics a windowed agg
    can't express (state never closes). One Arrow batch per user-group per
    micro-batch; state is two scalars per user."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_OUTPUT_SCHEMA,
        stateStructType=RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_with_dimension(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch broadcast-joins the (small,
    re-read per batch) dimension — the standard streaming enrichment path.
    No state is kept: the static side is planned as a broadcast per batch,
    so a 1000-executor stream pays one dimension broadcast per trigger,
    never a stateful join."""
    from pyspark.sql import functions as F

    return stream.join(F.broadcast(dim), "user_id", "left")


def dedup_event_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id with bounded state:
    dropDuplicatesWithinWatermark evicts seen-keys older than the
    watermark, so state is O(events per watermark window) instead of
    O(all events ever) — the streaming twin of the batch exact-dedup
    operators (operators/dedup.py)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def drain(query_df: DataFrame, work_dir: str, output_mode: str = "append") -> DataFrame:
    """Drain a bounded stream with availableNow and return everything it
    emitted as a batch DataFrame — the one harness behind every
    stream≡batch differential and streaming test.

    Each micro-batch is written to `work_dir/rows/_epoch=<id>` as parquet,
    so drained rows stay in Spark (driver memory is O(1) in output size)
    and a replayed epoch overwrites its own directory (idempotent sink).
    The result is the stream's columns plus `_epoch` (bigint); `rows/` is
    created up front and read with a declared schema, so an empty drain is
    a 0-row frame, not a schema-inference error. The checkpoint lives in
    `work_dir/ck`: a second call on the same `work_dir` resumes from it,
    and returns the rows of both calls (epoch ids keep counting).

    The drain runs with 8 shuffle partitions, restored afterwards.
    `spark.sql.shuffle.partitions` at first-checkpoint time fixes the
    number of state-store instances for the query's life; the bounded
    feeds here are a few MB, so the session default (32) buys nothing but
    32 per-operator checkpoint directories' worth of fsync per micro-batch
    — the dominant cost of a warm drain. At production scale the setting
    goes UP with load instead."""
    spark = query_df.sparkSession
    rows = os.path.join(work_dir, "rows")
    os.makedirs(rows, exist_ok=True)

    def sink(batch_df: DataFrame, epoch: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(rows, f"_epoch={epoch}"))

    conf = spark.conf
    old = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (
            query_df.writeStream.foreachBatch(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", os.path.join(work_dir, "ck"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        conf.set("spark.sql.shuffle.partitions", old)
    schema = T.StructType(query_df.schema.fields + [T.StructField("_epoch", T.LongType())])
    return spark.read.schema(schema).parquet(rows)


def purchase_view_attribution(
    stream: DataFrame, watermark: str = "2 hours", lookback: str = "1 hour"
) -> DataFrame:
    """Stream-STREAM interval join (the §2.9 two-unbounded-sides case):
    each purchase joined to the same user's view events in the trailing
    `lookback` interval — streaming last-touch attribution.

    Both sides carry a watermark and the join condition bounds view_ts to
    [purchase_ts - lookback, purchase_ts], so Spark can evict buffered rows
    once the watermark passes the interval — state is O(events per
    lookback window per side), never unbounded. Inner join: purchases with
    no prior view emit nothing (the outer variant would need the watermark
    to close before emitting nulls)."""
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    views = (
        stream.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    return purchases.join(
        views,
        (F.col("user_id") == F.col("view_user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}")),
        "inner",
    ).select("purchase_id", "user_id", "purchase_ts", "purchase_value", "view_id", "view_ts")
