"""Stream≡batch differentials: nine catalog queries, each of which drains
one streaming operator over a BOUNDED file feed cut from a table and
emits a one-row summary the DuckDB oracle predicts from the batch SQL
alone — the streaming analog of the oracle-differential strategy
(SURVEY §5.2), condensed to oracle-checkable BIGINTs.

All nine share one harness:

- feed: `_cut_feed` writes the table as 3 parquet files over ascending
  key ranges (event hour or doc_id) with pinned arrival order, so
  micro-batches arrive in key order with zero late data — the
  configuration under which stream closure ≡ batch semantics. It is a
  session-cached fixture shared by every differential on the same table
  and user sample;
- drain: `streaming/events.py::drain` writes each micro-batch to
  per-epoch parquet in a per-call temp dir and returns the drained rows
  as a DataFrame;
- compare: one Spark aggregate gives the summary and the
  `stream_equals_batch` flag — `_compare` for a batch twin, `_latest`
  first for operators that re-emit their current value per key;
- `_summary` hands the scalars back as a one-row Arrow-backed frame.

Only scalars reach the driver (`.first()`): driver memory is O(1) in the
drained output at any corpus size. Double values are compared
cents-quantized with `F.round(x * 100)` — HALF_UP, like the oracle's
ROUND.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from seo_audit_etl_actor_spark import fixture_cache as fc
from seo_audit_etl_actor_spark.queries.events_ext import (
    SQL_EVENT_RATE_ANOMALIES,
    q_event_rate_anomalies,
)
from seo_audit_etl_actor_spark.session import load_table
from seo_audit_etl_actor_spark.streaming import events as se


def _hour_id() -> Column:
    return F.floor(F.unix_micros("ts") / F.lit(3_600_000_000))


def _cents(c: Column) -> Column:
    return F.round(c * 100).cast("long")


def _write_cut_feed(df: DataFrame, key: Column, out_dir: str) -> None:
    """Write `df` as 3 parquet files over ascending `key` ranges, file
    names and arrival order ascending with the range, so micro-batch
    arrival order matches key order: zero late data for event-time
    operators, and first-arrival keep-first dedup coincides with the
    batch funnel's min-doc_id keep-first. An empty `df` gives ONE empty
    parquet file, so the file-source stream still sees a schema'd feed
    and the drain yields zero rows."""
    lo, hi = df.agg(F.min(key), F.max(key)).first()
    if lo is None:
        cuts = [df.limit(0)]
    else:
        cut1 = lo + (hi - lo) // 3
        cut2 = lo + 2 * (hi - lo) // 3
        cuts = [
            df.where(key <= cut1),
            df.where((key > cut1) & (key <= cut2)),
            df.where(key > cut2),
        ]
    for i, cut in enumerate(cuts):
        tmp = f"{out_dir}.part{i}"
        cut.coalesce(1).write.mode("overwrite").parquet(tmp)
        for j, p in enumerate(sorted(glob.glob(f"{tmp}/*.parquet"))):
            shutil.copy(p, f"{out_dir}/part-{i:02d}{j:02d}.parquet")
        shutil.rmtree(tmp, ignore_errors=True)
    _stamp_feed_order(out_dir)


def _stamp_feed_order(out_dir: str) -> None:
    """Pin the feed's micro-batch arrival order: the file source orders by
    modification time at MILLISECOND granularity, so files written
    back-to-back tie and the order becomes arbitrary — a late cut leading
    would advance the watermark and late-drop earlier cuts wholesale
    (measured on the dedup differential's feed: 858 rows lost). Distinct
    whole-second stamps in filename (= cut) order make arrival match
    event-time order deterministically."""
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    base = time.time() - 3600
    for k, p in enumerate(parts):
        os.utime(p, (base + k, base + k))


def _cut_feed(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    user_mod: int | None = None,
    df: DataFrame | None = None,
) -> str:
    """Session-cached cut feed of `table`: events cut by event hour,
    documents by doc_id. One build per (table fingerprint, user_mod) per
    session serves every differential; read-only for consumers,
    checkpoints stay per-drain. `df` is only read on a cache miss — pass
    a persisted frame so the build shares its scan.

    user_mod: keep only user_id % user_mod == 0 — a deterministic user
    sample for differentials whose semantics are PER-USER: every kept
    user's event history is complete, so the operator sees identical
    semantics at a fraction of the state/feed cost."""

    def build(out_dir: str) -> None:
        src = load_table(spark, sf_dir, table) if df is None else df
        if user_mod is not None:
            src = src.where(F.col("user_id") % user_mod == 0)
        key = F.col("doc_id") if table == "documents" else _hour_id()
        _write_cut_feed(src, key, out_dir)

    return fc.cached_dir(("cut_feed", fc.table_fingerprint(sf_dir, table), user_mod), build)


def _work_dir() -> tempfile.TemporaryDirectory:
    """Per-call scratch for the checkpoint and the drained rows."""
    return tempfile.TemporaryDirectory(prefix="spark_graft_stream_", ignore_cleanup_errors=True)


def _compare(got: DataFrame, want: DataFrame, **aggs: Column) -> DataFrame:
    """The summary of a differential with a batch twin: compare the
    drained rows with the twin as multisets in ONE shuffle and summarize
    them in the same aggregate. Each side is tagged (`_g` = 1 on a stream
    row, `_w` = 1 on a batch row) and grouped by all of `got`'s columns,
    so a group's `_g`/`_w` are its multiplicities on each side. `aggs`
    run over the groups weighted by `_g`, so they summarize the stream
    side; `stream_equals_batch` is 1 when no group has `_g != _w`. (Two
    `exceptAll` calls would shuffle both sides twice.)"""
    cols = got.columns

    def tagged(df: DataFrame, g: int) -> DataFrame:
        return df.select(*cols, F.lit(g).alias("_g"), F.lit(1 - g).alias("_w"))

    groups = (
        tagged(got, 1)
        .unionByName(tagged(want, 0))
        .groupBy(*cols)
        .agg(F.sum("_g").alias("_g"), F.sum("_w").alias("_w"))
    )
    differ = F.coalesce(F.max((F.col("_g") != F.col("_w")).cast("long")), F.lit(0))
    row = groups.agg(
        *(F.coalesce(a, F.lit(0)).alias(k) for k, a in aggs.items()),
        (1 - differ).alias("stream_equals_batch"),
    ).first()
    return _summary(got.sparkSession, row.asDict())


def _latest(got: DataFrame, key: str) -> DataFrame:
    """The rows of each `key`'s highest `_epoch`: the final value of an
    operator that re-emits its current state for a key in every
    micro-batch the key appears in (update-mode running totals,
    per-bucket Misra-Gries summaries)."""
    last = F.max("_epoch").over(Window.partitionBy(key))
    got = got.withColumn("_last", last)
    return got.where(F.col("_epoch") == F.col("_last")).drop("_epoch", "_last")


def _summary(spark: SparkSession, row: dict) -> DataFrame:
    """The differential's result row, every column int64, handed to Spark
    as an Arrow table: a JVM LocalRelation, so no job over it starts a
    Python worker."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({k: pa.array([int(v)], pa.int64()) for k, v in row.items()})
    )


def _g_sum(c: Column) -> Column:
    """Sum of `c` over the stream side of `_compare`'s groups."""
    return F.sum(c * F.col("_g"))


def _g_distinct(c: str) -> Column:
    """Distinct values of `c` on the stream side of `_compare`'s groups."""
    return F.count_distinct(F.when(F.col("_g") > 0, F.col(c)))


# ---------------------------------------------------- anomaly monitor (r5)


def q_streaming_anomaly_differential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream≡batch differential for the rate-anomaly monitor
    (streaming/anomaly.py, applyInPandasWithState). The monitor closes an
    hour when a strictly later hour appears for that type, so draining the
    hour-cut feed reproduces the batch `event_rate_anomalies` rows for
    every hour except each type's final (never-closed) one — the same
    differential the local test asserts (tests/test_streaming_anomaly.py).
    Summary: closed-row count, anomaly count, an event-count checksum,
    and the equality flag over full rows.

    Scale: the monitor's state is O(trailing window) longs per event_type
    (low cardinality); each micro-batch pre-aggregates to one row per
    (type, hour) before the stateful stage, so the drained rows are
    hours × types at any corpus size."""
    from seo_audit_etl_actor_spark.streaming import anomaly as sa

    with _work_dir() as work:
        feed = _cut_feed(spark, sf_dir, "events")
        got = se.drain(sa.monitor_event_rates(sa.read_event_stream(spark, feed)), work)
        events = load_table(spark, sf_dir, "events")
        last = events.groupBy("event_type").agg(F.max(_hour_id()).alias("_mx"))
        want = (
            q_event_rate_anomalies(spark, sf_dir)
            .join(last, "event_type")
            .where(F.col("hour_id") < F.col("_mx"))
        )
        return _compare(
            got.drop("_epoch"),
            want,
            n_closed_rows=F.sum("_g"),
            n_anomalies=F.sum(F.when(F.col("is_anomaly"), F.col("_g"))),
            sum_events=_g_sum(F.col("n_events")),
        )


SQL_STREAMING_ANOMALY_DIFFERENTIAL = f"""
WITH batch AS ({SQL_EVENT_RATE_ANOMALIES}),
last_h AS (
  SELECT event_type,
         MAX(CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT)) AS mx
  FROM events GROUP BY event_type
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_closed_rows,
       CAST(COALESCE(SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_anomalies,
       CAST(COALESCE(SUM(n_events), 0) AS BIGINT) AS sum_events,
       CAST(1 AS BIGINT) AS stream_equals_batch
FROM batch JOIN last_h USING (event_type)
WHERE batch.hour_id < last_h.mx
"""


# ------------------------------------------- curation differential (r7)


def q_streaming_curation_differential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible oracle for the streaming curation funnel: drain
    `streaming/curation.py` over the doc_id-cut feed of the documents
    table, group the drained verdicts per (source, stage) and compare
    them with the batch funnel (`operators/curation.py`). Summary: total
    docs, per-stage counts, kept-token total, and a flag that the stream
    reproduced the batch funnel EXACTLY, including every duplicate
    verdict across micro-batch boundaries. The oracle states the numbers
    from the batch funnel SQL alone; the flag is pinned 1.

    Scale: the stateful stage holds one 16-byte first-seen flag per
    distinct fingerprint (evictable via state timeout at 100 TB); all
    stateless gates are the batch funnel's own codegen'd expressions."""
    from seo_audit_etl_actor_spark.operators.curation import curation_funnel
    from seo_audit_etl_actor_spark.streaming import curation as sc

    # one cached scan serves the (cache-miss) feed build and the batch
    # twin; the stream side still reads the FEED files, as it must
    docs = load_table(spark, sf_dir, "documents").persist()
    try:
        with _work_dir() as work:
            feed = _cut_feed(spark, sf_dir, "documents", df=docs)
            got = (
                se.drain(sc.curate_document_stream(sc.read_document_stream(spark, feed)), work)
                .groupBy("source", "stage")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_tokens").cast("long").alias("total_tokens"),
                )
            )

            def stage(name: str, c: str = "n_docs") -> Column:
                return _g_sum(F.when(F.col("stage") == name, F.col(c)))

            return _compare(
                got,
                curation_funnel(docs),
                n_docs=_g_sum(F.col("n_docs")),
                n_kept=stage("kept"),
                n_duplicate=stage("duplicate"),
                n_lang_filter=stage("lang_filter"),
                n_too_short=stage("too_short"),
                n_low_quality=stage("low_quality"),
                kept_tokens=stage("kept", "total_tokens"),
            )
    finally:
        docs.unpersist()


def _sql_streaming_curation_differential() -> str:
    from seo_audit_etl_actor_spark.queries.llm_ext import SQL_CURATION_FUNNEL

    return f"""
WITH funnel AS ({SQL_CURATION_FUNNEL})
SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(CASE WHEN stage = 'kept' THEN n_docs END), 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(CASE WHEN stage = 'duplicate' THEN n_docs END), 0) AS BIGINT) AS n_duplicate,
       CAST(COALESCE(SUM(CASE WHEN stage = 'lang_filter' THEN n_docs END), 0) AS BIGINT) AS n_lang_filter,
       CAST(COALESCE(SUM(CASE WHEN stage = 'too_short' THEN n_docs END), 0) AS BIGINT) AS n_too_short,
       CAST(COALESCE(SUM(CASE WHEN stage = 'low_quality' THEN n_docs END), 0) AS BIGINT) AS n_low_quality,
       CAST(COALESCE(SUM(CASE WHEN stage = 'kept' THEN total_tokens END), 0) AS BIGINT) AS kept_tokens,
       CAST(1 AS BIGINT) AS stream_equals_batch
FROM funnel
"""


SQL_STREAMING_CURATION_DIFFERENTIAL = _sql_streaming_curation_differential()


# ---------------------------------------- heavy-hitters differential (r7)


def q_streaming_heavyhitters_differential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible oracle for the streaming Misra-Gries heavy hitters:
    drain `streaming/heavyhitters.py` over the doc_id-cut feed, keep each
    bucket's last summary, then verify the MG guarantee differentially
    against the exact batch token counts IN SPARK (one join of the
    O(buckets × k) summary rows to the exact counts):

      - containment: every token with true_count * k > N appears in the
        drained summary (`heavy_covered` = 1);
      - bounds: every summarized token satisfies
        lower ≤ true_count ≤ lower + decrements(bucket) (`bounds_ok` = 1).

    The oracle predicts N, the true-heavy count, and their occurrence sum
    from the batch tokenizer SQL; the two flags are pinned 1. The summary
    CONTENT beyond the guarantee is arrival-order-defined, so it stays out
    of the hashed row — the guarantee, not the sketch, is the contract
    (the approx_distinct_users discipline).

    Scale: state is O(k) longs per bucket forever; buckets give the
    stateful stage its parallelism — the bounded-state discipline an exact
    streaming groupBy(token) cannot offer at 100 TB."""
    from seo_audit_etl_actor_spark.operators.text import tokens
    from seo_audit_etl_actor_spark.queries.scale_ext import HH_K
    from seo_audit_etl_actor_spark.streaming import heavyhitters as hh

    docs = load_table(spark, sf_dir, "documents").persist()
    # O(vocab) rows read by two actions (the total, then the summary join)
    exact = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    try:
        with _work_dir() as work:
            feed = _cut_feed(spark, sf_dir, "documents", df=docs)
            summaries = hh.stream_heavy_hitters(hh.read_document_stream(spark, feed), HH_K)
            summary = _latest(se.drain(summaries, work), "bucket")
            n_total = exact.agg(F.sum("cnt")).first()[0] or 0
            cnt, lower = F.col("cnt"), F.col("lower")
            heavy = cnt * HH_K > F.lit(n_total)
            out_of_bounds = lower.isNotNull() & (
                cnt.isNull() | (cnt < lower) | (cnt > lower + F.col("decrements"))
            )
            row = (
                exact.join(summary, "token", "full_outer")
                .agg(
                    F.count(F.when(heavy, 1)).alias("n_true_heavy"),
                    F.coalesce(F.sum(F.when(heavy, cnt)), F.lit(0)).alias("sum_heavy_occurrences"),
                    (F.count(F.when(heavy & lower.isNull(), 1)) == 0).alias("heavy_covered"),
                    (F.count(F.when(out_of_bounds, 1)) == 0).alias("bounds_ok"),
                )
                .first()
            )
            return _summary(spark, {"total_occurrences": n_total, **row.asDict()})
    finally:
        exact.unpersist()
        docs.unpersist()


def _sql_streaming_heavyhitters_differential() -> str:
    from seo_audit_etl_actor_spark.queries.llm_ext import _TOKS
    from seo_audit_etl_actor_spark.queries.scale_ext import HH_K

    return f"""
WITH ex AS (SELECT unnest({_TOKS.format(c='text')}) AS token FROM documents),
cf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM ex GROUP BY token),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ex)
SELECT (SELECT n FROM tot) AS total_occurrences,
       CAST(COUNT(*) AS BIGINT) AS n_true_heavy,
       CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS sum_heavy_occurrences,
       CAST(1 AS BIGINT) AS heavy_covered,
       CAST(1 AS BIGINT) AS bounds_ok
FROM cf, tot
WHERE cnt * {HH_K} > n
"""


SQL_STREAMING_HEAVYHITTERS_DIFFERENTIAL = _sql_streaming_heavyhitters_differential()


# ------------------------------------------- native session_window (r9)

SESSIONS_MOD = 4  # deterministic user sample: user_id % 4 == 0


def _sampled_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").where(F.col("user_id") % SESSIONS_MOD == 0)


def q_streaming_sessions_differential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream≡batch differential for the NATIVE session_window operator
    (streaming/events.py::user_sessions). The events table is cut into
    an hour-ordered bounded feed (ascending event-time micro-batches,
    zero late data), sessionized with `session_window(ts, 30 minutes)`
    under a 0-second watermark in append mode, and drained.

    Closure semantics (probed, then pinned here and in the oracle): with
    delay 0 the final watermark is the corpus max(ts), and append mode
    emits exactly the sessions whose window end — last event + gap —
    is <= that watermark. So the expected set is the BATCH sessionize
    (queries/reshape.py, the `sessionize_events` catalog query) filtered
    to session_end + gap <= max(ts): every session but each user's
    never-closed last one near the corpus end. Boundary note: the native
    operator splits on gap >= G ([t, t+G) ranges don't overlap at
    exactly G) while the batch lag-rule splits on gap > G; microsecond
    timestamps make exact-G gaps measure-zero, verified zero at all
    driver SFs.

    stream_equals_batch compares full row tuples (user, start, end,
    n_events, cents-quantized value) — the sums alone could mask
    compensating errors.

    The feed keeps a deterministic user sample (user_id % SESSIONS_MOD
    == 0, same predicate in the oracle): sessionization is per-user, so
    every kept user's history is complete and the operator semantics are
    identical, at a quarter of the state/feed/compare cost — the audit
    is about closure semantics, not corpus coverage. The closure
    predicate's max(ts) is the SAMPLED corpus max, because that is what
    the stream's watermark tracks.

    Scale: session_window state is one open session per active user,
    evicted at watermark; the feed build is two passes over events.
    """
    from seo_audit_etl_actor_spark.queries.reshape import SESSION_GAP_MIN, sessionize

    with _work_dir() as work:
        feed = _cut_feed(spark, sf_dir, "events", user_mod=SESSIONS_MOD)
        stream = se.read_event_stream(spark, feed)
        gap = f"{SESSION_GAP_MIN} minutes"
        got = se.drain(se.user_sessions(stream, gap=gap, watermark="0 seconds"), work)
        ev = _sampled_events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
        end = F.col("session_end") + F.expr(f"INTERVAL {SESSION_GAP_MIN} MINUTES")
        want = (
            sessionize(ev)
            .crossJoin(ev.agg(F.max("ts").alias("_mx")))
            .where(end <= F.col("_mx"))
            .withColumn("session_end", end)
        )
        cents = _cents(F.col("session_value")).alias("cents")
        cols = ["user_id", "session_start", "session_end", "n_events", cents]
        return _compare(
            got.select(*cols),
            want.select(*cols),
            n_closed_sessions=F.sum("_g"),
            n_multi_event_sessions=F.sum(F.when(F.col("n_events") > 1, F.col("_g"))),
            sum_events=_g_sum(F.col("n_events")),
            value_cents=_g_sum(F.col("cents")),
        )


def _sql_streaming_sessions_differential() -> str:
    from seo_audit_etl_actor_spark.queries.reshape import (
        SESSION_GAP_MIN,
        SQL_SESSIONIZE_EVENTS,
    )

    batch_sampled = SQL_SESSIONIZE_EVENTS.replace(
        "FROM events", f"FROM events WHERE user_id % {SESSIONS_MOD} = 0"
    )
    return f"""
WITH batch AS ({batch_sampled}),
mx AS (SELECT MAX(ts) AS mts FROM events WHERE user_id % {SESSIONS_MOD} = 0),
closed AS (
  SELECT b.* FROM batch b, mx
  WHERE epoch_us(b.session_end) + {SESSION_GAP_MIN} * 60 * 1000000 <= epoch_us(mx.mts)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_closed_sessions,
       CAST(SUM(CASE WHEN n_events > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_event_sessions,
       CAST(SUM(n_events) AS BIGINT) AS sum_events,
       CAST(SUM(CAST(ROUND(session_value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(1 AS BIGINT) AS stream_equals_batch
FROM closed
"""


SQL_STREAMING_SESSIONS_DIFFERENTIAL = _sql_streaming_sessions_differential()


# --------------------------------------- stream-stream interval join (r9)

ATTR_LOOKBACK_MIN = 60


def q_streaming_attribution_differential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream≡batch differential for the stream-STREAM interval join
    (streaming/events.py::purchase_view_attribution) — §2.9's
    two-unbounded-sides case: each purchase inner-joined to the same
    user's view events in the trailing hour, both sides watermarked so
    buffered state evicts.

    Inner-join emission needs no watermark closure — a pair emits in the
    micro-batch where both sides are present — and the 2-hour watermark
    delay exceeds the 1-hour lookback, so on the hour-ordered feed no
    view is evicted before its last possible purchase arrives. The
    bounded drain therefore emits EXACTLY the batch interval join, with
    no never-closed tail (probed at sf0.01: 40 = 40 pairs; asserted per
    run by stream_equals_batch over full pair tuples).

    The feed keeps the same deterministic user sample as the sessions
    differential (user_id % SESSIONS_MOD == 0, mirrored in the oracle):
    the join key is user_id, so per-user join semantics are complete.

    Scale: state is O(events per lookback window per side) — watermark
    eviction keeps both buffers bounded regardless of corpus size.
    """
    with _work_dir() as work:
        feed = _cut_feed(spark, sf_dir, "events", user_mod=SESSIONS_MOD)
        stream = se.read_event_stream(spark, feed)
        lookback = f"{ATTR_LOOKBACK_MIN} minutes"
        got = se.drain(
            se.purchase_view_attribution(stream, watermark="2 hours", lookback=lookback), work
        )
        ev = _sampled_events(spark, sf_dir)
        p = ev.where(F.col("event_type") == "purchase").selectExpr(
            "event_id AS purchase_id", "user_id", "ts AS purchase_ts", "value AS purchase_value"
        )
        v = ev.where(F.col("event_type") == "view").selectExpr(
            "event_id AS view_id", "user_id AS vu", "ts AS view_ts"
        )
        want = p.join(
            v,
            (F.col("user_id") == F.col("vu"))
            & (F.col("view_ts") <= F.col("purchase_ts"))
            & (
                F.col("view_ts")
                >= F.col("purchase_ts") - F.expr(f"INTERVAL {ATTR_LOOKBACK_MIN} MINUTES")
            ),
            "inner",
        )
        cents = _cents(F.coalesce(F.col("purchase_value"), F.lit(0.0))).alias("cents")
        cols = ["purchase_id", "view_id", "user_id", "purchase_ts", "view_ts", cents]
        return _compare(
            got.select(*cols),
            want.select(*cols),
            n_pairs=F.sum("_g"),
            n_attributed_purchases=_g_distinct("purchase_id"),
            n_touching_views=_g_distinct("view_id"),
            pair_value_cents=_g_sum(F.col("cents")),
        )


def _sql_streaming_attribution_differential() -> str:
    return f"""
WITH ev AS (SELECT * FROM events WHERE user_id % {SESSIONS_MOD} = 0),
p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, value AS purchase_value
      FROM ev WHERE event_type = 'purchase'),
v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
      FROM ev WHERE event_type = 'view'),
pairs AS (
  SELECT p.purchase_id, v.view_id, p.purchase_value
  FROM p JOIN v ON p.user_id = v.user_id
   AND v.view_ts <= p.purchase_ts
   AND v.view_ts >= p.purchase_ts - INTERVAL {ATTR_LOOKBACK_MIN} MINUTES
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_attributed_purchases,
       CAST(COUNT(DISTINCT view_id) AS BIGINT) AS n_touching_views,
       CAST(COALESCE(SUM(CAST(ROUND(purchase_value * 100) AS BIGINT)), 0) AS BIGINT) AS pair_value_cents,
       CAST(1 AS BIGINT) AS stream_equals_batch
FROM pairs
"""


SQL_STREAMING_ATTRIBUTION_DIFFERENTIAL = _sql_streaming_attribution_differential()


# ------------------------- native tumbling windows + streaming dedup (r9)


def q_streaming_hourly_windows_differential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream≡batch differential for the NATIVE tumbling-window streaming
    aggregation (streaming/events.py::hourly_event_windows — watermarked
    `window(ts, '1 hour')` groupBy, the canonical streaming agg). Same
    harness as the sessions differential: hour-ordered bounded feed,
    0-second watermark, append drain; a tumbling window emits when the
    final watermark (= corpus max ts) passes its END, so the expected set
    is every (hour, event_type) group except those in the corpus's last
    hour. The batch twin is computed with the same expression tree over
    the sampled events; full row tuples are compared (hour, type, count,
    cents-quantized value sum).

    Scale: state is one row per open (hour, type) window, evicted at
    watermark — bounded by cardinality(event_type) regardless of corpus
    size. The feed reuses the user_id % SESSIONS_MOD sample purely to
    share the cheap feed shape (window semantics are row-local; any
    deterministic subset is equally valid, and the oracle applies the
    same predicate).
    """
    with _work_dir() as work:
        feed = _cut_feed(spark, sf_dir, "events", user_mod=SESSIONS_MOD)
        stream = se.read_event_stream(spark, feed)
        got = se.drain(se.hourly_event_windows(stream, watermark="0 seconds"), work)
        ev = _sampled_events(spark, sf_dir)
        want = (
            ev.groupBy(F.window(F.col("ts"), "1 hour")["start"].alias("hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            )
            .crossJoin(ev.agg(F.max("ts").alias("_mx")))
            .where(F.col("hour") + F.expr("INTERVAL 1 HOUR") <= F.col("_mx"))
        )
        cols = ["hour", "event_type", "n_events", _cents(F.col("total_value")).alias("cents")]
        return _compare(
            got.select(*cols),
            want.select(*cols),
            n_closed_windows=F.sum("_g"),
            n_hours=_g_distinct("hour"),
            sum_events=_g_sum(F.col("n_events")),
            value_cents=_g_sum(F.col("cents")),
        )


def _sql_streaming_hourly_windows_differential() -> str:
    return f"""
WITH ev AS (SELECT * FROM events WHERE user_id % {SESSIONS_MOD} = 0),
mx AS (SELECT MAX(ts) AS mts FROM ev),
win AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM ev GROUP BY 1, 2
),
closed AS (
  SELECT w.* FROM win w, mx
  WHERE epoch_us(w.hour) + 3600000000 <= epoch_us(mx.mts)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_closed_windows,
       CAST(COUNT(DISTINCT hour) AS BIGINT) AS n_hours,
       CAST(SUM(n_events) AS BIGINT) AS sum_events,
       CAST(SUM(CAST(ROUND(total_value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(1 AS BIGINT) AS stream_equals_batch
FROM closed
"""


SQL_STREAMING_HOURLY_WINDOWS_DIFFERENTIAL = _sql_streaming_hourly_windows_differential()


def q_streaming_dedup_differential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream≡batch differential for streaming exact dedup
    (streaming/events.py::dedup_event_stream —
    dropDuplicatesWithinWatermark on event_id, the bounded-state streaming
    twin of the batch exact-dedup family). The corpus has unique
    event_ids, so the feed PLANTS duplicates: every sampled event is
    written twice — once in its hour-cut file and once more in the NEXT
    micro-batch's file (the corpus-last cut duplicates into its own
    file). All replays land well inside the 2-hour watermark of an
    hour-ordered feed, so the stream must emit each event_id exactly
    once; the summary checksums the survivors against the original
    (un-duplicated) sample, which is what the oracle computes from
    parquet.

    Scale: dropDuplicatesWithinWatermark state is the seen-key set per
    watermark window — O(events per 2h), evicted, never O(corpus).
    """
    with _work_dir() as work:
        # the only differential that MUTATES its feed (planted duplicate
        # files), so it copies the shared cached feed into its own dir —
        # a handful of small-file copies, not a Spark rebuild
        feed = os.path.join(work, "feed")
        os.makedirs(feed)
        # plant one duplicate file per cut, named to sort right after its
        # original, so the stamped arrival order is orig0, dup0, orig1,
        # dup1, orig2, dup2: with maxFilesPerTrigger=1 each duplicate
        # arrives in the micro-batch AFTER its original — rows in the
        # original's 2-hour watermark tail are deduplicated BY STATE, older
        # rows are late-dropped, both exactly-once paths are exercised, and
        # every original emits exactly once
        src = _cut_feed(spark, sf_dir, "events", user_mod=SESSIONS_MOD)
        for i, p in enumerate(sorted(glob.glob(os.path.join(src, "part-*.parquet")))):
            shutil.copy(p, feed)
            shutil.copy(p, os.path.join(feed, f"part-{i:02d}50-dup{i}.parquet"))
        _stamp_feed_order(feed)

        got = se.drain(
            se.dedup_event_stream(se.read_event_stream(spark, feed, max_files_per_trigger=1)),
            work,
        )
        # decimal-exact value sum (the engine-portable idiom used by every
        # value checksum here): per-event double rounding would diverge
        # from the oracle's rounding of the exact sum
        value = F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
        row = got.agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.count_distinct("event_id").alias("n_distinct_ids"),
            F.coalesce(F.sum("event_id"), F.lit(0)).alias("id_checksum"),
            F.coalesce(_cents(value), F.lit(0)).alias("value_cents"),
        ).first()
        return _summary(spark, row.asDict())


def _sql_streaming_dedup_differential() -> str:
    return f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_survivors,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum,
       CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 100) AS BIGINT) AS value_cents
FROM events WHERE user_id % {SESSIONS_MOD} = 0
"""


SQL_STREAMING_DEDUP_DIFFERENTIAL = _sql_streaming_dedup_differential()


# ---------------- custom stateful totals + stream-static enrichment (r9)


def q_streaming_running_totals_differential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream≡batch differential for the CUSTOM stateful operator
    (streaming/events.py::running_user_totals, applyInPandasWithState in
    update mode — cumulative per-user count/value, state that never
    closes). Update mode re-emits a user's running total every
    micro-batch it appears in; after a bounded drain, each user's LAST
    emission is the cumulative total, which must equal the batch groupBy
    over the same sampled events. Counts compare exactly; the value side
    is cents-quantized per user (the operator accumulates Python/pandas
    float64, whose low bits lawfully differ from the batch decimal sum —
    per-user magnitudes here keep float error orders below a cent, and
    the oracle computes the same decimal-exact cents).

    Scale: state is two scalars per user forever (the documented
    trade-off of the never-closing operator); emission is one row per
    (user, micro-batch) — bounded by the drain's batch count.
    """
    with _work_dir() as work:
        feed = _cut_feed(spark, sf_dir, "events", user_mod=SESSIONS_MOD)
        got = _latest(
            se.drain(
                se.running_user_totals(se.read_event_stream(spark, feed)),
                work,
                output_mode="update",
            ),
            "user_id",
        )
        want = (
            _sampled_events(spark, sf_dir)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            )
        )
        cols = ["user_id", "n_events", _cents(F.col("total_value")).alias("cents")]
        return _compare(
            got.select(*cols),
            want.select(*cols),
            n_users=F.sum("_g"),
            sum_events=_g_sum(F.col("n_events")),
            value_cents=_g_sum(F.col("cents")),
        )


def _sql_streaming_running_totals_differential() -> str:
    return f"""
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n,
         CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 100) AS BIGINT) AS cents
  FROM events WHERE user_id % {SESSIONS_MOD} = 0 GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n) AS BIGINT) AS sum_events,
       CAST(SUM(cents) AS BIGINT) AS value_cents,
       CAST(1 AS BIGINT) AS stream_equals_batch
FROM per_user
"""


SQL_STREAMING_RUNNING_TOTALS_DIFFERENTIAL = _sql_streaming_running_totals_differential()


def q_streaming_enrichment_differential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream≡batch differential for the stream-STATIC broadcast join
    (streaming/events.py::enrich_with_dimension): each micro-batch of the
    sampled events feed left-joins the customer dimension on user_id =
    c_custkey. Stream-static joins are STATELESS — every batch plans a
    fresh broadcast of the dimension — so the drained union must equal
    the batch left join row-for-row; the summary checksums match counts
    and the joined dimension columns (nation keys, cents-quantized
    balances), which the oracle recomputes relationally.

    Scale: the dimension broadcast is per-trigger and the stream side
    never buffers — the production shape for slowly-changing enrichment;
    a 1000-executor stream pays one small broadcast per trigger.
    """
    with _work_dir() as work:
        feed = _cut_feed(spark, sf_dir, "events", user_mod=SESSIONS_MOD)
        dim = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_nationkey").alias("nation"),
            F.col("c_acctbal").alias("acctbal"),
        )
        got = se.drain(
            se.enrich_with_dimension(se.read_event_stream(spark, feed), dim).select(
                "event_id", "user_id", "nation", "acctbal"
            ),
            work,
        )
        row = got.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("nation").alias("n_matched"),
            F.coalesce(F.sum("nation"), F.lit(0)).alias("nation_checksum"),
            F.coalesce(F.sum(_cents(F.col("acctbal"))), F.lit(0)).alias("balance_cents"),
        ).first()
        return _summary(spark, row.asDict())


def _sql_streaming_enrichment_differential() -> str:
    return f"""
WITH ev AS (SELECT * FROM events WHERE user_id % {SESSIONS_MOD} = 0),
j AS (
  SELECT e.event_id, c.c_nationkey, c.c_acctbal
  FROM ev e LEFT JOIN customer c ON e.user_id = c.c_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN c_nationkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(COALESCE(SUM(c_nationkey), 0) AS BIGINT) AS nation_checksum,
       CAST(COALESCE(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)), 0) AS BIGINT) AS balance_cents
FROM j
"""


SQL_STREAMING_ENRICHMENT_DIFFERENTIAL = _sql_streaming_enrichment_differential()
