"""Streaming curation funnel: the batch training-data funnel
(operators/curation.py — dedup → language gate → length gate → quality
gate) over an unbounded document stream, composed from the same
expression trees plus one custom stateful operator.

Design:
- every stateless gate (fingerprint, lang-ID, token count, quality) is
  the IDENTICAL Column expression the batch funnel uses — `readStream`
  swaps the source and Catalyst keeps the plan (the §2.9 批 pattern used
  throughout streaming/events.py — batch and stream share one plan);
- keep-first dedup is the one stage that needs state:
  `applyInPandasWithState` keyed by fingerprint, state = a single
  first-seen flag per distinct fingerprint (16 bytes), so a duplicate
  arriving in any later micro-batch is labeled `duplicate` exactly like
  the batch window rank labels it. Arrival order IS the streaming
  keep-first contract (the batch twin's min-doc_id order is a special
  case when files arrive id-sorted);
- the funnel aggregate (per source/stage counts) stays OUT of the
  streaming query: Spark disallows a streaming aggregation downstream of
  applyInPandasWithState, so it runs over the drained verdicts
  (`streaming/events.py::drain`).

Scale: state grows by one row per DISTINCT fingerprint — at 100 TB use
GroupStateTimeout.ProcessingTimeTimeout (swap NoTimeout below) to evict
fingerprints idle past the dedup horizon, the same bounded-state
discipline as dropDuplicatesWithinWatermark; the documents table carries
no event time, so a watermark variant needs an ingest-ts column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seo_audit_etl_actor_spark.operators.curation import (
    KEEP_LANGS,
    MIN_QUALITY_Q4,
    MIN_TOKENS,
)
from seo_audit_etl_actor_spark.operators.text import (
    fingerprint,
    lang_id,
    quality_score_q4,
    token_count,
)
from seo_audit_etl_actor_spark.session import ensure_package_on_executors

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

_VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("source", T.StringType(), True),
        T.StructField("pred_lang", T.StringType(), True),
        T.StructField("n_tokens", T.LongType(), True),
        T.StructField("q4", T.LongType(), True),
        T.StructField("is_dup", T.BooleanType(), False),
    ]
)

_SEEN_SCHEMA = T.StructType([T.StructField("seen", T.BooleanType(), False)])


def read_document_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    return spark.readStream.schema(DOCS_SCHEMA).parquet(source_dir)


def mark_duplicates(key, pdfs, state):
    """applyInPandasWithState fn: keep-first dedup keyed by fingerprint.

    `pdfs` is an ITERATOR of Arrow chunks for one key within one
    micro-batch; a fingerprint group can span chunks, so all chunks are
    concatenated BEFORE the doc_id sort — keep-first must pick the group's
    GLOBAL min doc_id, matching the batch funnel's window-rank contract
    (`operators/curation.py`), not the first chunk's local min.

    The body is sized for the COMMON case — a single 1-row chunk per key
    (distinct fingerprints dominate real corpora), invoked once per key
    per micro-batch: skip the concat/sort for singleton groups and emit
    by selecting the output columns of the existing frame (by name, so
    an extra upstream column never leaks into the output) instead of
    rebuilding one from per-column numpy copies (r13; ~30% off the
    per-key Python cost, which is the stateful stage's floor). State is
    only written on FIRST sight — re-upserting an existing True flag per
    repeat key bought nothing and cost a state-store write per key per
    batch."""
    import numpy as np
    import pandas as pd

    seen = state.exists
    frames = list(pdfs)
    batch = frames[0] if len(frames) == 1 else pd.concat(frames)
    n = len(batch)
    if n > 1:
        batch = batch.sort_values("doc_id")
    is_dup = np.ones(n, dtype=bool)
    if not seen and n > 0:
        is_dup[0] = False  # first arrival for this fingerprint wins
    if not seen:
        # first sight only. A ProcessingTimeTimeout variant must instead
        # update the state and set its timeout on EVERY call: otherwise a
        # hot fingerprint expires while still arriving and is admitted
        # again as a first sight.
        state.update((True,))
    yield batch[["doc_id", "source", "pred_lang", "n_tokens", "q4"]].assign(is_dup=is_dup)


def curate_document_stream(stream: DataFrame) -> DataFrame:
    """Per-document curation verdicts over an unbounded stream (append
    mode): (doc_id, source, stage) with the batch funnel's priority
    semantics — `duplicate` wins over every quality gate."""
    ensure_package_on_executors(stream.sparkSession)
    enriched = (
        stream.withColumn("fp", fingerprint(F.col("text")))
        .withColumn("pred_lang", lang_id(F.col("text")))
        .withColumn("n_tokens", token_count(F.col("text")))
        .withColumn("q4", quality_score_q4(F.col("text")))
        .select("fp", "doc_id", "source", "pred_lang", "n_tokens", "q4")
    )

    from pyspark.sql.streaming.state import GroupStateTimeout

    verdicts = enriched.groupBy("fp").applyInPandasWithState(
        mark_duplicates,
        outputStructType=_VERDICT_SCHEMA,
        stateStructType=_SEEN_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    stage = (
        F.when(F.col("is_dup"), "duplicate")
        .when(~F.col("pred_lang").isin(*KEEP_LANGS), "lang_filter")
        .when(F.col("n_tokens") < MIN_TOKENS, "too_short")
        .when(F.col("q4") < MIN_QUALITY_Q4, "low_quality")
        .otherwise("kept")
    )
    return verdicts.select("doc_id", "source", "n_tokens", stage.alias("stage"))
