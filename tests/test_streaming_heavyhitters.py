"""Streaming Misra-Gries heavy hitters vs batch truth (the streaming
differential strategy, SURVEY §5.2): after draining the document stream,

  1. every TRUE heavy hitter (batch `exact_heavy_hitters`) appears in its
     bucket's final summary;
  2. every summarized token's bounds bracket its true count:
     lower <= true <= lower + decrements(bucket);
  3. state is bounded: <= k-1 counters per bucket.

A second drain of the same files under the same checkpoint checks that
summaries accumulate across restarts (counts double, bounds still hold).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seo_audit_etl_actor_spark.operators.heavyhitters import exact_heavy_hitters
from seo_audit_etl_actor_spark.operators.text import tokens
from seo_audit_etl_actor_spark.queries.streaming_ext import _latest
from seo_audit_etl_actor_spark.session import load_table
from seo_audit_etl_actor_spark.streaming import heavyhitters as shh
from seo_audit_etl_actor_spark.streaming.events import drain

K = 40


@pytest.fixture(scope="module")
def doc_stream_dir(spark, sf_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("hh_stream")
    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    import shutil

    stage = tmp_path_factory.mktemp("hh_stage")
    docs.where(F.col("doc_id") <= mid).coalesce(1).write.mode("overwrite").parquet(
        str(stage / "f1")
    )
    docs.where(F.col("doc_id") > mid).coalesce(1).write.mode("overwrite").parquet(
        str(stage / "f2")
    )
    i = 0
    for sub in ("f1", "f2"):
        for p in sorted((stage / sub).glob("*.parquet")):
            shutil.copy(p, out / f"part-{i:03d}.parquet")
            i += 1
    return str(out)


def _drain(spark, doc_stream_dir, work):
    """{bucket: [(token, lower, decrements)]} of each bucket's latest
    summary after draining the stream under `work`."""
    stream = shh.read_document_stream(spark, doc_stream_dir)
    summaries = drain(shh.stream_heavy_hitters(stream, k=K), work)
    latest: dict[int, list] = {}
    for r in _latest(summaries, "bucket").collect():
        latest.setdefault(r["bucket"], []).append((r["token"], r["lower"], r["decrements"]))
    return latest


def _true_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return {
        r["token"]: r["n"]
        for r in docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_stream_summary_brackets_truth(spark, sf_dir, doc_stream_dir, tmp_path):
    latest = _drain(spark, doc_stream_dir, str(tmp_path))
    true = _true_counts(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    hitters = {
        r["token"]: r["n_occurrences"]
        for r in exact_heavy_hitters(
            docs, F.explode(tokens(F.col("text"))), "text", K
        ).collect()
    }
    assert hitters, "vacuous test: no true heavy hitters at this k"

    summarized = {}
    for bucket, rows in latest.items():
        assert len(rows) <= K - 1, f"bucket {bucket} holds {len(rows)} > k-1 counters"
        for token, lower, decr in rows:
            summarized[token] = (lower, decr)

    for token, n in hitters.items():
        assert token in summarized, f"true heavy hitter {token!r} missing from summary"

    for token, (lower, decr) in summarized.items():
        n = true.get(token, 0)
        assert lower <= n <= lower + decr, (token, lower, n, decr)


def test_summary_accumulates_across_restarts(spark, sf_dir, doc_stream_dir, tmp_path):
    """Same files drained twice under one checkpoint: true counts double,
    and the restarted summaries must still bracket them."""
    import shutil
    from pathlib import Path

    work = str(tmp_path / "drain")
    src = tmp_path / "stream2"
    src.mkdir()
    for p in sorted(Path(doc_stream_dir).glob("*.parquet")):
        shutil.copy(p, src / p.name)
    _drain(spark, str(src), work)
    for p in sorted(Path(doc_stream_dir).glob("*.parquet")):
        shutil.copy(p, src / f"again-{p.name}")
    latest = _drain(spark, str(src), work)

    true = _true_counts(spark, sf_dir)
    for _bucket, rows in latest.items():
        for token, lower, decr in rows:
            n = 2 * true.get(token, 0)
            assert lower <= n <= lower + decr, (token, lower, n, decr)
