"""The stream≡batch differential harness (queries/streaming_ext.py):
each differential leaves the session as it found it, and the cut-feed
writer handles an empty table."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from seo_audit_etl_actor_spark.queries import QUERIES
from seo_audit_etl_actor_spark.queries import streaming_ext as stx
from seo_audit_etl_actor_spark.session import load_table

DIFFERENTIALS = [
    q for q in QUERIES if q.name.startswith("streaming_") and q.name.endswith("_differential")
]


@pytest.mark.parametrize("spec", DIFFERENTIALS, ids=[q.name for q in DIFFERENTIALS])
def test_differential_leaves_no_cache_or_work_dir(spark, sf_dir, spec, tmp_path, monkeypatch):
    """Nothing the differential persists outlives the call (the exact
    token counts of the heavy-hitters differential once stayed cached
    for the session), and its per-call work dir is removed."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    spec.fn(spark, sf_dir).collect()
    assert cache.isEmpty()
    assert list(tmp_path.glob("spark_graft_stream_*")) == []


def test_cut_feed_of_empty_table_is_one_empty_file(spark, sf_dir, tmp_path):
    """An empty table gives ONE empty parquet file with its schema, so the
    file-source stream still sees a schema'd feed (the doc_id cut once
    raised TypeError on the None bounds)."""
    docs = load_table(spark, sf_dir, "documents").limit(0)
    out = tmp_path / "feed"
    out.mkdir()
    stx._write_cut_feed(docs, F.col("doc_id"), str(out))
    files = sorted(out.glob("*.parquet"))
    assert [f.name for f in files] == ["part-0000.parquet"]
    back = spark.read.parquet(str(files[0]))
    assert back.schema == docs.schema
    assert back.count() == 0
