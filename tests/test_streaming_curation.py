"""Streaming curation funnel vs the batch funnel (the streaming analog of
the oracle-differential strategy, SURVEY §5.2): draining the document
stream must reproduce the batch curation_funnel's per-(source, stage)
doc/token counts exactly.

Input files are id-range-partitioned (file 1 = low ids, file 2 = high
ids) so first-arrival keep-first coincides with the batch min-doc_id
keep-first — that makes the differential exact, including every
`duplicate` row. A second drain starting from existing state checks the
cross-batch dedup path: a re-sent document must come back `duplicate`.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seo_audit_etl_actor_spark.operators.curation import curation_funnel
from seo_audit_etl_actor_spark.session import load_table
from seo_audit_etl_actor_spark.streaming import curation as sc
from seo_audit_etl_actor_spark.streaming.events import drain


@pytest.fixture(scope="module")
def doc_stream_dir(spark, sf_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("doc_stream")
    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    docs.where(F.col("doc_id") <= mid).coalesce(1).write.mode("overwrite").parquet(
        str(out / "f1")
    )
    docs.where(F.col("doc_id") > mid).coalesce(1).write.mode("overwrite").parquet(
        str(out / "f2")
    )
    # one directory, two files: availableNow drains both (file order by
    # path name keeps low ids first when batches split)
    import shutil

    final = tmp_path_factory.mktemp("doc_stream_flat")
    i = 0
    for sub in ("f1", "f2"):
        for p in sorted((out / sub).glob("*.parquet")):
            shutil.copy(p, final / f"part-{i:03d}.parquet")
            i += 1
    return str(final)


def _funnel(verdicts):
    """Per-(source, stage) [n_docs, total_tokens] of drained verdicts."""
    return {
        (r["source"], r["stage"]): (r["n_docs"], r["total_tokens"])
        for r in verdicts.groupBy("source", "stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .collect()
    }


def test_stream_funnel_matches_batch(spark, sf_dir, doc_stream_dir, tmp_path):
    stream = sc.read_document_stream(spark, doc_stream_dir)
    got = _funnel(drain(sc.curate_document_stream(stream), str(tmp_path)))

    batch = {
        (r["source"], r["stage"]): (r["n_docs"], r["total_tokens"])
        for r in curation_funnel(load_table(spark, sf_dir, "documents")).collect()
    }
    assert got == batch
    assert sum(v[0] for v in got.values()) == load_table(
        spark, sf_dir, "documents"
    ).count()


def test_resent_documents_flag_duplicate_across_restarts(spark, doc_stream_dir, tmp_path):
    """State survival: drain once, then drop the SAME files in again under
    the same checkpoint — every re-sent doc must be labeled duplicate
    (its fingerprint is in state from the first drain)."""
    import shutil
    from pathlib import Path

    src = Path(doc_stream_dir)
    live = tmp_path / "live"
    live.mkdir()
    for p in sorted(src.glob("*.parquet")):
        shutil.copy(p, live / p.name)

    stream = sc.read_document_stream(spark, str(live))
    verdicts = sc.curate_document_stream(stream)
    work = str(tmp_path / "drain")

    first = drain(verdicts, work)
    totals1 = _funnel(first)
    last_epoch = first.agg(F.max("_epoch")).first()[0]
    n_docs = sum(v[0] for v in totals1.values())

    for p in sorted(src.glob("*.parquet")):
        shutil.copy(p, live / f"resend-{p.name}")
    # the resumed drain returns both runs' rows; keep the second run's
    totals2 = _funnel(drain(verdicts, work).where(F.col("_epoch") > last_epoch))

    dup_only = {k: v for k, v in totals2.items() if k[1] == "duplicate"}
    assert sum(v[0] for v in totals2.values()) == n_docs
    assert sum(v[0] for v in dup_only.values()) == n_docs


def test_mark_duplicates_group_spanning_chunks():
    """Regression (ADVICE r3): a fingerprint group spanning multiple Arrow
    chunks within one micro-batch must keep the GLOBAL min doc_id, not the
    first chunk's local min. Feed the state fn two chunks where the
    group's true min lives in the SECOND chunk."""
    import pandas as pd

    class FakeState:
        exists = False

        def update(self, v):
            self.updated = v

    def chunk(ids):
        return pd.DataFrame(
            {
                "doc_id": ids,
                "source": ["s"] * len(ids),
                "pred_lang": ["en"] * len(ids),
                "n_tokens": [10] * len(ids),
                "q4": [100] * len(ids),
            }
        )

    state = FakeState()
    # the second chunk carries an extra upstream column, which must not
    # reach the output
    chunks = [chunk([50, 70]), chunk([10, 60]).assign(text="x")]
    (out,) = list(sc.mark_duplicates(("fp",), iter(chunks), state))
    assert list(out.columns) == ["doc_id", "source", "pred_lang", "n_tokens", "q4", "is_dup"]
    kept = out.loc[~out["is_dup"], "doc_id"].tolist()
    assert kept == [10]  # global min across chunks, not 50
    assert out["is_dup"].sum() == 3
    assert state.updated == (True,)

    # already-seen fingerprint: everything is a duplicate
    state2 = FakeState()
    state2.exists = True
    (out2,) = list(sc.mark_duplicates(("fp",), iter([chunk([1, 2])]), state2))
    assert out2["is_dup"].all()
