"""Scale-aware MinHash LSH banding (operators/dedup.py round 5): the
ladder keeps the s-curve midpoint pinned while deepening bands, the
adaptive default matches the pinned tier-0 result at driver SFs, and the
deeper tiers still find true near-duplicates (plan + recall guard for the
corpus sizes the local suite can't reach)."""

from __future__ import annotations

from pyspark.sql import functions as F

from seo_audit_etl_actor_spark.operators import dedup


def test_ladder_pins_scurve_midpoint():
    for lo, n_hashes, n_bands in dedup.BANDING_LADDER:
        r = n_hashes // n_bands
        assert n_hashes == n_bands * r  # bands tile the signature exactly
        t = (1.0 / n_bands) ** (1.0 / r)
        assert abs(t - 0.35) < 0.01, (lo, n_hashes, n_bands, t)


def test_choose_banding_tiers():
    assert dedup.choose_banding(0) == (16, 8)
    assert dedup.choose_banding(5_000) == (16, 8)
    assert dedup.choose_banding(99_999) == (16, 8)
    assert dedup.choose_banding(100_000) == (72, 24)
    assert dedup.choose_banding(1_999_999) == (72, 24)
    assert dedup.choose_banding(2_000_000) == (256, 64)
    assert dedup.choose_banding(10**9) == (256, 64)


def _near_dup_corpus(spark):
    # 5 groups of 3 true near-duplicates (J >= ~0.8 within a group: long
    # shared body, one word varies) + unique background docs
    rows = []
    for g in range(5):
        body = " ".join(f"group{g}word{j}" for j in range(30))
        for v in range(3):
            rows.append((g * 10 + v, body + f" tail{v}"))
    for i in range(20):
        rows.append((1000 + i, " ".join(f"bg{i}tok{j}" for j in range(25))))
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_probe_count_cached_per_plan_and_files(spark, tmp_path, monkeypatch):
    """The tier probe must run ONE count job per (plan, file bytes) —
    repeated catalog runs against the same table reuse the cached count
    (VERDICT r5 task 7). A rewrite of the underlying file must miss."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "probe.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(range(10), pa.int64())}), p)
    dedup._PROBE_COUNT_CACHE.clear()
    calls = []
    # patch the CONCRETE class (Spark 4: pyspark.sql.DataFrame is the
    # abstract API; instances are classic.dataframe.DataFrame)
    cls = type(spark.read.parquet(p))
    orig = cls.count

    def spy(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(cls, "count", spy)
    assert dedup._probe_count(spark.read.parquet(p)) == 10
    assert dedup._probe_count(spark.read.parquet(p)) == 10  # cache hit
    assert len(calls) == 1
    # different plan over the same files → separate entry (filtered count)
    filtered = spark.read.parquet(p).where(F.col("doc_id") < 3)
    assert dedup._probe_count(filtered) == 3
    assert len(calls) == 2
    # in-place rewrite → stat key misses, fresh count
    import os
    import time

    time.sleep(0.01)
    pq.write_table(pa.table({"doc_id": pa.array(range(7), pa.int64())}), p)
    os.utime(p)
    assert dedup._probe_count(spark.read.parquet(p)) == 7
    assert len(calls) == 3


def test_adaptive_default_matches_pinned_tier0(spark):
    docs = _near_dup_corpus(spark)
    auto = dedup.minhash_near_dup_pairs(docs)
    pinned = dedup.minhash_near_dup_pairs(docs, n_hashes=16, n_bands=8)
    assert [tuple(r) for r in auto.collect()] == [tuple(r) for r in pinned.collect()]


def test_deep_tiers_keep_recall_and_precision(spark):
    docs = _near_dup_corpus(spark)
    truth = {
        (g * 10 + a, g * 10 + b)
        for g in range(5)
        for a in range(3)
        for b in range(a + 1, 3)
    }
    for n_hashes, n_bands in [(72, 24), (256, 64)]:
        got = dedup.minhash_near_dup_pairs(
            docs, threshold=0.5, n_hashes=n_hashes, n_bands=n_bands
        )
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got.collect()}
        # recall: every true near-dup group pair found (miss probability at
        # J~0.8 is (1-0.8^r)^b < 1e-7; deterministic given the fixed hashes)
        assert truth <= set(pairs), (n_hashes, n_bands, truth - set(pairs))
        # precision is exact by construction: every reported pair passed
        # the exact-Jaccard filter
        assert all(j >= 0.5 for j in pairs.values())
        # no background doc ever pairs (their token sets are disjoint)
        assert all(a < 1000 and b < 1000 for a, b in pairs)


def test_compact_band_keys_match_string_keys(spark):
    """r9 spill trim: above tier 0 the band key is xxhash64(band_idx, mh…)
    — one long — instead of the r-value concat string. Both
    representations must produce the IDENTICAL verified pair set (hashing
    preserves band equality; collisions only add candidates that exact
    Jaccard then removes), at every ladder tier."""
    docs = _near_dup_corpus(spark)
    for n_hashes, n_bands in [(16, 8), (72, 24), (256, 64)]:
        compact = dedup.minhash_near_dup_pairs(
            docs, n_hashes=n_hashes, n_bands=n_bands, compact_band_keys=True
        )
        strings = dedup.minhash_near_dup_pairs(
            docs, n_hashes=n_hashes, n_bands=n_bands, compact_band_keys=False
        )
        assert [tuple(r) for r in compact.collect()] == [
            tuple(r) for r in strings.collect()
        ], (n_hashes, n_bands)


def test_default_band_key_representation_by_tier(spark):
    """Tier 0 must default to the string key (bit-exact vs the static
    DuckDB oracle); deeper tiers default compact. Observable via the
    analyzed plan's band_key type."""
    docs = _near_dup_corpus(spark)
    t0 = dedup.minhash_near_dup_pairs(docs, n_hashes=16, n_bands=8)
    t2 = dedup.minhash_near_dup_pairs(docs, n_hashes=256, n_bands=64)
    # the compact plan has no band_idx column anywhere; the string plan does
    assert "band_idx" in t0._jdf.queryExecution().analyzed().toString()
    assert "band_idx" not in t2._jdf.queryExecution().analyzed().toString()


def test_tier_selection_is_hash_independent(spark, monkeypatch):
    """VERDICT r5 task 6 contract: the BANDING_LADDER tier is chosen from
    the corpus COUNT alone — choose_banding sees the plain row count,
    never a value derived from the shingle hashes."""
    rows = [(i, f"some text body number {i} with shared tokens") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    seen: list[int] = []
    orig = dedup.choose_banding

    def spy(n: int):
        seen.append(n)
        return orig(n)

    monkeypatch.setattr(dedup, "choose_banding", spy)
    dedup.minhash_near_dup_pairs(docs).collect()
    assert seen == [30]


def test_exact_clones_pair_up(spark):
    """Both near-dup pipelines on the md5 hash: ordered pairs, thresholds
    respected, and exact duplicates all found (identical texts have
    identical shingle sets and fingerprints)."""
    rows = [(i, "the exact same duplicated text appears here always") for i in range(6)]
    rows += [(10 + i, f"entirely different content number {i} here") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    mh = dedup.minhash_near_dup_pairs(docs).collect()
    assert all(r["id_a"] < r["id_b"] and r["jaccard"] >= 0.5 for r in mh)
    dup_pairs = {(r["id_a"], r["id_b"]) for r in mh if r["id_a"] < 10 and r["id_b"] < 10}
    assert len(dup_pairs) == 6 * 5 // 2  # all clones pair up, jaccard = 1

    sh = dedup.simhash_near_dup_pairs(docs).collect()
    assert all(r["id_a"] < r["id_b"] and r["hamming"] <= 3 for r in sh)
    clone_pairs = {(r["id_a"], r["id_b"]) for r in sh if r["id_a"] < 10 and r["id_b"] < 10}
    assert len(clone_pairs) == 6 * 5 // 2  # identical fp -> hamming 0
