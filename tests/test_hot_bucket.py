"""Hot-bucket guard in _bucket_pairs: an adversarial corpus that funnels
every doc into ONE band bucket must (a) still produce exactly the same pair
set as the uncapped HOF path, and (b) route the mega-bucket through the
streaming self-join branch instead of a single collect_list state
(operators/dedup.py MAX_BUCKET_MEMBERS rationale)."""

from __future__ import annotations

import duckdb
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seo_audit_etl_actor_spark.operators import dedup
from seo_audit_etl_actor_spark.queries import llm_ext


def _exploded(spark, n_hot=50, n_small_buckets=8):
    """Synthetic band-exploded rows: one hot bucket with n_hot members plus
    n_small_buckets buckets of 2-3 members, with some ids in both (so the
    cross-bucket distinct matters)."""
    schema = T.StructType(
        [
            T.StructField(
                "m",
                T.StructType(
                    [
                        T.StructField("id", T.LongType()),
                        T.StructField("sh", T.ArrayType(T.LongType())),
                    ]
                ),
            ),
            T.StructField("band_idx", T.IntegerType()),
            T.StructField("band_key", T.StringType()),
        ]
    )
    rows = []
    for i in range(n_hot):
        rows.append(((i, [i, i + 1]), 0, "HOT"))
    for b in range(n_small_buckets):
        for i in range(2 + b % 2):
            rows.append(((b * 3 + i, [b * 3 + i, b * 3 + i + 1]), 1, f"k{b}"))
    return spark.createDataFrame(rows, schema)


def _pairs(df):
    return sorted((r["a"]["id"], r["b"]["id"]) for r in df.collect())


def test_capped_output_identical_to_uncapped(spark):
    ex = _exploded(spark)
    uncapped = _pairs(dedup._bucket_pairs(ex, ["band_idx", "band_key"], "m", 10**9))
    capped = _pairs(dedup._bucket_pairs(ex, ["band_idx", "band_key"], "m", 10))
    assert capped == uncapped
    # the hot bucket alone contributes C(50,2) pairs
    assert len(capped) >= 50 * 49 // 2


def test_capped_plan_has_no_giant_collect(spark):
    """With the cap below the hot-bucket size, the hot bucket's pairs must
    come from the join branch; the collect_list branch must filter it out.
    Sanity-check the split predicate does what the docstring claims by
    running each branch's filter independently."""
    ex = _exploded(spark)
    from pyspark.sql import Window

    sized = ex.withColumn("__bn", F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_key")))
    assert sized.where(F.col("__bn") > 10).count() == 50
    assert sized.where(F.col("__bn") <= 10).count() == ex.count() - 50


def test_minhash_pipeline_with_adversarial_boilerplate(spark):
    """End-to-end: a corpus where one boilerplate text dominates (every
    copy lands in the same buckets for every band). With the cap forced
    tiny, output must equal the uncapped pipeline's."""
    boiler = "terms of service apply to all pages of this site always"
    rows = [(i, boiler) for i in range(40)]
    rows += [(100 + i, f"unique document number {i} with its own words entirely") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    uncapped = dedup.minhash_near_dup_pairs(docs, max_bucket_members=10**9)
    capped = dedup.minhash_near_dup_pairs(docs, max_bucket_members=5)
    a = [(r["id_a"], r["id_b"], r["jaccard"]) for r in uncapped.collect()]
    b = [(r["id_a"], r["id_b"], r["jaccard"]) for r in capped.collect()]
    assert a == b
    # all 40 boilerplate copies pair up
    assert len([p for p in a if p[0] < 100 and p[1] < 100]) == 40 * 39 // 2


def test_simhash_pipeline_with_adversarial_boilerplate(spark):
    """End-to-end simhash with the cap forced tiny: the over-cap branch now
    also carries the second-level pigeonhole (sub_idx, sub_key) refinement,
    and its verified output must still equal the uncapped pipeline's."""
    boiler = "terms of service apply to all pages of this site always"
    rows = [(i, boiler) for i in range(40)]
    rows += [(100 + i, f"wholly distinct text number {i} about topic {i}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    uncapped = dedup.simhash_near_dup_pairs(docs, max_bucket_members=10**9)
    capped = dedup.simhash_near_dup_pairs(docs, max_bucket_members=5)
    a = [(r["id_a"], r["id_b"], r["hamming"]) for r in uncapped.collect()]
    b = [(r["id_a"], r["id_b"], r["hamming"]) for r in capped.collect()]
    assert a == b
    # all 40 boilerplate copies have identical fingerprints -> hamming 0
    assert len([p for p in a if p[0] < 100 and p[1] < 100]) == 40 * 39 // 2


def _assert_submasks_partition(bits, n_bands=4, max_hamming=3, wb=60):
    n_sub = max_hamming + 1
    width = bits // n_bands
    for b in range(n_bands):
        for word in range(bits // wb):
            band_mask = sum(
                1 << (i % wb)
                for i in range(word * wb, (word + 1) * wb)
                if b * width <= i < (b + 1) * width
            )
            masks = [
                dedup._simhash_submask(bits, n_bands, n_sub, b, j, word)
                for j in range(n_sub)
            ]
            union = 0
            for j, m in enumerate(masks):
                assert m & band_mask == 0
                for m2 in masks[j + 1 :]:
                    assert m & m2 == 0
                union |= m
            assert union == ((1 << wb) - 1) & ~band_mask


def test_simhash_submask_partition_property():
    """The operator's n_sub round-robin chunk masks must exactly partition
    the bits outside each band, word by word: pairwise disjoint, covering
    every non-band bit of every word, never touching the band's own bits —
    this is what makes the hot-bucket refinement lossless for
    hamming <= max_hamming pairs."""
    _assert_submasks_partition(dedup.SIMHASH_BITS)


def test_simhash_wide_submask_partition_property():
    """The same partition property for the 120-bit fingerprint, whose
    bands and chunks span both 60-bit words."""
    _assert_submasks_partition(dedup.SIMHASH_WIDE_BITS)


def test_sized_join_fallback_identical(spark, monkeypatch):
    """Routing fallback (r5): when the over-cap KEY set is too large to
    broadcast (MAX_BROADCAST_HOT_KEYS), _bucket_pairs reverts to the
    sized-join plan. Force the threshold to 0 so the synthetic hot bucket
    takes that branch and assert the pair set is unchanged."""
    ex = _exploded(spark)
    baseline = _pairs(dedup._bucket_pairs(ex, ["band_idx", "band_key"], "m", 10**9))
    monkeypatch.setattr(dedup, "MAX_BROADCAST_HOT_KEYS", 0)
    fallback = _pairs(dedup._bucket_pairs(ex, ["band_idx", "band_key"], "m", 10))
    assert fallback == baseline


def test_simhash_wide_pipeline_capped_equals_uncapped(spark):
    """The wide (120-bit) pipeline's over-cap branch — two-word struct
    sub_keys — must produce exactly the uncapped output."""
    boiler = "terms of service apply to all pages of this site always"
    rows = [(i, boiler) for i in range(40)]
    rows += [(100 + i, f"wholly distinct text number {i} about topic {i}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    wide = dedup.SIMHASH_WIDE_BITS
    uncapped = dedup.simhash_near_dup_pairs(docs, bits=wide, max_bucket_members=10**9)
    capped = dedup.simhash_near_dup_pairs(docs, bits=wide, max_bucket_members=5)
    a = [(r["id_a"], r["id_b"], r["hamming"]) for r in uncapped.collect()]
    b = [(r["id_a"], r["id_b"], r["hamming"]) for r in capped.collect()]
    assert a == b
    assert len([p for p in a if p[0] < 100 and p[1] < 100]) == 40 * 39 // 2


def test_simhash_wide_word0_is_the_narrow_fingerprint(spark):
    """Word 0 of the 120-bit fingerprint reads the SAME md5 hex chars as
    the 60-bit fingerprint, so it must be bit-identical — the tier-0
    compatibility contract of the widening — and equal to the DuckDB
    oracle's unpacked votes. The two long documents (65,536 and 65,538
    tokens) would overflow 16-bit vote lanes; 32-bit lanes hold any
    document."""
    rows = [(i, f"some text about topic {i} with shared words") for i in range(30)]
    rows += [(30, " ".join(["a"] * 65_536)), (31, " ".join(["b c a"] * 21_846))]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    def word0(bits):
        return {r["doc_id"]: r["fp_w0"] for r in dedup.simhash_fingerprints(docs, bits=bits).collect()}

    wide, narrow = word0(120), word0(60)
    assert wide == narrow and len(narrow) == len(rows)
    con = duckdb.connect()
    documents = pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]})
    con.register("documents", documents)
    oracle = dict(con.execute(llm_ext.SQL_SIMHASH_FINGERPRINTS).fetchall())
    con.close()
    assert narrow == oracle


def test_simhash_wide_pairs_subset_of_narrow(spark):
    """Extra fingerprint bits can only ADD hamming distance, so the wide
    hamming<=3 pair set is a subset of the narrow one — the difference IS
    the 60-bit chance-collision volume the widening exists to kill."""
    rows = [(i, f"document {i % 7} body repeated words alpha beta gamma {i % 3}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    wide_pairs = dedup.simhash_near_dup_pairs(docs, bits=dedup.SIMHASH_WIDE_BITS)
    wide = {(r["id_a"], r["id_b"]) for r in wide_pairs.collect()}
    narrow = {(r["id_a"], r["id_b"]) for r in dedup.simhash_near_dup_pairs(docs).collect()}
    assert wide <= narrow


def test_choose_simhash_width_tiers():
    """Width auto-tier (r12): narrow only below the BANDING_LADDER tier-0
    bound — the driver correctness SFs (<=5k docs) must keep the 60-bit
    form so the static DuckDB oracles stay bit-identical, and everything
    at or above 100k docs (far under the measured ~1.5M saturation point)
    must get the 120-bit keyspace."""
    assert dedup.SIMHASH_WIDTH_BOUND == dedup.BANDING_LADDER[1][0] == 100_000
    for n in (0, 1, 5_000, 99_999):
        assert dedup.choose_simhash_width(n) == dedup.SIMHASH_BITS
    for n in (100_000, 1_500_000, 15_800_000):
        assert dedup.choose_simhash_width(n) == dedup.SIMHASH_WIDE_BITS


def test_simhash_auto_routes_narrow_below_bound(spark):
    """Below the bound the auto router's output is EXACTLY the narrow
    operator's — same pairs, same hamming values (the catalog row
    simhash_auto_near_dup relies on this to reuse the narrow oracle)."""
    rows = [(i, f"document {i % 7} body repeated words alpha beta gamma {i % 3}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    auto = [tuple(r) for r in dedup.simhash_near_dup_pairs_auto(docs).collect()]
    narrow = [tuple(r) for r in dedup.simhash_near_dup_pairs(docs).collect()]
    assert auto == narrow and len(auto) > 0


def test_simhash_auto_routes_wide_above_bound(spark, monkeypatch):
    """Above the bound (forced low so a unit-sized corpus crosses it) the
    router must dispatch to the wide operator — bit-identical pairs AND
    wide hamming values."""
    rows = [(i, f"document {i % 7} body repeated words alpha beta gamma {i % 3}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    monkeypatch.setattr(dedup, "SIMHASH_WIDTH_BOUND", 10)
    auto = [tuple(r) for r in dedup.simhash_near_dup_pairs_auto(docs).collect()]
    wide_pairs = dedup.simhash_near_dup_pairs(docs, bits=dedup.SIMHASH_WIDE_BITS)
    wide = [tuple(r) for r in wide_pairs.collect()]
    assert auto == wide and len(auto) > 0
