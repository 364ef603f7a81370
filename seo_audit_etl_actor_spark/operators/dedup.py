"""Deduplication operators for LLM-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard (engine extension surface; BASELINE.json north
star — absent from the reference).

Design for 100 TB:
- exact dedup is a hash-groupBy on the md5 fingerprint — one shuffle on a
  uniformly distributed key, no skew;
- MinHash/LSH replaces the O(n²) all-pairs comparison with a band-bucket
  self-join: candidate generation touches only same-bucket docs, and the
  bucket key (band index + band hash) is uniform, so the join shuffles
  evenly; signatures are O(n_docs × n_hashes), never materializing the
  shingle sets driver-side;
- SimHash reduces each doc to one 60-bit integer (two at 120 bits);
  near-dup candidates come from band equality on the fingerprint — again
  a uniform-key join;
- token/shingle hashing is md5 (`md5_long`), so every step is
  reproducible in the DuckDB oracle; the retracted xxhash64 alternative's
  measurements are in SCALE_STUDY_r08.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from seo_audit_etl_actor_spark.operators import pin_registry
from seo_audit_etl_actor_spark.operators.text import fingerprint, md5_long, tokens

N_HASHES = 16
N_BANDS = 8  # rows-per-band r = 2 → LSH s-curve threshold ≈ (1/b)^(1/r) ≈ 0.35

# Scale-aware banding ladder (round 5; the r4 scale study measured the
# fixed-(16,8) candidate volume going superlinear past ~30× sf0.1 —
# b≈1.13/decade — because Σ bucket² grows against the corpus's constant
# background similarity). Each tier keeps the LSH s-curve midpoint
# t ≈ (1/bands)^(1/rows_per_band) pinned at ≈0.35 while DEEPENING the
# band (r = 2 → 3 → 4): a random pair with background Jaccard s collides
# per band with probability s^r, so candidate volume per corpus-pair drops
# from 8·s² to 24·s³ to 64·s⁴ — at s≈0.15 that is 22× and then 250×
# fewer chance candidates, which is what keeps measured volume ~linear
# over the decades where n² pressure would otherwise bite. Signature cost
# rises only in cheap affine passes (md5 per shingle is shared), and the
# verified-pair semantics (exact Jaccard ≥ threshold) are unchanged —
# only recall at the s-curve midpoint moves, by design staying centred.
#   tier boundaries: < 100k docs  → (16 hashes,  8 bands, r=2, t≈0.354)
#                    < 2M docs    → (72 hashes, 24 bands, r=3, t≈0.347)
#                    ≥ 2M docs    → (256 hashes, 64 bands, r=4, t≈0.354)
# The driver's correctness SFs (≤5k docs) always land in the first tier,
# so the static DuckDB oracle (written for (16, 8)) stays exact.
BANDING_LADDER: list[tuple[int, int, int]] = [
    (0, 16, 8),
    (100_000, 72, 24),
    (2_000_000, 256, 64),
]


def choose_banding(n_docs: int) -> tuple[int, int]:
    """(n_hashes, n_bands) for a corpus of `n_docs` per BANDING_LADDER."""
    n_hashes, n_bands = BANDING_LADDER[0][1:]
    for lo, h, b in BANDING_LADDER:
        if n_docs >= lo:
            n_hashes, n_bands = h, b
    return n_hashes, n_bands


# Tier-probe cache (round 6): choose_banding's count() probe is metadata-
# cheap but still one Spark job per invocation — a catalog run that calls
# minhash several times against the same table paid a probe scan each.
# Keyed by (semantic plan hash, per-file (path, size, mtime_ns)): the
# semantic hash pins WHAT is counted (filters and all), the stat key pins
# the bytes underneath, so an in-place rewrite misses instead of reusing a
# stale count. Non-file-backed frames (in-memory test frames) skip the
# cache — their count is trivially cheap.
_PROBE_COUNT_CACHE: dict[tuple, int] = {}
_PROBE_COUNT_CACHE_MAX = 256


def _probe_count(df: DataFrame) -> int:
    from seo_audit_etl_actor_spark.session import _stat_key

    try:
        files = tuple(sorted(df.inputFiles()))
        sem = df.semanticHash()
    except Exception:
        files, sem = (), None
    stat = _stat_key(files) if files else None
    if sem is None or stat is None:
        return df.count()
    key = (sem, stat)
    if key not in _PROBE_COUNT_CACHE:
        if len(_PROBE_COUNT_CACHE) >= _PROBE_COUNT_CACHE_MAX:
            _PROBE_COUNT_CACHE.clear()
        _PROBE_COUNT_CACHE[key] = df.count()
    return _PROBE_COUNT_CACHE[key]
SHINGLE_K = 3
# 60 bits = the full md5_long width; fingerprint < 2^60 stays a positive
# BIGINT in every engine. Raised from 48 in round 4: with 4 bands the band
# key widens 12 -> 15 bits, which cut measured LSH candidate-pair volume 3x
# (80.3M -> 27.0M at 50k low-entropy-vocab docs) — band width is THE scale
# lever for simhash banding, since per-bucket pair generation is
# Σ bucket_size² and bucket occupancy is data-dependent (see SURVEY §6
# round-4 scaling study).
SIMHASH_BITS = 60
# Wide SimHash (round 11): the r10 decomposition
# (SCALE_STUDY_r10.json:simhash_decomposition) attributed the family-worst
# scaling exponent to the 60-bit fingerprint itself — with 4 bands the
# 15-bit band keyspace saturates (~77k occupied of 131k possible buckets at
# 5M docs), and 60-bit CHANCE collisions make the verified hamming<=3
# output grow ~n² (16.1M -> 160.6M pairs m316 -> m1000). 120 bits carried
# as two 60-bit BIGINT words give 30-bit band keys (2^30 ≈ 1.07e9 — no
# saturation below a billion docs), and chance hamming<=3 collisions are
# ~2^-60 rarer. `choose_simhash_width` picks the width.
SIMHASH_WIDE_BITS = 120
_SIMHASH_WORD_BITS = 60


def exact_dedup_stats(docs: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Exact dedup summary per group: rows, distinct fingerprints, dup rows.

    The fingerprint (md5 of normalized text) makes the groupBy key uniform —
    no hot keys at scale regardless of content skew.
    """
    fp = docs.select(F.col(group_col), fingerprint(F.col(text_col)).alias("fp"))
    return (
        fp.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("fp").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_dup_rows"),
        )
        .orderBy(group_col)
    )


def exact_dedup_keep_first(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup keeping the lowest-id row per fingerprint (deterministic
    canonical choice — SURVEY §7.2 H2 discipline). One shuffle on fp."""
    w = Window.partitionBy(fingerprint(F.col(text_col))).orderBy(F.col(id_col).asc())
    return docs.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def shingle_set(text_col, k: int = SHINGLE_K):
    """Distinct k-word shingles as an array of strings.

    Higher-order functions only (sequence/transform/slice) — the shingle
    array never leaves the JVM row, no explode until the caller needs one.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            )
        )
    )


def _affine_constants(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family
    h_i(x) = (a_i·x + b_i) mod 2^32, derived from md5 so they are fixed
    across engines and runs. a < 2^28 (odd) keeps a·x + b < 2^62 — no
    signed-64 overflow in Spark or DuckDB."""
    import hashlib

    out = []
    for i in range(n_hashes):
        a = int(hashlib.md5(f"mh-a-{i}".encode()).hexdigest()[:7], 16) | 1
        b = int(hashlib.md5(f"mh-b-{i}".encode()).hexdigest()[:8], 16)
        out.append((a, b))
    return out


MASK32 = 0xFFFFFFFF
MOD32 = 1 << 32


# md5 is the one token/shingle hash: DuckDB reproduces it bit for bit, and
# xxhash64 drew 3-5× md5's band-collision volume at scale (SCALE_STUDY_r08.json).
def hashed_shingle_set(text_col, k: int = SHINGLE_K):
    """Distinct k-word shingles as 32-bit hashes (array<long>).

    The shingle STRINGS never leave the expression: each k-gram is hashed
    (md5 → 32-bit) and deduplicated as an integer — 4-10× smaller rows
    through every downstream shuffle, and set ops on longs instead of
    strings. Hash collisions (~n²/2³³ per doc) merge identically in any
    md5-agreeing engine, so oracle parity holds exactly.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    return F.when(n < k, F.array().cast("array<long>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: md5_long(F.concat_ws(" ", F.slice(toks, i, k))).bitwiseAND(
                    F.lit(MASK32)
                ),
            )
        )
    )


def shingle_projection(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, shingles) with the 32-bit hashed shingle set — the one
    md5-bearing pass every minhash consumer shares. Docs with no shingles
    are dropped (they can't be near-duplicates of anything).

    The drop predicate is the CHEAP equivalent `size(tokens) >= k` —
    shingles are non-empty iff the doc has at least k tokens — NOT
    `size(shingles) > 0`: a filter on the derived column gets its full
    md5-chain expression re-inlined into the condition and pushed below
    the repartition to the scan, recomputing every shingle hash at scan
    parallelism (measured 10× the whole pass's cost at m=10; the
    filter-over-derived-column trap from the verify notes)."""
    sh = hashed_shingle_set(F.col(text_col))
    return docs.where(F.size(tokens(F.col(text_col))) >= SHINGLE_K).select(
        F.col(id_col), sh.alias("shingles")
    )


def _signatures_from_shingles(
    base: DataFrame, id_col: str = "doc_id", n_hashes: int = N_HASHES
) -> DataFrame:
    """(id, mh0..mhN) from a (id, shingles) frame: ONE explode of the
    hashed-shingle set, then n_hashes MIN aggregates of the affine maps
    (a_i·h + b_i) mod 2^32.

    Why explode+agg and not per-signature array_min(transform(...)) HOFs:
    higher-order functions are CodegenFallback — interpreted, one boxed
    lambda eval per element per signature — which the round-5 probe
    measured at ~320 s for 500k docs × 72 signatures; the same math as
    plain-arithmetic MIN aggregates rides whole-stage codegen and map-side
    partial aggregation (the explode collapses to ~one row per doc per
    partition before the shuffle, so the exchange carries
    n_docs × n_hashes longs, not the exploded stream). Same pattern as
    simhash_fingerprints' vote sums."""
    exploded = base.select(F.col(id_col), F.explode("shingles").alias("h"))
    # SQL-string assembly (r13, same rationale as simhash_fingerprints):
    # one F.expr parse per signature instead of ~6 py4j round-trips per
    # signature — identical tree ((a*h + b) % 2^32, all BIGINT), identical
    # results; only driver-side build time drops (matters at the deep
    # tiers where n_hashes reaches 72+).
    aggs = [
        F.expr(f"MIN(({a} * h + {b}) % {MOD32})").alias(f"mh{i}")
        for i, (a, b) in enumerate(_affine_constants(n_hashes))
    ]
    return exploded.groupBy(id_col).agg(*aggs)


# Bounds the HOF pair path's IN-MEMORY pair array, which is O(members²)/2
# structs built as ONE GenericArrayData per bucket before the explode —
# the binding constraint is pairs, not members. 1024 members → ≤ ~524k
# pair structs (~25 MB) per bucket row; the old 10_000 cap allowed ~50M
# structs (multi-GB) and OOM'd the 31.6×-sf0.1 scale run (r4 scale study,
# stage: simhash band shuffle). Bigger buckets stream through the
# sort-merge self-join branch below — identical output, spillable.
MAX_BUCKET_MEMBERS = 1_024

# Over-cap bucket KEYS are broadcast for semi/anti routing when at most
# this many (≈ a few MB of band keys); beyond it _bucket_pairs falls back
# to the sized-join plan. The key count is bounded by rows/cap by
# construction (every over-cap bucket owns > MAX_BUCKET_MEMBERS rows), so
# hitting the fallback means hot buckets own most of the corpus.
MAX_BROADCAST_HOT_KEYS = 100_000


def _bucket_pairs(
    exploded: DataFrame,
    bucket_cols: list[str],
    member_col: str,
    max_bucket_members: int = MAX_BUCKET_MEMBERS,
    refine=None,
    pair_filter=None,
) -> DataFrame:
    """Group band-exploded rows into buckets and emit every in-bucket pair
    (a, b) with a.id < b.id, deduplicated across buckets.

    One shuffle on the uniform bucket key, then pair generation is a pure
    HOF over the collected member array — no self-join, so the upstream
    pipeline (shingling, signatures) is scanned exactly once. Bucket sizes
    are LSH-bounded (docs only share a bucket if a whole band matches), so
    collect_list stays small for real corpora.

    Hot-bucket guard: a pathological mega-bucket (e.g. a boilerplate
    duplicated across millions of docs making one band key cover them all)
    would concentrate the whole bucket into ONE collect_list aggregation
    state and OOM that task. Bucket sizes split the flow first: buckets
    ≤ `max_bucket_members` take the HOF path; oversized buckets fall back
    to a sort-merge self-join — identical pair output, but streamed and
    spillable instead of held as one in-memory array.

    The size computation is a groupBy count, NOT a `count(*) over
    (partition by bucket)` window: the window evaluator buffers every
    partition's rows per-task before emitting, so 32 concurrent tasks each
    buffering a mega-bucket exhausted the task-memory pool at 316× sf0.1
    (UNABLE_TO_ACQUIRE_MEMORY inside ExternalAppendOnlyUnsafeRowArray —
    the r5 ladder's find) — the guard itself OOM'd before it could route
    the bucket to the spillable branch. The groupBy is map-side partial
    (the exchange carries ~one row per bucket per map partition).

    Routing is a BROADCAST semi/anti join against only the over-cap bucket
    KEYS, not a full join of every row with its bucket size (the first
    de-windowed form): that join shuffled the whole exploded frame an
    extra time AND — because the count's partial-agg exchange carries
    partial counts, not raw rows, so ReuseExchange can't kick in — every
    consumer (sizes, join left, self-join a, self-join b) re-computed the
    upstream signature/fingerprint pipeline from scratch; the 316× ladder
    measured minhash 73 s → 8+ min from exactly that. Two structural
    fixes, both measured back to the pre-guard speed:
    - `exploded` is persisted (spillable) for the duration of the pair
      build — ~24-40 bytes/row, the leanest frame in the pipeline — and
      released through the `_spark_graft_release` hook;
    - the over-cap key set is provably ≤ rows/cap keys (each over-cap
      bucket owns > cap rows), so it is broadcast when it fits
      (≤ MAX_BROADCAST_HOT_KEYS) — the common corpus has ZERO such keys
      and skips routing joins entirely; the pathological many-hot-buckets
      corpus falls back to the old sized-join shape, which is then the
      right plan (the hot side is a large fraction of the data).

    `refine` (optional): callable applied to the OVER-CAP branch that adds
    (sub_idx, sub_key) columns — typically by exploding each member over a
    small set of secondary keys whose construction guarantees every pair
    the CALLER ultimately keeps still shares at least one (sub_idx,
    sub_key). The self-join then also equates those columns, cutting a hot
    bucket's candidate volume from m² to Σ sub-bucket² with zero loss for
    the caller's verified output (pairs found in several sub-buckets
    collapse in the final distinct). Callers whose downstream filter can't
    offer such a guarantee (minhash: band equality says nothing about the
    other bands) leave it None and keep the exhaustive streamed join.

    `pair_filter` (optional, r10): callable (a_member, b_member) -> boolean
    Column — a ROW-WISE verification predicate the caller would apply to
    the output anyway. Applying it BEFORE the cross-bucket distinct keeps
    every false candidate out of the dedup shuffle (filter∘distinct ≡
    distinct∘filter for a row-wise predicate, so the output SET is
    unchanged). Callers whose verification is self-contained in the member
    payload pass it (simhash: popcount of the fp XOR); callers whose
    verification needs a join (minhash: exact Jaccard against the shingle
    frame) cannot, and leave it None. Measured at m316/m1000 in
    SCALE_STUDY_r10.json (simhash_decomposition).
    """
    from pyspark import StorageLevel

    exploded = exploded.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = exploded.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__bn"))
    hot = sizes.where(F.col("__bn") > max_bucket_members).select(*bucket_cols)
    # materializes `exploded` into the cache as a side effect, so every
    # later consumer reads the cache instead of re-running the upstream
    # signature pipeline
    n_hot = hot.count()
    if n_hot == 0:
        small, big = exploded, None
    elif n_hot <= MAX_BROADCAST_HOT_KEYS:
        small = exploded.join(F.broadcast(hot), bucket_cols, "left_anti")
        big = exploded.join(F.broadcast(hot), bucket_cols, "left_semi")
    else:
        sized = exploded.join(sizes, bucket_cols)
        small = sized.where(F.col("__bn") <= max_bucket_members).drop("__bn")
        big = sized.where(F.col("__bn") > max_bucket_members).drop("__bn")

    buckets = (
        small.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_list(member_col)).alias("members"))
        .where(F.size("members") > 1)
    )
    m = F.col("members")
    pairs = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + F.lit(2), F.size(m) - i - 1),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    small_pairs = buckets.select(F.explode(pairs).alias("p")).select("p.a", "p.b")
    if pair_filter is not None:
        small_pairs = small_pairs.where(pair_filter(F.col("a"), F.col("b")))

    if big is None:
        out = small_pairs.distinct()
        out._spark_graft_release = pin_registry.register(  # type: ignore[attr-defined]
            exploded.unpersist
        )
        return out
    extra_cols: list[str] = []
    if refine is not None:
        big = refine(big)
        extra_cols = ["sub_idx", "sub_key"]
    a, b = big.alias("a"), big.alias("b")
    cond = F.lit(True)
    for c in [*bucket_cols, *extra_cols]:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # members are either plain unique ids (minhash) or structs whose FIRST
    # field is the unique id (simhash): `<` is value order for the former
    # and field-lexicographic for the latter, so in both cases the
    # orientation matches the array_sort order above
    cond = cond & (F.col(f"a.{member_col}") < F.col(f"b.{member_col}"))
    big_pairs = a.join(b, cond).select(
        F.col(f"a.{member_col}").alias("a"), F.col(f"b.{member_col}").alias("b")
    )
    if pair_filter is not None:
        big_pairs = big_pairs.where(pair_filter(F.col("a"), F.col("b")))

    out = small_pairs.unionByName(big_pairs).distinct()
    out._spark_graft_release = pin_registry.register(  # type: ignore[attr-defined]
        exploded.unpersist
    )
    return out


def minhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_bucket_members: int = MAX_BUCKET_MEMBERS,
    n_hashes: int | None = None,
    n_bands: int | None = None,
    compact_band_keys: bool | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → band buckets →
    in-bucket candidate pairs → exact Jaccard verification
    (array_intersect/union on the distinct shingle sets) → pairs with
    jaccard ≥ threshold.

    The corpus is scanned/shingled ONCE into a persisted (id, shingles)
    frame (MEMORY_AND_DISK — spillable), which feeds both consumers: the
    codegen'd signature aggregation and the verification join. Jaccard is
    a ratio of integer set sizes — exact, engine-portable.

    Shuffle discipline (round 5 — measured, not guessed): the band explode
    carries ONLY (doc_id, band_idx, band_key) — ~24 bytes/row — and
    candidate pairs dedupe as two BIGINTs; the kilobyte-scale shingle
    arrays never ride the band shuffle or the pair distinct. Verification
    joins the deduped (small) pair set back to the persisted signatures on
    each side — two id-keyed exchanges of arrays sized by DOCS, not by
    docs × bands. The previous design shuffled the shingle array inside
    every band member and every pair struct, which at 100× sf0.1 made the
    band shuffle (n_bands × corpus bytes) the bottleneck — the r5 probe
    measured candidate volume 26× down with deeper banding yet wall-clock
    UP, pinning the cost on payload bytes, hence this shape.

    Banding is SCALE-AWARE by default: when (n_hashes, n_bands) are not
    pinned, a metadata-cheap count() probe picks the BANDING_LADDER tier,
    deepening bands as the corpus grows so chance-candidate volume stays
    ~linear while the s-curve threshold holds at ≈0.35 (see ladder
    comment). Pass both explicitly to pin a tier (the oracle tests pin
    nothing — driver SFs land in tier 0, matching the static SQL).

    Band-key representation (r9, the m3160 spill trim): above tier 0 the
    band key is xxhash64(band_idx, mh…) — ONE long instead of an
    `r`-value concat string, shrinking the band-exploded row from ~56 to
    ~20 bytes through its persist and both its shuffles (at m3160 tier 3
    that frame is ~1e9 rows × 64 bands worth of spill — the boundary the
    r8 study hit). This is output-lossless BY CONSTRUCTION: a hash is a
    function, so every true band-equal pair stays bucket-equal (zero
    recall loss), and a collision can only ADD candidates, which exact
    Jaccard verification then discards; the verified output could differ
    only if a ≥threshold pair sharing NO true band collided
    (P ≈ n_pairs·n_bands²/2⁶⁴ — negligible at any corpus this engine will
    see). Tier 0 keeps the concat-string key so the driver-checked plan
    stays bit-identical to the static DuckDB oracle, which encodes the
    string form. Pass `compact_band_keys` to pin either representation.
    """
    from pyspark import StorageLevel

    if n_hashes is None or n_bands is None:
        # column-pruned count: the scan reads no data pages, only parquet
        # row-group metadata — a sub-second probe even at 100 TB; cached
        # per (plan, file-stats) so repeated catalog runs pay it once
        n_hashes, n_bands = choose_banding(_probe_count(docs))
    if compact_band_keys is None:
        compact_band_keys = n_bands > BANDING_LADDER[0][2]
    # the one md5-bearing corpus pass, shared by signatures + verification
    base = shingle_projection(docs, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = _signatures_from_shingles(base, id_col, n_hashes)
    r = n_hashes // n_bands
    if compact_band_keys:
        # one 8-byte key folds (band_idx, mh…) — see docstring for why
        # this is output-lossless above tier 0
        band_vals = F.array(
            *[
                F.xxhash64(F.lit(b), *[F.col(f"mh{b * r + j}") for j in range(r)])
                for b in range(n_bands)
            ]
        )
        exploded = sigs.select(
            F.col(id_col).alias("m"), F.explode(band_vals).alias("band_key")
        )
        pairs = _bucket_pairs(exploded, ["band_key"], "m", max_bucket_members)
    else:
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.concat_ws("|", *[F.col(f"mh{b * r + j}") for j in range(r)]).alias("band_key"),
                )
                for b in range(n_bands)
            ]
        )
        exploded = sigs.select(
            F.col(id_col).alias("m"), F.explode(bands).alias("band")
        ).select("m", "band.band_idx", "band.band_key")
        pairs = _bucket_pairs(exploded, ["band_idx", "band_key"], "m", max_bucket_members)
    # The deduped pair frame now has THREE consumers (the verification join
    # plus the two semi-join prunes below). It is the smallest frame in the
    # pipeline (two BIGINTs per row) but sits on top of the most expensive
    # one — persist it so the bucket-pair generation runs once, not per
    # consumer (AQE's exchange reuse does not span the aliased semi-join
    # subtrees: measured 9.7 s vs 5.9 s warm at 100× from the recompute).
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    if compact_band_keys:
        # r10 (the m3160 footprint experiment, SCALE_STUDY_r09 task 5):
        # materialize the deduped pair set NOW and hand back the
        # band-exploded persist before verification starts. The exploded
        # frame (rows × n_bands) is among the largest named terms in the
        # peak scratch footprint, it is fully re-derivable, and
        # verification only joins PAIRS to BASE — so above tier 0 the two
        # heavy phases stop overlapping on disk. Tier 0 (driver SFs)
        # keeps the single-action lazy plan.
        pairs.count()
        release_exploded = getattr(pairs, "_spark_graft_release", None)
        if release_exploded is not None:
            release_exploded()
    # Verification-side pruning: only docs that appear in some candidate
    # pair need their shingle sets shuffled. Without this, the id-keyed
    # verification exchanges carry the WHOLE corpus' kilobyte arrays —
    # the 1000× sf0.1 probe measured 202 s of exchange to verify 1.29M
    # pairs against 5M cached docs. The semi-join keys are two BIGINT
    # columns of the (small, deduped) pair frame; AQE broadcasts them at
    # runtime under the 64 MB adaptive threshold, so the corpus-side scan
    # is a map-side probe of the cache — no array shuffle for the
    # non-candidate 95%. When pair volume is genuinely huge (hot corpus),
    # AQE falls back to a shuffled semi join, which is then the right
    # plan: the pruned set IS a large fraction of the corpus.
    cand_ids = pairs.select(F.explode(F.array("a", "b")).alias(id_col)).distinct()
    needed = base.join(cand_ids, id_col, "left_semi")
    sh_a = needed.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = needed.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    out = (
        pairs.select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )
    # Deterministic cache release: the persisted shingle frame (and the
    # band-exploded frame _bucket_pairs pins) stays cached for the session
    # once this lazy result is consumed (Spark offers no "unpersist when
    # downstream is done" hook). Callers that MATERIALIZE the pairs —
    # e.g. connected_components' eager localCheckpoint, which truncates
    # lineage so neither can be re-read — should call this to hand the
    # storage back instead of leaking one cached corpus per invocation
    # (the r5 ladder heap-OOM'd after 10 rungs of exactly that).
    pairs_release = getattr(pairs, "_spark_graft_release", None)

    def _release() -> None:
        base.unpersist()
        pairs.unpersist()
        if pairs_release is not None:
            pairs_release()

    # Register with the pin registry as well: if a caller's intermediate
    # transformation drops the attribute, pin_registry.drain() still
    # releases the persisted frames (operators/pin_registry.py).
    out._spark_graft_release = pin_registry.register(_release)  # type: ignore[attr-defined]
    return out


def simhash_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Per-doc SimHash: each of `bits` (60 or 120) positions votes ±1 per
    token occurrence (tf-weighted); bit set iff the vote is positive.
    Emitted as 60-bit BIGINT words fp_w0[, fp_w1] (low word first). Both
    words come from ONE md5 per token — hex chars 1-15 / 16-30 of the
    digest (Spark conv == DuckDB CAST('0x'||substring(...))) — so word 0
    is the same at either width.

    Explode tokens → hash as PLAIN column expressions → one groupBy(doc):
    the md5 and every vote ride whole-stage codegen. The md5 must hash the
    EXPLODED column, not run inside `F.transform(toks, md5_long)` —
    higher-order functions are CodegenFallback, one interpreted lambda
    eval per token, which the r5 316× ladder measured as the dominant cost
    of this operator (same lesson as the minhash signature explode). The
    md5 is materialized once per token in its own projection
    (CollapseProject's multi-reference guard keeps both conv() words
    reading the same digest). Docs with no tokens produce no rows."""
    n_words = bits // _SIMHASH_WORD_BITS
    if bits % _SIMHASH_WORD_BITS or not 1 <= n_words <= 2:
        raise ValueError("bits must be 60 or 120 (one md5 = two 60-bit words)")
    hexed = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t")
    ).select(F.col(id_col), F.md5("t").alias("hx"))
    th = hexed.select(
        F.col(id_col),
        *[
            F.conv(F.substring("hx", 1 + 15 * w, 15), 16, 10)
            .cast("long")
            .alias(f"h{w}")
            for w in range(n_words)
        ],
    )
    # Lane-packed vote aggregation: the ±1 vote for bit i is 2*cnt_i - n,
    # where cnt_i counts the tokens with bit i SET (never negative — no
    # borrows), so two 32-bit counters ride ONE long and the aggregate
    # carries bits/2 + 1 columns instead of `bits`. A document's tokens are
    # one Spark array (< 2^31 elements), so no lane carries into the next
    # and the top lane stays below 2^63 at any document length; 16-bit
    # lanes do not: they carry at 65,536 tokens and leave the BIGINT range
    # (ANSI ARITHMETIC_OVERFLOW) at 32,768.
    # Expressions are assembled as SQL strings (r13): one F.expr parse per
    # output column instead of one py4j round-trip per Python Column
    # operator, which bench_one measured at ~1.4-3.3 s of DataFrame BUILD
    # per invocation — more than the query's execution.
    LANES, LANE_W = 2, 32
    packed = []
    for g_idx in range(bits // LANES):
        terms = " + ".join(
            f"(SHIFTRIGHT(h{i // _SIMHASH_WORD_BITS}, {i % _SIMHASH_WORD_BITS}) & 1)"
            f" * CAST({1 << (LANE_W * (i % LANES))} AS BIGINT)"
            for i in range(g_idx * LANES, (g_idx + 1) * LANES)
        )
        packed.append(F.expr(f"SUM({terms})").alias(f"p{g_idx}"))
    g = th.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *packed)
    lane_mask = (1 << LANE_W) - 1

    def bit_sql(w: int, j: int) -> str:
        i = w * _SIMHASH_WORD_BITS + j
        cnt = f"(SHIFTRIGHT(p{i // LANES}, {LANE_W * (i % LANES)}) & {lane_mask})"
        # vote > 0  <=>  2*cnt_i > n_tokens (ties -> bit unset)
        return (
            f"(CASE WHEN {cnt} * 2 > __n THEN"
            f" CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )

    words = [
        F.expr(
            "CAST(0 AS BIGINT) + "
            + " + ".join(bit_sql(w, j) for j in range(_SIMHASH_WORD_BITS))
        ).alias(f"fp_w{w}")
        for w in range(n_words)
    ]
    return g.select(F.col(id_col), *words)


def _simhash_submask(bits: int, n_bands: int, n_sub: int, b: int, j: int, word: int) -> int:
    """Word-`word` slice of the j-th (of n_sub) round-robin chunk of the
    `bits`-bit fingerprint's bits OUTSIDE band b (of n_bands equal bands):
    the hot-bucket refinement key of simhash_near_dup_pairs."""
    width = bits // n_bands
    m, pos = 0, 0
    for i in range(bits):
        if b * width <= i < (b + 1) * width:
            continue
        if pos % n_sub == j and i // _SIMHASH_WORD_BITS == word:
            m |= 1 << (i % _SIMHASH_WORD_BITS)
        pos += 1
    return m


def simhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
    max_bucket_members: int = MAX_BUCKET_MEMBERS,
) -> DataFrame:
    """SimHash near-dup candidates via fingerprint banding (pigeonhole: any
    pair within `max_hamming` ≤ n_bands-1 bit flips shares ≥1 exact band),
    verified by hamming ≤ max_hamming — the SUM of the per-word popcounts
    of the XOR. Single scan of the corpus (bucket-grouping, no self-join —
    see _bucket_pairs). Band keys are bits/n_bands wide and must not
    straddle the 60-bit words (the width divides 60): 15 bits at 60, 30
    at 120.

    The hamming predicate is pushed into _bucket_pairs as its pair_filter
    (r10), so the cross-band distinct shuffles only VERIFIED pairs (x band
    multiplicity <= n_bands) instead of every candidate — the member
    payload (fp words) is all the verification needs, so unlike minhash
    the check costs no join. Output set identical to verifying after the
    distinct (row-wise filter commutes with distinct); that order lost the
    r10 A/B (SCALE_STUDY_r10.json).

    Hot buckets refine by SECOND-LEVEL pigeonhole (r5; found by the 316×
    ladder where one 15-bit band bucket held 19k members and band-level
    candidate volume hit Σ m² ≈ 4.3e9/band against 16M true pairs): a pair
    in bucket (b, key) matches band b exactly, so its ≤ max_hamming
    differing bits all lie in the OTHER bits of the fingerprint —
    partitioning those bits into max_hamming+1 disjoint chunks guarantees
    at least one chunk with no differing bit. Over-cap buckets therefore
    self-join on the additional (chunk index, fp & chunk mask) key,
    cutting their m² to Σ sub-bucket² with ZERO recall loss for the
    verified (hamming ≤ max_hamming) output; duplicates across chunks
    collapse in the existing distinct."""
    width = bits // n_bands
    if bits % n_bands or _SIMHASH_WORD_BITS % width:
        raise ValueError("band width must divide the 60-bit word")
    bands_per_word = _SIMHASH_WORD_BITS // width
    n_sub = max_hamming + 1
    fps = simhash_fingerprints(docs, text_col, id_col, bits)
    n_words = bits // _SIMHASH_WORD_BITS

    def _refine(big: DataFrame) -> DataFrame:
        subs = F.array(
            *[
                F.struct(
                    F.lit(j).alias("sub_idx"),
                    F.struct(
                        *[
                            F.col(f"m.fp{w}")
                            .bitwiseAND(
                                F.element_at(
                                    F.array(
                                        *[
                                            F.lit(_simhash_submask(bits, n_bands, n_sub, b, j, w))
                                            for b in range(n_bands)
                                        ]
                                    ),
                                    F.col("band_idx") + 1,
                                )
                            )
                            .alias(f"k{w}")
                            for w in range(n_words)
                        ]
                    ).alias("sub_key"),
                )
                for j in range(n_sub)
            ]
        )
        cols = big.columns
        return big.select("*", F.explode(subs).alias("__s")).select(
            *cols,
            F.col("__s.sub_idx").alias("sub_idx"),
            F.col("__s.sub_key").alias("sub_key"),
        )

    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(
                    F.col(f"fp_w{b // bands_per_word}"),
                    (b % bands_per_word) * width,
                )
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    member = F.struct(
        F.col(id_col).alias("id"),
        *[F.col(f"fp_w{w}").alias(f"fp{w}") for w in range(n_words)],
    )
    exploded = fps.select(member.alias("m"), F.explode(bands).alias("band")).select(
        "m", "band.band_idx", "band.band_key"
    )

    def _hamming(a, b):
        h = F.lit(0).cast("int")
        for w in range(n_words):
            h = h + F.bit_count(a[f"fp{w}"].bitwiseXOR(b[f"fp{w}"])).cast("int")
        return h

    pairs = _bucket_pairs(
        exploded,
        ["band_idx", "band_key"],
        "m",
        max_bucket_members,
        refine=_refine,
        pair_filter=lambda a, b: _hamming(a, b) <= max_hamming,
    )
    out = (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _hamming(F.col("a"), F.col("b")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )
    release = getattr(pairs, "_spark_graft_release", None)
    if release is not None:
        out._spark_graft_release = release  # type: ignore[attr-defined]
    return out


# Narrow (60-bit) simhash is MEASURED wrong above ~1.5M docs: the 15-bit
# band keyspace saturates (69.5% occupied at 15.8M docs, 2.68T analytic
# candidates at m3160 — SCALE_STUDY_r10/r11) while the wide (120-bit)
# keyspace sits at 0.19% occupancy with 56B analytic candidates on the
# same corpus. The boundary below is set at the BANDING_LADDER tier-0
# bound (100k docs), far under the measured saturation point, so the
# narrow form is only ever chosen where it is provably safe AND the
# driver correctness SFs (<=5k docs) keep selecting it — the static
# DuckDB oracles written for the 60-bit fingerprint stay bit-identical.
SIMHASH_WIDTH_BOUND = BANDING_LADDER[1][0]


def choose_simhash_width(n_docs: int) -> int:
    """Fingerprint width (bits) for a corpus of `n_docs`: 60 below
    SIMHASH_WIDTH_BOUND, 120 at or above — the simhash twin of
    `choose_banding` (same auto-tier contract; r12, closing VERDICT r11
    gap #2: a naive caller at scale silently got the saturating 15-bit
    band keyspace)."""
    return SIMHASH_BITS if n_docs < SIMHASH_WIDTH_BOUND else SIMHASH_WIDE_BITS


def simhash_near_dup_pairs_auto(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket_members: int = MAX_BUCKET_MEMBERS,
) -> DataFrame:
    """Width-routed simhash near-dup pairs: probe the corpus size (cached
    `_probe_count`, same probe the minhash tiers use) and run
    simhash_near_dup_pairs at 60 bits below SIMHASH_WIDTH_BOUND or at 120
    bits at or above it; hamming is measured over the chosen fingerprint
    width. Semantics across the boundary follow the width
    (that is the point — the narrow form's chance-collision pair volume
    grows ~n² past saturation, SCALE_STUDY_r10)."""
    bits = choose_simhash_width(_probe_count(docs))
    return simhash_near_dup_pairs(
        docs, text_col, id_col, max_hamming, bits, n_bands, max_bucket_members
    )


def ngram_jaccard_sample_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    modulus: int = 10,
    min_jaccard: float = 0.02,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard over a deterministic id-sampled subset
    (id % modulus == 0) — the verification baseline for the LSH pipelines.
    Quadratic by design; the sample bound keeps it tractable at any SF.
    Defaults chosen so the pair set is NON-EMPTY at the driver's sf0.01
    (an empty result would make the oracle check vacuous).

    Pair generation is an EQUI-join on the exploded shingle (inverted
    index), not the naive `a.id < b.id` theta join: min_jaccard > 0 means
    every emitted pair shares >= 1 shingle, so joining occurrences of the
    same shingle enumerates a SUPERSET of the output pairs while the
    planner gets a hash-partitionable key instead of a
    BroadcastNestedLoopJoin over the full sample cross product. The
    per-pair shared-shingle count IS |intersection| (shingle sets are
    distinct), and |union| = |a| + |b| - |intersection|, so the jaccard
    value is the same integer ratio (exact small ints -> bit-identical
    doubles) without ever shipping the shingle arrays into the join."""
    # cheap-equivalent drop predicate (size(tokens) >= k), not a filter on
    # the derived array — see shingle_projection's inlining note
    sample = docs.where(
        (F.col(id_col) % modulus == 0)
        & (F.size(tokens(F.col(text_col))) >= SHINGLE_K)
    ).select(F.col(id_col), shingle_set(F.col(text_col)).alias("sh"))
    ex = sample.select(
        F.col(id_col), F.size("sh").alias("sz"), F.explode("sh").alias("s")
    )
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    return (
        inter.select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= min_jaccard)
        .orderBy("id_a", "id_b")
    )
