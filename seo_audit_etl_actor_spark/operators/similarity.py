"""Embedding similarity search (engine extension surface; BASELINE.json
north star — absent from the reference).

Brute-force cosine top-k is the correctness baseline; the
random-hyperplane-LSH bucketed variant is the 100 TB path (candidate set
shrinks from n to n/2^n_planes per bucket; the bucket key is uniform so the
self-join shuffle is skew-free).

Each stage has one implementation: one query-vector lookup, one cosine
(a literal-weight codegen chain), one LSH bucket routine (NumPy, serving
the corpus UDF and the driver-side query bucket), one LSH candidate gate,
one IVF codebook collect and one rep-pair loop. The vector width is read
from the vectors themselves, never passed in.

All arithmetic is double-precision, sequential left-to-right folds — the
exact order the DuckDB oracle uses, so results are bit-identical.
"""

from __future__ import annotations

import functools
import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from seo_audit_etl_actor_spark.session import ensure_package_on_executors


def query_vector(
    embeddings: DataFrame,
    query_vec_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[float] | None:
    """The stored vector of `query_vec_id` as Python floats (one
    early-stopping driver lookup), or None when no row has that id."""
    row = embeddings.where(F.col(id_col) == query_vec_id).select(vec_col).first()
    return None if row is None else [float(x) for x in row[0]]


def _no_rows(embeddings: DataFrame, id_col: str, *score_cols: str) -> DataFrame:
    """The empty top-k frame a missing query id yields — what the oracles
    return for it."""
    return embeddings.where(F.lit(False)).select(
        F.col(id_col), *[F.lit(0.0).alias(c) for c in score_cols]
    )


def _chain_sql(vec_sql: str, factors: list[str]) -> str:
    """Unrolled multiply-add chain `0.0 + v[1]*f1 + v[2]*f2 + ...` as ONE
    SQL string. Building the same tree with Python Column operators costs
    one py4j round-trip per term; parsing a single expr string is one
    round-trip and the plan (and whole-stage codegen) is identical. The
    0.0 seed and left-assoc order are the DuckDB oracle chains', so every
    double is bit-identical to them."""
    terms = [
        f"CAST(element_at({vec_sql}, {j}) AS DOUBLE)*{f}"
        for j, f in enumerate(factors, 1)
    ]
    return "(0.0D + " + " + ".join(terms) + ")"


def cosine_query_cols(vec_sql: str, qvec: list[float]) -> Column:
    """Cosine of an array column against a DRIVER-SIDE query vector,
    emitted as one literal-weight codegen chain.

    Bit-identical to the oracle's chain: the numerator terms multiply the
    cast element by the literal double (same value CAST(e[j] AS DOUBLE)
    produces), the column norm is the unrolled self-chain, and the query
    norm is folded left-assoc in Python (IEEE doubles, same order) with
    math.sqrt (correctly rounded — identical to SQL SQRT). The width is
    the query vector's.

    The point vs a crossJoin(broadcast(q)) form: a BroadcastNestedLoop
    join breaks whole-stage codegen, so every downstream chain term runs
    INTERPRETED (~15 µs/row at dim 64 — the r12 2M-vector corpus exposed
    it at ~20 s/query); the literal chain keeps the whole scan inside one
    WholeStageCodegen stage (~1 µs/row, scan-bound).
    """
    nq = 0.0
    for y in qvec:
        nq = nq + float(y) * float(y)
    dot = _chain_sql(vec_sql, [f"({float(y)!r}D)" for y in qvec])
    self_dot = _chain_sql(
        vec_sql,
        [f"CAST(element_at({vec_sql}, {j}) AS DOUBLE)" for j in range(1, len(qvec) + 1)],
    )
    return F.expr(f"({dot}) / (SQRT({self_dot}) * ({math.sqrt(nq)!r}D))")


def rank_by_cosine(
    cand: DataFrame,
    qvec: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k of `cand` by cosine to the query vector, ties to the lower
    id: one map-only codegen scan feeding TakeOrderedAndProject — Spark's
    distributed top-k (per-partition heads, then merge)."""
    return (
        cand.select(F.col(id_col), cosine_query_cols(vec_col, qvec).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k against one stored vector: the query
    vector is fetched driver-side and inlined as a literal codegen chain
    (cosine_query_cols), so the corpus pass is ONE map-only scan. A
    missing query id gives no rows."""
    qvec = query_vector(embeddings, query_vec_id, id_col, vec_col)
    if qvec is None:
        return _no_rows(embeddings, id_col, "cosine_sim")
    cand = embeddings.where(F.col(id_col) != query_vec_id)
    return rank_by_cosine(cand, qvec, k, id_col, vec_col)


def plane_weight(plane_idx: int, j: int) -> float:
    """Component j of deterministic pseudo-random hyperplane `plane_idx`:
    md5('hp|plane|j') mapped to [-1, 1), computed with hashlib (identical
    to any engine's md5) — the NumPy plane matrix here and the DuckDB
    oracle's literal weights are the same doubles. A component does not
    depend on the vector width, so the planes for any width are prefixes
    of one sequence."""
    h = int(hashlib.md5(f"hp|{plane_idx}|{j}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


@functools.lru_cache(maxsize=64)
def _planes(n_planes: int, width: int) -> np.ndarray:
    """The (n_planes, width) plane matrix, built once per process and
    shape and shared read-only by every caller."""
    planes = np.asarray(
        [[plane_weight(i, j) for j in range(width)] for i in range(n_planes)],
        dtype=np.float64,
    )
    planes.setflags(write=False)
    return planes


def _matrix(vecs) -> np.ndarray:
    """One float64 row per array cell of an Arrow batch. Arrow hands back
    ndarray elements; one 2D stack + exact float32->float64 widening
    beats a per-row lambda (~2 us/row x corpus) by ~10x."""
    return np.stack(vecs).astype(np.float64, copy=False)


def lsh_buckets(m: np.ndarray, n_planes: int) -> np.ndarray:
    """Random-hyperplane LSH bucket id of every row of the float64 matrix
    `m`: bit i = (row · plane_i > 0), planes of the rows' own width. The
    one bucket routine — the corpus UDF (lsh_bucket_pandas) and the
    driver-side query bucket both call it.

    BLAS matmul for the dots, exact left-assoc recompute ONLY where the
    fast value sits inside the summation-order error bound of zero:
    |pairwise - leftassoc| <= 2n·eps·Σ|m_j·w_j| ≈ 5e-12 for dim 64 /
    |x| ≤ 6 / |w| < 1 — so for |fast| ≥ 1e-8 the sign test provably
    agrees with the oracle's 0.0-seeded chain, and the rare near-zero dots
    get the chain verbatim. Bit-identical bucket, matmul speed."""
    planes = _planes(n_planes, m.shape[1])
    d = m @ planes.T
    for r, c in zip(*np.nonzero(np.abs(d) < 1e-8)):
        acc = 0.0
        for x, w in zip(m[r], planes[c]):
            acc = acc + x * w
        d[r, c] = acc
    return ((d > 0.0).astype(np.int64) << np.arange(n_planes, dtype=np.int64)).sum(axis=1)


def _query_bucket(qvec: list[float], n_planes: int) -> int:
    return int(lsh_buckets(np.asarray([qvec], dtype=np.float64), n_planes)[0])


def lsh_bucket_pandas(n_planes: int = 8, vec_col: str = "embedding") -> Column:
    """Arrow-batched LSH bucket id column (lsh_buckets over each batch).

    Why Arrow (r12): at production plane counts an expression form is
    n_planes × dim multiply-add terms in ONE generated method — past ~15
    planes that crosses the JVM JIT's huge-method ceiling and the whole
    stage drops to interpreted bytecode (~10 µs/row/plane measured on the
    2M-vector corpus). The Arrow path is O(1) plan nodes and ~2 GFLOP/s
    vectorized regardless of plane count."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        ensure_package_on_executors(active)

    @pandas_udf("int")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        m = _matrix(vecs.values)
        return pd.Series(lsh_buckets(m, n_planes).astype("int32"))

    return bucket_of(F.col(vec_col))


def lsh_candidates(
    embeddings: DataFrame,
    qvec: list[float],
    query_vec_id: int,
    n_planes: int = 8,
    max_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, Column, int]:
    """The LSH candidate stage: (the corpus minus the query row with its
    Arrow bucket as `__bucket`, the hamming gate — bucket within
    `max_hamming` bits of the query's — and the query bucket). The gate
    is returned unapplied so a caller can filter on it or carry it as a
    flag. The query bucket is computed driver-side by the same routine
    and inlined as a literal: the candidate pass is one map-only scan, no
    broadcast join."""
    qb = _query_bucket(qvec, n_planes)
    bucketed = embeddings.withColumn(
        "__bucket", lsh_bucket_pandas(n_planes, vec_col)
    ).where(F.col(id_col) != query_vec_id)
    gate = F.bit_count(F.col("__bucket").bitwiseXOR(F.lit(qb)).cast("long")) <= max_hamming
    return bucketed, gate, qb


def rep_collapse(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Collapse numerically-equal vectors to representatives: one row per
    distinct embedding, carrying rep_id = MIN(id) and n_copies.

    This is the replica-corpus workhorse (r12): every copy of a vector
    gets the SAME cell assignment, the SAME pairwise cosine to any other
    vector, and the SAME per-vector derived values — all downstream
    arithmetic depends only on the numeric element values, so cell/pair
    work done once per representative is bit-identical to doing it per
    copy. (Spark normalizes -0.0/NaN in grouping keys, so grouped rows are
    numerically equal elementwise — exactly the precondition.) On an
    all-distinct corpus the collapse is an identity with one extra
    shuffle; on the 2M-row 1000×-replica bench corpus it shrinks the
    vector-math domain 1000×.
    """
    return embeddings.groupBy(vec_col).agg(
        F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_copies")
    )


# Scale-aware sample modulus for the brute-force pair baseline (r12; same
# tier discipline as choose_ivf_cells). Tier 0 pins modulus=5 so the static
# DuckDB oracle stays exact at every driver correctness SF; above it the
# modulus doubles until the sampled-rep count is bounded, keeping the
# all-pairs verification quadratic at a constant ~EMB_SAMPLE_TARGET² work
# regardless of corpus size. The tier-0 bound is implied: modulus 5 holds
# up to 5 × EMB_SAMPLE_TARGET = 20,000 reps.
EMB_SAMPLE_TARGET = 4_000


def choose_sample_modulus(n_reps: int) -> int:
    m = 5
    while n_reps / m > EMB_SAMPLE_TARGET and m < (1 << 40):
        m *= 2
    return m


# r13 negative result, recorded so it is not retried: scoring the rep
# pairs with the unrolled element_at codegen chains in Spark was
# A/B-measured 1.7-2.6x SLOWER at sf0.1 than even the interpreted fold it
# was meant to replace (embedding_near_dup 5.2-6.5 s vs 2.1-3.9 s, 6 runs
# each). The chains win on MAP-ONLY scans (cosine_query_cols), but a pair
# stage evaluates the cosine behind a join, where the 64-term chain is
# re-inlined into the filter condition and evaluated interpreted. What DID
# win is the Arrow/NumPy pair stage below (guide §4.2), with the chain's
# arithmetic preserved bit-for-bit.


def _fold_dot_np(A, B):
    """Per-row dot product with the oracle chain's EXACT arithmetic:
    float64 products per dimension, accumulated in ascending-dimension
    order from a 0.0 seed — the same left-assoc IEEE sequence as the
    DuckDB chains, vectorized ACROSS rows. Same discipline as
    cosine_topk_rerank's rerank UDF (sequential across dims, vectorized
    across the batch)."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for j in range(A.shape[1]):
        acc = acc + A[:, j] * B[:, j]
    return acc


# Bounds the (pairs × dim) fancy-index copies one group materializes at a
# time inside the Arrow pair stage: 1M pairs × 64 dims × 8 B × ~3 arrays
# ≈ 1.5 GB peak per task worst-case, and cell-sized groups (≤ ~640 reps ≈
# 205k pairs under choose_ivf_cells) never reach it.
_PAIR_BLOCK = 1_000_000


def _passes(sim, threshold: float):
    """sim >= threshold, NaN (zero vectors) kept — Spark's and DuckDB's
    NaN-greatest comparison order."""
    return (sim >= threshold) | np.isnan(sim)


def _pair_scan(pdf, threshold: float):
    """The one rep-pair loop, for ONE group of representatives (columns
    rep_id, __vec): sort by rep_id, stack, self-dot, norms, then score the
    a<b upper-triangle pairs in _PAIR_BLOCK blocks with _fold_dot_np.

    Returns (the rep_id-sorted pdf, each rep's self-cosine — the
    d/(sqrt(d)*sqrt(d)) sequence —, which self-cosines pass, and an
    iterator of (a, b, sim) blocks of the passing pairs, a and b being
    positions in the sorted pdf)."""
    pdf = pdf.iloc[np.argsort(pdf["rep_id"].to_numpy(), kind="stable")]
    M = _matrix(pdf["__vec"].to_numpy())
    d_self = _fold_dot_np(M, M)
    norms = np.sqrt(d_self)
    selfsim = d_self / (norms * norms)

    def blocks():
        ia, ib = np.triu_indices(len(pdf), 1)
        for s in range(0, len(ia), _PAIR_BLOCK):
            sa, sb = ia[s : s + _PAIR_BLOCK], ib[s : s + _PAIR_BLOCK]
            sim = _fold_dot_np(M[sa], M[sb]) / (norms[sa] * norms[sb])
            keep = _passes(sim, threshold)
            yield sa[keep], sb[keep], sim[keep]

    return pdf, selfsim, _passes(selfsim, threshold), blocks()


def _rep_pair_frame(pdf, threshold: float, cell_val=None):
    """Cross + self near-dup rows for ONE group of representatives: the
    passing rep pairs (n_pairs = n_a×n_b), then one self row per
    duplicated rep whose self-cosine passes (n_pairs = C(n,2)). Replaces
    a self-join + per-pair interpreted cosine with NumPy over the group's
    Arrow batch (guide §4.2)."""
    pdf, selfsim, self_ok, blocks = _pair_scan(pdf, threshold)
    ids = pdf["rep_id"].to_numpy()
    nc = pdf["n_copies"].to_numpy()
    parts = [(ids[sa], ids[sb], sim, nc[sa] * nc[sb]) for sa, sb, sim in blocks]
    s = np.flatnonzero((nc > 1) & self_ok)
    parts.append((ids[s], ids[s], selfsim[s], nc[s] * (nc[s] - 1) // 2))
    a, b, sim, n = (np.concatenate(c) for c in zip(*parts))
    out = pd.DataFrame(
        {"id_a": a, "id_b": b, "cosine_sim": sim, "n_pairs": n.astype(np.int64)}
    )
    if cell_val is not None:
        out.insert(0, "cell", np.full(len(out), cell_val, dtype=np.int32))
    return out


def _rep_flag_frame(pdf, threshold: float, vec_col: str):
    """Per-rep SemDeDup facts for ONE cell group: (vector passthrough,
    rep_id, self_sim_ok, m_low) — the Arrow form of the cell self-join +
    min aggregation in semantic_dedup_flags. m_low = MIN rep_id over
    cell-mates with cosine >= threshold (both pair directions, a != b),
    NULL when no mate qualifies."""
    pdf, _selfsim, self_ok, blocks = _pair_scan(pdf, threshold)
    ids = pdf["rep_id"].to_numpy()
    sent = np.iinfo(np.int64).max
    mlow = np.full(len(ids), sent, dtype=np.int64)
    for sa, sb, _sim in blocks:
        np.minimum.at(mlow, sb, ids[sa])
        np.minimum.at(mlow, sa, ids[sb])
    return pd.DataFrame(
        {
            vec_col: pdf["__vec"].to_numpy(),
            "rep_id": ids,
            "self_sim_ok": self_ok,
            "m_low": pd.arrays.IntegerArray(mlow, mlow == sent),
        }
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    modulus: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at REPRESENTATIVE level over a
    deterministic rep-id sample (rep_id % modulus == 0): all rep pairs with
    cosine ≥ threshold, plus one self row per duplicated representative.

    r12 redesign for replica-heavy corpora: vectors are first collapsed to
    distinct representatives (rep_collapse), the sample is taken over
    rep_ids, and each emitted row carries n_pairs — the number of
    underlying copy pairs it stands for (n_a×n_b across two reps;
    C(n,2) within one). On an all-distinct corpus this is the old
    copy-level output with n_pairs=1 and no self rows; on the 2M-row
    bench corpus the old form's 400k-row sample (1.6·10¹¹ pairs) becomes
    a ~550-rep sample. The exact all-pairs form remains the verification
    baseline (quadratic by design, sample-bounded); the full-corpus scale
    path is the same predicate inside LSH buckets or IVF cells.
    """
    ensure_package_on_executors(embeddings.sparkSession)
    reps = rep_collapse(embeddings, id_col, vec_col).localCheckpoint(eager=True)
    if modulus is None:
        modulus = choose_sample_modulus(reps.count())
    sample = reps.where(F.col("rep_id") % modulus == 0).select(
        "rep_id", "n_copies", F.col(vec_col).alias("__vec")
    )
    thr = float(threshold)

    def sample_pairs(pdf):
        return _rep_pair_frame(pdf, thr)

    # ONE Arrow group (the sample is bounded at ~EMB_SAMPLE_TARGET reps by
    # the modulus tiers, so the quadratic stays a constant-size task):
    # replaces the a.id<b.id BroadcastNestedLoopJoin whose per-pair
    # cosine ran interpreted — guide §4.2's batch-native path, measured
    # ~2.1-3.9 s -> sub-second at sf0.1 with bit-identical output.
    out = (
        sample.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(
            sample_pairs,
            "id_a long, id_b long, cosine_sim double, n_pairs long",
        )
    )
    return out.orderBy("id_a", "id_b")


# Scale-aware IVF codebook sizing (round 5; same discipline as dedup's
# BANDING_LADDER). The within-cell quadratic of embedding_near_dup_ivf is
# Σ|cell|² ≈ n²/c for a c-cell codebook, so a FIXED c turns the operator
# O(n²): the r5 ANN ladder measured b=1.69 with c=16 (0.9 s at 1× sf0.1 →
# 311 s at 31.6×, ~63k vectors). Growing c ∝ n pins the average cell near
# IVF_TARGET_CELL_SIZE members, making Σ|cell|² ≈ target·n — linear — while
# per-vector assignment stays one (batch×dim)@(dim×c) matmul (c ≤ 2^16 →
# ≤ 4M flop/vector, still Arrow-batch cheap) and the codebook collect stays
# a driver-side c-row read. Below IVF_TIER0_MAX_VECS the codebook is pinned
# at 16 cells so the static DuckDB oracle (written for c=16) stays exact at
# every driver correctness SF (sf0.01 → 200 vectors, sf0.1 → 2,000).
# Near-dup pairs whose members quantize into different cells are missed BY
# DESIGN at any c (IVF's recall trade-off, unchanged); a larger c trades
# recall for candidate volume exactly like deeper minhash bands.
IVF_TIER0_MAX_VECS = 20_000
IVF_TARGET_CELL_SIZE = 640
IVF_MAX_CELLS = 65_536


def choose_ivf_cells(n_vecs: int) -> int:
    """Codebook size for a corpus of `n_vecs`: 16 below the tier-0 bound,
    else the next power of two of n_vecs / IVF_TARGET_CELL_SIZE (powers of
    two keep tier steps coarse and reproducible), capped at IVF_MAX_CELLS."""
    if n_vecs <= IVF_TIER0_MAX_VECS:
        return 16
    cells = 1
    while cells < n_vecs / IVF_TARGET_CELL_SIZE:
        cells *= 2
    return max(16, min(cells, IVF_MAX_CELLS))


def ivf_codebook(
    embeddings: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF codebook, collected driver-side (a c-row read):
    cell c's centroid is the stored vector with id c (a fixed,
    reproducible codebook — the k-means training step is an offline
    refinement, not a correctness requirement). orderBy pins the codebook
    order (collect order off a filtered scan is partition order, not
    guaranteed) — tie-breaks depend on it."""
    return [
        (int(r[0]), [float(x) for x in r[1]])
        for r in embeddings.where(F.col(id_col) < n_cells)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    ]


def assign_ivf_cells(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF coarse quantization: each vector is assigned to its max-cosine
    centroid (`centroids`, default ivf_codebook) as `__cell`.

    At 100 TB the assignment is a map-only Arrow pass (centroid matrix
    broadcast inside the UDF closure — a few KB); the cell column is then a
    partition/cluster key, so a query scans only `nprobe` cells — classic
    IVF partition pruning.
    """
    if centroids is None:
        centroids = ivf_codebook(embeddings, n_cells, id_col, vec_col)
    # Arrow-batched argmax assignment (SURVEY §2.10's sanctioned Python
    # path for embedding math): one (batch × dim) @ (dim × n_cells) NumPy
    # matmul per Arrow batch. An expression-tree encoding was tried first
    # and abandoned: the n_cells × dim multiply-add chains get re-inlined
    # into every downstream consumer (the probe-cell FILTER references the
    # argmax ~2×n_cells times → a 500k-node condition and multi-second
    # planning), while the matmul is O(1) plan nodes and ~100 ns/vector.
    ensure_package_on_executors(embeddings.sparkSession)
    cids = np.asarray([cid for cid, _ in centroids], dtype=np.int64)
    cmat = np.asarray([cvec for _, cvec in centroids], dtype=np.float64)
    cnorms = np.sqrt((cmat * cmat).sum(axis=1))

    @pandas_udf("int")
    def cell_of(vecs: pd.Series) -> pd.Series:
        m = _matrix(vecs.values)
        vnorms = np.sqrt((m * m).sum(axis=1))
        sims = (m @ cmat.T) / np.outer(vnorms, cnorms)
        # Quantized-argmax contract: round to 6dp before argmax so the cell
        # choice is engine-independent (BLAS pairwise summation vs a SQL
        # left-assoc chain differ only in last ulps, far below 1e-6) — this
        # is what makes the IVF operator exactly oracle-able. np.argmax
        # takes the FIRST max, so with cid-ascending centroid order ties go
        # to the lowest cid — mirrored by the oracle's ROW_NUMBER ORDER BY
        # (rounded sim DESC, cid ASC).
        sims = np.round(sims, 6)
        return pd.Series(cids[np.argmax(sims, axis=1)].astype("int32"))

    return embeddings.withColumn("__cell", cell_of(F.col(vec_col)))


def _rep_cells(
    embeddings: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> DataFrame:
    """Representatives with their IVF cell — (cell, rep_id, n_copies,
    __vec), the input of the per-cell Arrow pair stages. Copies share
    their rep's cell, so the argmax runs once per representative; the
    codebook is still the corpus's (vec_id c, not rep_id c)."""
    centroids = ivf_codebook(embeddings, n_cells, id_col, vec_col)
    reps = rep_collapse(embeddings, id_col, vec_col)
    return assign_ivf_cells(reps, n_cells, "rep_id", vec_col, centroids).select(
        F.col("__cell").alias("cell"),
        "rep_id",
        "n_copies",
        F.col(vec_col).alias("__vec"),
    )


def embedding_near_dup_ivf_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full-corpus embedding near-dup pairs via IVF cells: assign every
    vector to its max-cosine coarse centroid, then run the quadratic pair
    predicate only WITHIN cells — the vector-space analog of the
    MinHash/SimHash bucketed candidate generation.

    Scale: candidates shrink from |V|² to Σ|cell|², and with the
    scale-aware codebook default (choose_ivf_cells — average cell pinned
    near IVF_TARGET_CELL_SIZE members) that sum grows LINEARLY in the
    corpus; the r5 ANN ladder measured the fixed-16-cell form at b=1.69
    (311 s at 31.6× sf0.1) versus this. A true pair whose members
    quantize into different cells is missed BY DESIGN (IVF's recall
    trade-off); identical vectors always share a cell, so exact
    duplicates are never missed.

    r12 redesign: the pair predicate runs at REPRESENTATIVE level
    (rep_collapse — identical vectors share a cell and every copy pair
    shares the rep pair's cosine), and each row carries n_pairs, the
    number of underlying copy pairs it stands for (n_a×n_b across reps,
    C(n,2) within one). On an all-distinct corpus this is the old
    copy-level output with n_pairs=1 and no self rows; on the 2M-row
    1000×-replica bench corpus the old form's exact answer is ~10⁹
    materialized rows — the rep form carries the same information in
    ~10³.

    r13: the within-cell pair stage is ONE Arrow pass — groupBy(cell)
    applyInPandas (_rep_pair_frame, bit-identical output) — replacing the
    cell self-join whose per-pair cosine ran interpreted plus the
    localCheckpoint the join needed to avoid re-running the argmax UDF
    per side. One shuffle (on the cell key) carries the rep frame once. A
    pathological hot cell is one Python group (no AQE split) — bounded by
    choose_ivf_cells' ~IVF_TARGET_CELL_SIZE mean membership.
    """
    if n_cells is None:
        # column-pruned count: parquet row-group metadata only, sub-second
        # at any corpus size
        n_cells = choose_ivf_cells(embeddings.count())
    thr = float(threshold)

    def cell_pairs(pdf):
        return _rep_pair_frame(pdf, thr, cell_val=pdf["cell"].iloc[0])

    out = _rep_cells(embeddings, n_cells, id_col, vec_col).groupBy("cell").applyInPandas(
        cell_pairs,
        "cell int, id_a long, id_b long, cosine_sim double, n_pairs long",
    )
    return out.orderBy("id_a", "id_b")


# Fan-back join tier bound (r13, VERDICT r12 task 2): the per-copy flag
# join broadcasts the rep frame (including its vectors) only when the rep
# count is at or below this bound (~100k reps × ~0.5 KB/row ≈ 50 MB built
# relation — comfortably inside executor memory and far from the 8 GB /
# 512M-row broadcast cap). Above it — the all-distinct-corpus case where
# reps ≈ corpus — the join falls back to a shuffled equi-join on the
# embedding key, which scales instead of OOMing driver+executors. The
# tier TEST (both branches differential-equal, via max_broadcast_reps) is
# tests/test_rep_collapse.py.
SEMANTIC_BCAST_MAX_REPS = 100_000


def semantic_dedup_flags(
    embeddings: DataFrame,
    threshold: float,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_reps: int | None = None,
) -> DataFrame:
    """SemDeDup drop decision, rep-collapsed but BIT-EXACT to the copy-level
    rule: vector b is dropped ⟺ ∃a in the same IVF cell with a.id < b.id
    and cosine(a,b) ≥ threshold.

    Exact collapse (r12): copies of a representative share its cell and
    every cosine it participates in, so per-copy drop status reduces to
    two rep-level facts —
      (1) a copy that is not its rep's minimum id always has an identical
          lower-id cell-mate (the min copy), so it is dropped whenever the
          rep's self-cosine ≥ threshold (the computed dot/(n·n) value, so
          zero vectors — NaN self-cosine — behave exactly as copy-level);
      (2) any copy c is additionally dropped iff some OTHER rep S in the
          cell has cosine(S,R) ≥ threshold and min_id(S) < c.id — i.e.
          c.id exceeds m_low = MIN(min_id over similar cell-mates).
    On an all-distinct corpus both legs degenerate to the original rule
    verbatim. The quadratic pair work runs over representatives only —
    one Arrow pass per cell (r13, _rep_flag_frame); the per-copy flags
    come back through one tier-gated join on the embedding key.

    Returns `embeddings` plus an is_dropped 0/1 column.
    """
    n_total = None
    if n_cells is None:
        n_total = embeddings.count()
        n_cells = choose_ivf_cells(n_total)
    sel = _rep_cells(embeddings, n_cells, id_col, vec_col)
    # Broadcast only below the rep-count tier: the per-rep frame carries
    # the full embedding vectors, so on an all-distinct corpus it IS the
    # corpus and a forced broadcast would OOM at scale. n_total (when the
    # corpus was counted for the codebook) upper-bounds the rep count for
    # free — the common tiers decide WITHOUT an extra job; only above the
    # cap (or with a pinned codebook) is the rep frame checkpointed and
    # counted, which also keeps the argmax UDF single-run for the two
    # consumers that case creates.
    cap = SEMANTIC_BCAST_MAX_REPS if max_broadcast_reps is None else max_broadcast_reps
    if n_total is not None and n_total <= cap:
        n_reps = n_total
    else:
        sel = sel.localCheckpoint(eager=True)
        n_reps = sel.count()
    thr = float(threshold)
    vec_type = dict(embeddings.dtypes)[vec_col]

    def cell_flags(pdf):
        return _rep_flag_frame(pdf, thr, vec_col)

    per_rep = sel.groupBy("cell").applyInPandas(
        cell_flags,
        f"{vec_col} {vec_type}, rep_id long, self_sim_ok boolean, m_low long",
    )
    fan_back = F.broadcast(per_rep) if n_reps <= cap else per_rep
    flagged = embeddings.join(fan_back, vec_col)
    return flagged.withColumn(
        "is_dropped",
        F.when(
            (F.col("self_sim_ok") & (F.col(id_col) > F.col("rep_id")))
            | (F.col("m_low") < F.col(id_col)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: score only vectors in the `nprobe` cells whose
    centroids are most similar to the query — the partition-pruned scale
    path (vs. LSH's hash-bucket pruning). Candidates are scored with the
    literal chain (no broadcast join; the scan stays one codegen stage).
    Recall vs. brute force is asserted in tests. A missing query id gives
    no rows."""
    qvec = query_vector(embeddings, query_vec_id, id_col, vec_col)
    if qvec is None:
        return _no_rows(embeddings, id_col, "cosine_sim")
    # one driver collect serves both the codebook and the probe choice
    centroids = ivf_codebook(embeddings, n_cells, id_col, vec_col)
    with_cell = assign_ivf_cells(embeddings, n_cells, id_col, vec_col, centroids)
    cents = dict(centroids)

    def cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        den = (sum(x * x for x in a) ** 0.5) * (sum(y * y for y in b) ** 0.5)
        return num / den if den else -2.0

    probe = sorted(cents, key=lambda c: cos(qvec, cents[c]), reverse=True)[:nprobe]
    cand = with_cell.where(F.col("__cell").isin(probe)).where(F.col(id_col) != query_vec_id)
    return rank_by_cosine(cand, qvec, k, id_col, vec_col)


def cosine_topk_rerank(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_candidates: int = 50,
    n_planes: int = 8,
    max_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Retrieve-then-rerank: LSH candidate generation → coarse cosine top-N
    → expensive per-pair rerank on the N survivors → final top-k. The
    standard two-stage retrieval pipeline: the cheap stage bounds how many
    pairs the expensive stage ever sees, so rerank cost is O(n_candidates)
    regardless of corpus size — at 100 TB the corpus scan is the pruned
    LSH hamming-ball pass, the coarse top-N is Spark's distributed
    TakeOrderedAndProject, and the reranker touches exactly N rows.

    The rerank stage is Arrow-batched pandas_udf by design — it stands in
    for a learned cross-encoder (the real-world rerank is a model forward
    pass, inherently Python). The stand-in score is a soft-sign
    interaction, sum_j s(c_j*q_j) with s(x)=x/(1+|x|): nonlinear in the
    per-dimension products (so it genuinely reorders the cosine ranking)
    yet rational arithmetic folded left-to-right — bit-reproducible by the
    DuckDB oracle's unrolled chain, like the cosine chain.

    The candidate vectors ride through the coarse top-N (N × dim doubles
    through TakeOrdered — a few KB), avoiding a second corpus scan to
    re-fetch candidate embeddings. A missing query id gives no rows.
    """
    ensure_package_on_executors(embeddings.sparkSession)
    qvec = query_vector(embeddings, query_vec_id, id_col, vec_col)
    if qvec is None:
        return _no_rows(embeddings, id_col, "coarse_sim", "rerank_score")
    qv = np.asarray(qvec, dtype=np.float64)
    bucketed, gate, _qb = lsh_candidates(
        embeddings, qvec, query_vec_id, n_planes, max_hamming, id_col, vec_col
    )
    coarse = (
        bucketed.where(gate)
        .select(
            F.col(id_col),
            F.col(vec_col),
            cosine_query_cols(vec_col, qvec).alias("coarse_sim"),
        )
        .orderBy(F.col("coarse_sim").desc(), F.col(id_col).asc())
        .limit(n_candidates)
    )

    @pandas_udf("double")
    def rerank(vecs: pd.Series) -> pd.Series:
        m = _matrix(vecs.values)
        # dimension-by-dimension accumulation = the SQL chain's left-assoc
        # order per row (vectorized across the batch, sequential across
        # dims) — this is what makes the score exactly oracle-able
        acc = np.zeros(m.shape[0], dtype=np.float64)
        for j in range(m.shape[1]):
            x = m[:, j] * qv[j]
            acc = acc + x / (1.0 + np.abs(x))
        return pd.Series(acc)

    return (
        coarse.withColumn("rerank_score", rerank(F.col(vec_col)))
        .select(F.col(id_col), "coarse_sim", "rerank_score")
        .orderBy(F.col("rerank_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


# --- Recall-targeting probe policy (round 11) ------------------------------
# The r10 recall study (SCALE_STUDY_r10.json:ann_recall) measured organic
# neighbor recall at 0.375 under the single-probe defaults (8 planes,
# hamming<=2; nprobe 4/16) at BOTH scale rungs — scale-invariant, tracking
# the scanned fraction. The knobs existed but nothing chose them from a
# recall target. This is the `choose_banding` analog (operators/dedup.py:61)
# for the ANN family: an ANALYTIC model, not a lookup table.
#
# Model: for a neighbor at cosine c, each random hyperplane separates it
# from the query independently with probability p = arccos(c)/pi (the
# classic SimHash/random-projection collision bound, Charikar 2002 — public
# result). Bucket hamming distance is then Binomial(n_planes, p), so
#   recall(h)    = P[Binom(n_planes, p)       <= h]
#   scan_frac(h) = P[Binom(n_planes, 1/2)     <= h]
# (an isotropic corpus puts C(n,d)/2^n of its mass at hamming d). Because
# p < 1/2 for any c > 0, growing n_planes ~ log2(n_vecs/bucket_target) while
# holding recall >= target drives h/n_planes -> p < 1/2, and the Chernoff
# bound makes scan_frac fall like exp(-2·n_planes·(1/2 - h/n_planes)^2):
# scanned ROWS grow sub-linearly in corpus size. Concretely (c=0.9,
# target 0.9): 2k vecs -> 8 planes, h=2, scan 14.4%; 200k -> 12 planes,
# h=3, scan 7.3%; 20M -> 19 planes, h=5, scan 3.2%.
#
# IVF leg (r12, recalibrated on DECONTAMINATED measurements — v2): nprobe
# is sized from the RANKED-probing model, because that is what
# cosine_topk_ivf actually does — probe the nprobe cells whose centroids
# are most similar to the query, not a hamming ball over the cell code
# (the r11 ball bound was measured ~8-16x conservative and replaced
# early in r12).
#
# Why v2: the first ranked calibration fitted the r11 m100 curves, but
# those were CONTAMINATED — the graded corpus's base query seeds are
# also IVF centroids (at 4,096 cells ALL 64 seeds are), and an
# in-codebook query's planted neighbors quantize to its own cell at
# probe rank 1, inflating measured recall (the r11 m1000 ivf_curve read
# a meaningless uniform 1.0). SCALE_STUDY_r12's out-of-codebook query
# plants (gen_scale.high_query_ids) measured the true curves: the v1
# picks (8/23/53 at bands 0.9/0.8/0.7) reach only 0.84/0.73/0.69
# decontaminated recall at 4,096 cells.
#
# v2 model, fitted to the decontaminated ≥0.9-recall crossings at BOTH
# measured codebook sizes (512 cells / 200k vecs and 4,096 cells / 2M
# vecs, 128 trials per band):
#   ln n*(c, C) = A(c) + B(c) · max(0, ln(C / 512))
#   A knots (the 512-cell crossings):  c=0.9 -> ln 16, 0.8 -> ln 32,
#                                      0.7 -> ln 128
#   B knots (the 4,096-cell lift):     c=0.9 -> ln(23/16)/ln 8,
#                                      0.8 -> ln(53/32)/ln 8,
#                                      0.7 -> 0.35 (deliberately above
#       the measured crossing: the extended r12 sweep then measured the
#       0.7-band 4,096-cell crossing at nprobe≈192 — decontaminated
#       0.9062, a 0.6pp margin — so the 0.35 constant's pick of 266
#       (measured 0.9375) keeps ~1.4x headroom over a knife-edge
#       crossing; it does not feed the audit, which pins band 0.8)
# with A, B linear in c between knots and CLAMPED outside [0.7, 0.9]
# (above 0.9 the clamp is conservative; below 0.7 recalibrate first).
# Miss decay past the crossing follows the measured halve-per-doubling
# law: recall(n) = 1 - (1 - 0.9) · (n*/n) (validated conservative at
# every swept point past n* on both rungs), so a target above 0.9 costs
# n = n* · 0.1/(1-target); targets below 0.9 keep n* (conservative).
# nprobe is capped at n_cells (cap reached -> exhaustive, recall
# exactly 1 — the driver-SF tier-0 pin, 16 cells, is always capped).
# Expected scan fraction stays nprobe/n_cells under the equal-mass-cell
# assumption (honest caveat: real cells are unequal; measured fractions
# live in the SCALE_STUDY files). Second caveat: above
# IVF_MAX_CELLS * IVF_TARGET_CELL_SIZE (~42M) vectors the codebook cap
# grows cells past the calibrated size, so the model drifts —
# recalibrate before quoting it there.
from math import log as _ln

RANKED_KNOTS = {
    # c: (A = ln n* at 512 cells, B = per-ln(8) cell-count lift)
    0.9: (_ln(16.0), _ln(23.0 / 16.0) / _ln(8.0)),
    0.8: (_ln(32.0), _ln(53.0 / 32.0) / _ln(8.0)),
    0.7: (_ln(128.0), 0.35),  # B extrapolated — see block comment
}
RANKED_BASE_CELLS = 512
RANKED_BASE_MISS = 0.1  # 1 - the 0.9 calibration recall at n*
LSH_TARGET_BUCKET_SIZE = 64
LSH_MIN_PLANES = 8
LSH_MAX_PLANES = 20


def _binom_cdf(h: int, n: int, p: float) -> float:
    from math import comb

    return min(1.0, sum(comb(n, i) * p**i * (1 - p) ** (n - i) for i in range(h + 1)))


def lsh_separation_prob(neighbor_cosine: float) -> float:
    """Per-plane probability that a random hyperplane separates a query
    from a neighbor at the given cosine: arccos(c)/pi."""
    from math import acos, pi

    return acos(max(-1.0, min(1.0, neighbor_cosine))) / pi


def _ranked_knot(neighbor_cosine: float) -> tuple[float, float]:
    """(A, B) for the v2 rank law — linear in cosine between the
    calibration knots, clamped outside [0.7, 0.9]."""
    cs = sorted(RANKED_KNOTS)  # [0.7, 0.8, 0.9]
    c = max(cs[0], min(cs[-1], neighbor_cosine))
    for lo, hi in zip(cs, cs[1:]):
        if c <= hi:
            t = (c - lo) / (hi - lo)
            a0, b0 = RANKED_KNOTS[lo]
            a1, b1 = RANKED_KNOTS[hi]
            return a0 + t * (a1 - a0), b0 + t * (b1 - b0)
    return RANKED_KNOTS[cs[-1]]


def ranked_nprobe_crossing(n_cells: int, neighbor_cosine: float) -> int:
    """n* — the modeled nprobe where decontaminated ranked-probing recall
    crosses 0.9 for neighbors at the given cosine (v2 rank law above)."""
    from math import ceil, exp, log

    a, b = _ranked_knot(neighbor_cosine)
    ln_n = a + b * max(0.0, log(n_cells / RANKED_BASE_CELLS))
    # the 1e-9 slack absorbs exp(ln k) landing one ulp above the integer
    return max(1, ceil(exp(ln_n) - 1e-9))


def ranked_probe_recall(
    nprobe: int, n_cells: int, neighbor_cosine: float
) -> float:
    """Modeled DECONTAMINATED probability that ranked centroid probing of
    `nprobe` cells reaches a neighbor at the given cosine: miss decays by
    the measured halve-per-doubling law past the 0.9 crossing n*
    (conservative below it). Probing every cell is brute force — recall
    exactly 1."""
    if nprobe < 1:
        return 0.0
    if nprobe >= n_cells:
        return 1.0
    n_star = ranked_nprobe_crossing(n_cells, neighbor_cosine)
    return max(0.0, 1.0 - RANKED_BASE_MISS * (n_star / nprobe))


def choose_ranked_nprobe(
    n_cells: int, target_recall: float, neighbor_cosine: float
) -> int:
    """nprobe meeting the target under the v2 law: the 0.9 crossing n*
    scaled by the miss-decay law for higher targets (targets below 0.9
    keep n* — conservative), capped at n_cells. Deterministic in its
    arguments."""
    from math import ceil

    n_star = ranked_nprobe_crossing(n_cells, neighbor_cosine)
    if target_recall > 0.9:
        miss = max(1e-9, 1.0 - target_recall)
        n_star = ceil(n_star * RANKED_BASE_MISS / miss - 1e-9)
    return min(n_cells, n_star)


def choose_lsh_planes(n_vecs: int, target_bucket: int = LSH_TARGET_BUCKET_SIZE) -> int:
    """Plane count that pins the average bucket near `target_bucket` rows:
    ceil(log2(n_vecs / target_bucket)), clamped to [8, 20]. The clamp floor
    keeps every driver correctness SF (200 / 2000 vectors) on the static
    8-plane oracle; the ceiling bounds the per-row bucket expression at
    20 sign tests."""
    from math import ceil, log2

    if n_vecs <= 0:
        return LSH_MIN_PLANES
    raw = ceil(log2(max(1.0, n_vecs / target_bucket)))
    return max(LSH_MIN_PLANES, min(LSH_MAX_PLANES, raw))


def choose_probes(
    n_vecs: int,
    target_recall: float = 0.9,
    neighbor_cosine: float = 0.8,
    n_planes: int | None = None,
    n_cells: int | None = None,
) -> dict:
    """Pick LSH (n_planes, max_hamming) and IVF (n_cells, nprobe) so the
    modeled recall for neighbors at `neighbor_cosine` meets `target_recall`
    at the smallest modeled scan fraction. Returns the chosen knobs plus
    the model's expectations (recall and scan fraction, also as exact
    x1e6-quantized ints for oracle-able audit columns).

    Deterministic in its arguments — an audit query can hard-code the
    choices for the driver SFs as SQL literals, exactly like the banding
    ladder's tier-0 pin."""
    p = lsh_separation_prob(neighbor_cosine)
    if n_planes is None:
        n_planes = choose_lsh_planes(n_vecs)
    max_hamming = next(
        h for h in range(n_planes + 1) if _binom_cdf(h, n_planes, p) >= target_recall
    )
    lsh_recall = _binom_cdf(max_hamming, n_planes, p)
    lsh_scan = _binom_cdf(max_hamming, n_planes, 0.5)

    if n_cells is None:
        n_cells = choose_ivf_cells(n_vecs)
    # r12 v2: decontaminated ranked-probing model (see the calibration
    # block above) — the r11 binomial-ball bound over-provisioned ~8-16x;
    # the first ranked fit under-provisioned ~2-3x because its
    # calibration curves were inflated by in-codebook queries.
    nprobe = choose_ranked_nprobe(n_cells, target_recall, neighbor_cosine)
    ivf_recall = ranked_probe_recall(nprobe, n_cells, neighbor_cosine)
    ivf_scan = nprobe / n_cells

    return {
        "n_vecs": n_vecs,
        "target_recall": target_recall,
        "neighbor_cosine": neighbor_cosine,
        "n_planes": n_planes,
        "max_hamming": max_hamming,
        "lsh_expected_recall": lsh_recall,
        "lsh_expected_scan_frac": lsh_scan,
        "lsh_expected_recall_x1e6": int(round(lsh_recall * 1_000_000)),
        "lsh_expected_scan_frac_x1e6": int(round(lsh_scan * 1_000_000)),
        "n_cells": n_cells,
        "nprobe": nprobe,
        "ivf_expected_recall": ivf_recall,
        "ivf_expected_scan_frac": ivf_scan,
        "ivf_expected_recall_x1e6": int(round(ivf_recall * 1_000_000)),
        "ivf_expected_scan_frac_x1e6": int(round(ivf_scan * 1_000_000)),
    }


def hamming_ball(bucket: int, n_planes: int, max_hamming: int) -> list[int]:
    """All bucket ids within `max_hamming` bit flips of `bucket` — the
    candidate partition list for a pre-bucketed corpus (e.g. 37 of 256
    partitions for n_planes=8, max_hamming=2)."""
    from itertools import combinations

    out = []
    for h in range(max_hamming + 1):
        for flips in combinations(range(n_planes), h):
            b = bucket
            for f in flips:
                b ^= 1 << f
            out.append(b)
    return sorted(set(out))


def write_lsh_bucketed_corpus(
    embeddings: DataFrame,
    path: str,
    n_planes: int = 8,
    vec_col: str = "embedding",
) -> None:
    """Corpus-build-time step of the production ANN path: compute the LSH
    bucket ONCE and persist it as a Hive partition column. Every subsequent
    query is then a partition-pruned scan of its hamming ball — the bucket
    recompute (cosine_topk_lsh's per-query cost) moves to write time.
    """
    from seo_audit_etl_actor_spark.sources.partitioned import write_partitioned

    with_bucket = embeddings.withColumn("bucket", lsh_bucket_pandas(n_planes, vec_col))
    write_partitioned(with_bucket, path, ["bucket"])


def cosine_topk_lsh_prebucketed(
    corpus: DataFrame,
    query_vec: list[float],
    query_vec_id: int | None = None,
    k: int = 10,
    n_planes: int = 8,
    max_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Query-time half of the persisted-bucket ANN path: `corpus` is a
    read of write_lsh_bucketed_corpus output (bucket as a partition
    column). The hamming ball is enumerated driver-side into an IN list,
    which Catalyst turns into PartitionFilters — the scan touches only the
    candidate directories (plan-asserted in tests). Top-k output is
    identical to cosine_topk_lsh for the same parameters.
    """
    ball = hamming_ball(_query_bucket(query_vec, n_planes), n_planes, max_hamming)
    cand = corpus.where(F.col(bucket_col).isin(ball))
    if query_vec_id is not None:
        cand = cand.where(F.col(id_col) != query_vec_id)
    return rank_by_cosine(cand, [float(v) for v in query_vec], k, id_col, vec_col)


def cosine_topk_lsh(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int = 8,
    max_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed ANN top-k: only vectors whose bucket is within
    `max_hamming` bits of the query's bucket are scored (defaults scan
    ~14% of the corpus for ~0.7 recall@10 on the synthetic embeddings;
    hamming 3 → 36% scan, ~0.8). A missing query id gives no rows.

    This self-contained form recomputes the bucket column per query — right
    for the catalog harness (no side state). The production path is the
    write-once/persisted variant: write_lsh_bucketed_corpus at corpus-build
    time + cosine_topk_lsh_prebucketed per query, which scans only the
    hamming-ball partitions (PartitionFilters, plan-asserted in tests) and
    returns the identical top-k. Recall vs brute force is validated in
    tests (recall@10 on the synthetic corpus).
    """
    qvec = query_vector(embeddings, query_vec_id, id_col, vec_col)
    if qvec is None:
        return _no_rows(embeddings, id_col, "cosine_sim")
    # Arrow bucket, not a planes×dim chain: the chain form put planes×dim
    # + sim terms into one generated method, which sat exactly on the
    # janino/JIT size boundary — it compiled standalone but failed (and
    # fell back to interpreted eval) inside a long-lived bench session
    bucketed, gate, _qb = lsh_candidates(
        embeddings, qvec, query_vec_id, n_planes, max_hamming, id_col, vec_col
    )
    return rank_by_cosine(bucketed.where(gate), qvec, k, id_col, vec_col)
