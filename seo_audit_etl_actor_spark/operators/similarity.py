"""Embedding similarity search (engine extension surface; BASELINE.json
north star — absent from the reference).

Brute-force cosine top-k is the correctness baseline; the
random-hyperplane-LSH bucketed variant is the 100 TB path (candidate set
shrinks from n to n/2^n_planes per bucket; the bucket key is uniform so the
self-join shuffle is skew-free).

All arithmetic is double-precision, sequential left-to-right folds — the
exact order the DuckDB oracle uses, so results are bit-identical.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf type-hint resolution needs it in globals
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from seo_audit_etl_actor_spark.session import ensure_package_on_executors

def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (left-to-right, double) — deterministic
    and oracle-matchable, unlike a parallel reduction."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k against one stored vector.

    With `dim` (r12 fast path) the query vector is fetched driver-side
    (one early-stopping lookup) and inlined as a literal codegen chain
    (cosine_query_cols — bit-identical to the HOF fold AND to the
    oracle), so the corpus pass is ONE map-only WholeStageCodegen scan
    feeding TakeOrderedAndProject — Spark's distributed top-k
    (per-partition heads, then merge). Without `dim` the dim-agnostic
    HOF path broadcasts the single-row query side instead (which costs a
    BroadcastNestedLoopJoin that breaks codegen — interpreted chain
    evaluation; fine for small corpora)."""
    if dim:
        q_row = embeddings.where(F.col(id_col) == query_vec_id).select(vec_col).first()
        if q_row is None:
            return embeddings.where(F.lit(False)).select(
                F.col(id_col), F.lit(0.0).alias("cosine_sim")
            )
        sim = cosine_query_cols(vec_col, [float(x) for x in q_row[0]])
        scan = embeddings
    else:
        q = embeddings.where(F.col(id_col) == query_vec_id).select(
            F.col(vec_col).alias("__qvec")
        )
        sim = cosine(F.col(vec_col), F.col("__qvec"))
        scan = embeddings.crossJoin(F.broadcast(q))
    return (
        scan.where(F.col(id_col) != query_vec_id)
        .select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hyperplane_values(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j is derived from
    md5('hp|plane|j') mapped to [-1, 1). Computed driver-side with hashlib
    (identical to any engine's md5) and emitted as float literals — the plan
    carries 64 constants per plane, not 64 hash expressions per row."""
    import hashlib

    out = []
    for j in range(dim):
        h = int(hashlib.md5(f"hp|{plane_idx}|{j}".encode()).hexdigest()[:15], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


def hyperplane(dim: int, plane_idx: int) -> Column:
    return F.array(*[F.lit(v) for v in hyperplane_values(dim, plane_idx)])


def _dot_sql(vec_sql: str, weights: list[float]) -> str:
    """Unrolled multiply-add dot product as ONE SQL string. Building the
    same tree with Python Column operators costs one py4j round-trip per
    term (dim×planes ≈ thousands → multi-second plan construction);
    parsing a single expr string is one round-trip and the resulting plan
    (and whole-stage codegen) is identical."""
    terms = [
        f"CAST(element_at({vec_sql}, {j + 1}) AS DOUBLE)*({w!r}D)"
        for j, w in enumerate(weights)
    ]
    return "(0.0D + " + " + ".join(terms) + ")"


def dot_cols_sql(a_sql: str, b_sql: str, dim: int) -> str:
    """Unrolled dot product of two array COLUMNS as one SQL string —
    whole-stage-codegen arithmetic replacing the F.aggregate/zip_with HOF
    fold (CodegenFallback: one interpreted lambda eval per element, which
    the r12 2M-vector sf0.1 bench corpus exposed at ~10 s/query/pass).
    The chain is the same left-assoc sequence as the fold, INCLUDING the
    0.0 seed, so every double is bit-identical to `dot` and to the DuckDB
    oracle chains."""
    terms = [
        f"CAST(element_at({a_sql}, {j}) AS DOUBLE)*CAST(element_at({b_sql}, {j}) AS DOUBLE)"
        for j in range(1, dim + 1)
    ]
    return "(0.0D + " + " + ".join(terms) + ")"


def cosine_query_cols(vec_sql: str, qvec: list[float]) -> Column:
    """Cosine of an array column against a DRIVER-SIDE query vector,
    emitted as one literal-weight codegen chain (the lsh_bucket pattern).

    Bit-identical to the oracle's chain: the numerator terms multiply the
    cast element by the literal double (same value CAST(e[j] AS DOUBLE)
    produces), the column norm is the unrolled self-chain, and the query
    norm is folded left-assoc in Python (IEEE doubles, same order) with
    math.sqrt (correctly rounded — identical to SQL SQRT).

    The point vs the crossJoin(broadcast(q)) form: a BroadcastNestedLoop
    join breaks whole-stage codegen, so every downstream chain term runs
    INTERPRETED (~15 µs/row at dim 64 — the r12 2M-vector corpus exposed
    it at ~20 s/query); the literal chain keeps the whole scan inside one
    WholeStageCodegen stage (~1 µs/row, scan-bound).
    """
    import math

    nq = 0.0
    for y in qvec:
        nq = nq + float(y) * float(y)
    return F.expr(
        f"({_dot_sql(vec_sql, [float(y) for y in qvec])})"
        f" / (SQRT({dot_cols_sql(vec_sql, vec_sql, len(qvec))})"
        f" * ({math.sqrt(nq)!r}D))"
    )


def lsh_bucket(vec_sql: str, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id: bit i = sign(vec · plane_i).

    `vec_sql` is the SQL name/expression of the array column. The dot
    products are unrolled multiply-add chains over literal plane weights —
    whole-stage-codegen arithmetic, no interpreted lambda per element (the
    bucket is sign-based so fold order is irrelevant here) — assembled as a
    single expr string (see _dot_sql)."""
    bits = [
        f"(CASE WHEN {_dot_sql(vec_sql, hyperplane_values(dim, i))} > 0D"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    ]
    return F.expr("CAST((" + " + ".join(bits) + ") AS INT)")


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


# r13 negative result, recorded so it is not retried: replacing the
# HOF-fold pair cosine with the unrolled element_at codegen chains
# (dot_cols_sql) in the three rep-pair operators was A/B-measured
# 1.7-2.6x SLOWER at sf0.1 (embedding_near_dup run 2.1-3.9 s HOF vs
# 5.2-6.5 s chain; ivf likewise, 6 runs each, one session). The chains
# win on MAP-ONLY scans (cosine_query_cols: one WholeStageCodegen
# stage), but the pair stages evaluate the cosine behind a join — BNLJ
# for the sample all-pairs, post-join filter for the cell join — where
# the 64-term chain is (a) re-inlined into the filter condition (double
# eval) and (b) evaluated interpreted, which costs more than the same
# arithmetic as an interpreted fold. What DID win (below) is taking the
# whole pair stage to the Arrow/NumPy path (guide §4.2), with the fold's
# arithmetic preserved bit-for-bit.


def _fold_dot_np(A, B):
    """Per-row dot product with the HOF fold's EXACT arithmetic: float64
    products per dimension, accumulated in ascending-dimension order from
    a 0.0 seed — the same left-assoc IEEE sequence as dot()'s
    zip_with + aggregate fold (and the DuckDB oracle chains), vectorized
    ACROSS rows instead of interpreted per element. Same discipline as
    cosine_topk_rerank's rerank UDF (sequential across dims, vectorized
    across the batch)."""
    import numpy as np

    acc = np.zeros(A.shape[0], dtype=np.float64)
    for j in range(A.shape[1]):
        acc = acc + A[:, j] * B[:, j]
    return acc


# Bounds the (pairs × dim) fancy-index copies one group materializes at a
# time inside the Arrow pair stage: 1M pairs × 64 dims × 8 B × ~3 arrays
# ≈ 1.5 GB peak per task worst-case, and cell-sized groups (≤ ~640 reps ≈
# 205k pairs under choose_ivf_cells) never reach it.
_PAIR_BLOCK = 1_000_000


def _rep_pair_frame(pdf, threshold: float, cell_val=None):
    """Cross + self near-dup rows for ONE group of representatives.

    Replaces the cell self-join + per-pair interpreted HOF cosine with
    NumPy over the group's Arrow batch (guide §4.2): sort by rep_id, form
    the a<b upper-triangle pairs, score with _fold_dot_np (bit-identical
    to the fold), keep sim >= threshold. NaN sims (zero vectors) are
    KEPT, matching Spark's and DuckDB's NaN-greatest comparison order.
    Self rows (n_copies > 1) use the same d/(sqrt(d)*sqrt(d)) sequence
    the column form computed."""
    import numpy as np
    import pandas as pd

    order = np.argsort(pdf["rep_id"].to_numpy(), kind="stable")
    ids = pdf["rep_id"].to_numpy()[order]
    nc = pdf["n_copies"].to_numpy()[order]
    M = np.stack(pdf["__vec"].to_numpy()[order]).astype(np.float64, copy=False)
    d_self = _fold_dot_np(M, M)
    norms = np.sqrt(d_self)
    frames = []
    ia, ib = np.triu_indices(len(ids), 1)
    for s in range(0, len(ia), _PAIR_BLOCK):
        sa, sb = ia[s : s + _PAIR_BLOCK], ib[s : s + _PAIR_BLOCK]
        sim = _fold_dot_np(M[sa], M[sb]) / (norms[sa] * norms[sb])
        keep = (sim >= threshold) | np.isnan(sim)
        if keep.any():
            frames.append(
                pd.DataFrame(
                    {
                        "id_a": ids[sa][keep],
                        "id_b": ids[sb][keep],
                        "cosine_sim": sim[keep],
                        "n_pairs": (nc[sa][keep] * nc[sb][keep]).astype(np.int64),
                    }
                )
            )
    selfsim = d_self / (norms * norms)
    skeep = (nc > 1) & ((selfsim >= threshold) | np.isnan(selfsim))
    if skeep.any():
        frames.append(
            pd.DataFrame(
                {
                    "id_a": ids[skeep],
                    "id_b": ids[skeep],
                    "cosine_sim": selfsim[skeep],
                    "n_pairs": (nc[skeep] * (nc[skeep] - 1) // 2).astype(np.int64),
                }
            )
        )
    import numpy as _np

    if frames:
        out = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    else:
        out = pd.DataFrame(
            {
                "id_a": _np.array([], dtype=_np.int64),
                "id_b": _np.array([], dtype=_np.int64),
                "cosine_sim": _np.array([], dtype=_np.float64),
                "n_pairs": _np.array([], dtype=_np.int64),
            }
        )
    if cell_val is not None:
        out.insert(0, "cell", _np.full(len(out), cell_val, dtype=_np.int32))
    return out


def _rep_flag_frame(pdf, threshold: float, vec_col: str):
    """Per-rep SemDeDup facts for ONE cell group: (vector passthrough,
    rep_id, self_sim_ok, m_low) — the Arrow form of the cell self-join +
    min aggregation in semantic_dedup_flags, with the fold arithmetic and
    the NaN-greatest comparison order preserved (see _rep_pair_frame).
    m_low = MIN rep_id over cell-mates with cosine >= threshold (both
    pair directions, a != b), NULL when no mate qualifies."""
    import numpy as np
    import pandas as pd

    order = np.argsort(pdf["rep_id"].to_numpy(), kind="stable")
    ids = pdf["rep_id"].to_numpy()[order]
    vec_raw = pdf["__vec"].to_numpy()[order]
    M = np.stack(vec_raw).astype(np.float64, copy=False)
    d_self = _fold_dot_np(M, M)
    norms = np.sqrt(d_self)
    selfsim = d_self / (norms * norms)
    self_ok = (selfsim >= threshold) | np.isnan(selfsim)
    m = len(ids)
    sent = np.iinfo(np.int64).max
    mlow = np.full(m, sent, dtype=np.int64)
    ia, ib = np.triu_indices(m, 1)
    for s in range(0, len(ia), _PAIR_BLOCK):
        sa, sb = ia[s : s + _PAIR_BLOCK], ib[s : s + _PAIR_BLOCK]
        sim = _fold_dot_np(M[sa], M[sb]) / (norms[sa] * norms[sb])
        keep = (sim >= threshold) | np.isnan(sim)
        np.minimum.at(mlow, sb[keep], ids[sa][keep])
        np.minimum.at(mlow, sa[keep], ids[sb][keep])
    return pd.DataFrame(
        {
            vec_col: vec_raw,
            "rep_id": ids,
            "self_sim_ok": self_ok,
            "m_low": pd.array(
                [None if v == sent else int(v) for v in mlow], dtype="Int64"
            ),
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
    # replaces the a.id<b.id BroadcastNestedLoopJoin whose per-pair HOF
    # cosine ran interpreted — guide §4.2's batch-native path, measured
    # ~2.1-3.9 s -> sub-second at sf0.1 with bit-identical output
    # (_rep_pair_frame preserves the fold arithmetic and NaN order).
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


def assign_ivf_cells(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF coarse quantization with deterministic centroids: cell c's
    centroid is the stored vector with vec_id == c (a fixed, reproducible
    codebook — the k-means training step is an offline refinement, not a
    correctness requirement). Each vector is assigned to its max-cosine
    centroid.

    At 100 TB the assignment is a map-only Arrow pass (centroid matrix
    broadcast inside the UDF closure — a few KB); the cell column is then a
    partition/cluster key, so a query scans only `nprobe` cells — classic
    IVF partition pruning.
    """
    if centroids is None:
        # orderBy pins the codebook order (collect order off a filtered scan
        # is partition order, not guaranteed) — tie-breaks depend on it
        centroids = [
            (int(r[0]), [float(x) for x in r[1]])
            for r in embeddings.where(F.col(id_col) < n_cells)
            .select(id_col, vec_col)
            .orderBy(id_col)
            .collect()
        ]
    # Arrow-batched argmax assignment (SURVEY §2.10's sanctioned Python
    # path for embedding math): one (batch × dim) @ (dim × n_cells) NumPy
    # matmul per Arrow batch. An expression-tree encoding was tried first
    # and abandoned: the n_cells × dim multiply-add chains get re-inlined
    # into every downstream consumer (the probe-cell FILTER references the
    # argmax ~2×n_cells times → a 500k-node condition and multi-second
    # planning), while the matmul is O(1) plan nodes and ~100 ns/vector.
    ensure_package_on_executors(embeddings.sparkSession)
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    cids = np.asarray([cid for cid, _ in centroids], dtype=np.int64)
    cmat = np.asarray([cvec for _, cvec in centroids], dtype=np.float64)
    cnorms = np.sqrt((cmat * cmat).sum(axis=1))

    @pandas_udf("int")
    def cell_of(vecs: pd.Series) -> pd.Series:
        # vectorized stack: Arrow hands back ndarray elements; one 2D
        # stack + exact float32->float64 widening beats a per-row
        # lambda (~2 us/row x corpus) by ~10x
        m = np.stack(vecs.values).astype(np.float64, copy=False)
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
    (311 s at 31.6× sf0.1) versus this. The self-join shuffles on the cell
    key; a skewed (hot) cell takes AQE's skew split. A true pair whose
    members quantize into different cells is missed BY DESIGN (IVF's
    recall trade-off); identical vectors always share a cell, so exact
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
    applyInPandas with the fold arithmetic vectorized across the cell's
    pairs (_rep_pair_frame, bit-identical output) — replacing the cell
    self-join whose per-pair HOF cosine ran interpreted (~16M lambda
    evals at sf0.1) plus the localCheckpoint the join needed to avoid
    re-running the argmax UDF per side. The assignment now has a SINGLE
    consumer, so no materialization job; one shuffle (on the cell key)
    carries the rep frame once instead of twice. A pathological hot cell
    is one Python group (no AQE split) — bounded by choose_ivf_cells'
    ~IVF_TARGET_CELL_SIZE mean membership, same guarantee the old
    self-join relied on for its Σ|cell|² bound.
    """
    if n_cells is None:
        # column-pruned count: parquet row-group metadata only, sub-second
        # at any corpus size
        n_cells = choose_ivf_cells(embeddings.count())
    centroids = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in embeddings.where(F.col(id_col) < n_cells)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    ]
    reps = rep_collapse(embeddings, id_col, vec_col)
    assigned = assign_ivf_cells(reps, n_cells, "rep_id", vec_col, centroids)
    sel = assigned.select(
        F.col("__cell").alias("cell"),
        "rep_id",
        "n_copies",
        F.col(vec_col).alias("__vec"),
    )
    thr = float(threshold)

    def cell_pairs(pdf):
        return _rep_pair_frame(pdf, thr, cell_val=pdf["cell"].iloc[0])

    out = sel.groupBy("cell").applyInPandas(
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
    one Arrow pass per cell (r13, _rep_flag_frame: the fold arithmetic
    vectorized across the cell's pairs, replacing the cell self-join +
    interpreted per-pair HOF cosine AND the groupBy it fed); the per-copy
    flags come back through one tier-gated join on the embedding key.

    Returns `embeddings` plus an is_dropped 0/1 column.
    """
    n_total = None
    if n_cells is None:
        n_total = embeddings.count()
        n_cells = choose_ivf_cells(n_total)
    centroids = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in embeddings.where(F.col(id_col) < n_cells)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    ]
    reps = rep_collapse(embeddings, id_col, vec_col)
    assigned = assign_ivf_cells(reps, n_cells, "rep_id", vec_col, centroids)
    sel = assigned.select(
        F.col("__cell").alias("cell"),
        "rep_id",
        "n_copies",
        F.col(vec_col).alias("__vec"),
    )
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
    dim: int | None = None,
) -> DataFrame:
    """IVF ANN top-k: score only vectors in the `nprobe` cells whose
    centroids are most similar to the query — the partition-pruned scale
    path (vs. LSH's hash-bucket pruning). Recall vs. brute force is
    asserted in tests. With `dim`, candidate scoring is the unrolled
    codegen chain (bit-identical to the HOF fold — dot_cols_sql)."""
    # one driver collect serves both the codebook and the probe choice;
    # orderBy pins the codebook order so tie-breaks are reproducible
    centroids = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in embeddings.where(F.col(id_col) < n_cells)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    ]
    with_cell = assign_ivf_cells(embeddings, n_cells, id_col, vec_col, centroids)
    q_row = embeddings.where(F.col(id_col) == query_vec_id).select(vec_col).first()
    qvec = [float(x) for x in q_row[0]]
    cents = dict(centroids)

    def cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        den = (sum(x * x for x in a) ** 0.5) * (sum(y * y for y in b) ** 0.5)
        return num / den if den else -2.0

    probe = sorted(cents, key=lambda c: cos(qvec, cents[c]), reverse=True)[:nprobe]
    if dim:
        # literal-chain scoring: no broadcast join, candidate scan stays
        # one WholeStageCodegen stage (see cosine_query_cols)
        sim = cosine_query_cols(vec_col, qvec)
        scan = with_cell.where(F.col("__cell").isin(probe))
    else:
        q = embeddings.where(F.col(id_col) == query_vec_id).select(
            F.col(vec_col).alias("__qvec")
        )
        sim = cosine(F.col(vec_col), F.col("__qvec"))
        scan = with_cell.where(F.col("__cell").isin(probe)).crossJoin(F.broadcast(q))
    return (
        scan.where(F.col(id_col) != query_vec_id)
        .select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_rerank(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_candidates: int = 50,
    dim: int = 64,
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
    DuckDB oracle's unrolled chain, like the cosine fold.

    The candidate vectors ride through the coarse top-N (N × dim doubles
    through TakeOrdered — a few KB), avoiding a second corpus scan to
    re-fetch candidate embeddings.
    """
    ensure_package_on_executors(embeddings.sparkSession)
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    q_row = embeddings.where(F.col(id_col) == query_vec_id).select(vec_col).first()
    qv = np.asarray([float(x) for x in q_row[0]], dtype=np.float64)

    # literal query bucket + literal-chain coarse cosine (r12): the
    # candidate pass is one map-only scan, no broadcast join; the corpus
    # bucket uses the Arrow path (bit-identical — see cosine_topk_lsh)
    qb = lsh_bucket_py([float(x) for x in q_row[0]], dim, n_planes)
    with_bucket = embeddings.withColumn(
        "__bucket", lsh_bucket_pandas(dim, n_planes, vec_col)
    )
    coarse = (
        with_bucket.where(F.col(id_col) != query_vec_id)
        .where(
            F.bit_count(F.col("__bucket").bitwiseXOR(F.lit(qb)).cast("long"))
            <= max_hamming
        )
        .select(
            F.col(id_col),
            F.col(vec_col),
            cosine_query_cols(vec_col, [float(x) for x in q_row[0]]).alias(
                "coarse_sim"
            ),
        )
        .orderBy(F.col("coarse_sim").desc(), F.col(id_col).asc())
        .limit(n_candidates)
    )

    @pandas_udf("double")
    def rerank(vecs: pd.Series) -> pd.Series:
        # vectorized stack: Arrow hands back ndarray elements; one 2D
        # stack + exact float32->float64 widening beats a per-row
        # lambda (~2 us/row x corpus) by ~10x
        m = np.stack(vecs.values).astype(np.float64, copy=False)
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


def lsh_bucket_pandas(dim: int, n_planes: int = 8, vec_col: str = "embedding") -> Column:
    """Arrow-batched LSH bucket id — bit-identical to lsh_bucket's SQL
    chain: each plane's dot product is accumulated dimension-by-dimension
    (vectorized across the batch, sequential across dims — the same
    left-assoc IEEE order as the 0.0D-seeded chain), so the sign test
    agrees even when a dot product sits within an ulp of zero.

    Why it exists (r12): at production plane counts the expression form
    is n_planes × dim multiply-add terms in ONE generated method —
    past ~15 planes that crosses the JVM JIT's huge-method ceiling and
    the whole stage drops to interpreted bytecode (~10 µs/row/plane
    measured on the 2M-vector corpus). The Arrow path is O(1) plan nodes
    and ~2 GFLOP/s vectorized regardless of plane count."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        ensure_package_on_executors(active)
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    planes = np.asarray(
        [hyperplane_values(dim, i) for i in range(n_planes)], dtype=np.float64
    )

    @pandas_udf("int")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        # vectorized stack: Arrow hands back ndarray elements; one 2D
        # stack + exact float32->float64 widening beats a per-row
        # lambda (~2 us/row x corpus) by ~10x
        m = np.stack(vecs.values).astype(np.float64, copy=False)
        # BLAS matmul for the dots, exact left-assoc recompute ONLY where
        # the fast value sits inside the summation-order error bound of
        # zero: |pairwise - leftassoc| <= 2n·eps·Σ|m_j·w_j| ≈ 5e-12 for
        # dim 64 / |x| ≤ 6 / |w| < 1 — so for |fast| ≥ 1e-8 the sign test
        # provably agrees with the chain, and the rare near-zero dots get
        # the chain verbatim. Bit-identical bucket, matmul speed.
        d = m @ planes.T
        near = np.abs(d) < 1e-8
        if near.any():
            for r, c in zip(*np.nonzero(near)):
                acc = 0.0
                v, w = m[r], planes[c]
                for j in range(v.shape[0]):
                    acc = acc + v[j] * w[j]
                d[r, c] = acc
        out = ((d > 0.0).astype(np.int64) << np.arange(n_planes, dtype=np.int64)).sum(
            axis=1
        )
        return pd.Series(out.astype("int32"))

    return bucket_of(F.col(vec_col))


def lsh_bucket_py(vec: list[float], dim: int, n_planes: int = 8) -> int:
    """Driver-side twin of lsh_bucket for a single query vector: Python's
    left-assoc sum matches the SQL chain bit-for-bit, so the bucket agrees
    with the persisted corpus column."""
    bucket = 0
    for i in range(n_planes):
        ws = hyperplane_values(dim, i)
        if sum(float(x) * w for x, w in zip(vec, ws)) > 0.0:
            bucket |= 1 << i
    return bucket


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
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
) -> None:
    """Corpus-build-time step of the production ANN path: compute the LSH
    bucket ONCE and persist it as a Hive partition column. Every subsequent
    query is then a partition-pruned scan of its hamming ball — the bucket
    recompute (cosine_topk_lsh's per-query cost) moves to write time.
    """
    from seo_audit_etl_actor_spark.sources.partitioned import write_partitioned

    with_bucket = embeddings.withColumn("bucket", lsh_bucket(vec_col, dim, n_planes))
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
    qb = lsh_bucket_py(query_vec, len(query_vec), n_planes)
    ball = hamming_ball(qb, n_planes, max_hamming)
    cand = corpus.where(F.col(bucket_col).isin(ball))
    if query_vec_id is not None:
        cand = cand.where(F.col(id_col) != query_vec_id)
    # literal-chain cosine (r12): stays inside the pruned scan's codegen
    sim = cosine_query_cols(vec_col, [float(v) for v in query_vec])
    return (
        cand.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_lsh(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    max_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed ANN top-k: only vectors whose bucket is within
    `max_hamming` bits of the query's bucket are scored (defaults scan
    ~14% of the corpus for ~0.7 recall@10 on the synthetic embeddings;
    hamming 3 → 36% scan, ~0.8).

    This self-contained form recomputes the bucket column per query — right
    for the catalog harness (no side state). The production path is the
    write-once/persisted variant: write_lsh_bucketed_corpus at corpus-build
    time + cosine_topk_lsh_prebucketed per query, which scans only the
    hamming-ball partitions (PartitionFilters, plan-asserted in tests) and
    returns the identical top-k. Recall vs brute force is validated in
    tests (recall@10 on the synthetic corpus).
    """
    q_row = embeddings.where(F.col(id_col) == query_vec_id).select(vec_col).first()
    if q_row is None:
        return embeddings.where(F.lit(False)).select(
            F.col(id_col), F.lit(0.0).alias("cosine_sim")
        )
    qv = [float(x) for x in q_row[0]]
    # query bucket computed driver-side (lsh_bucket_py — bit-identical to
    # the SQL chain) and inlined as a literal: the candidate pass is ONE
    # map-only WholeStageCodegen scan, no broadcast join (r12 — the join
    # form left the chain interpreted; see cosine_query_cols)
    qb = lsh_bucket_py(qv, dim, n_planes)
    # Arrow bucket (bit-identical to the SQL chain — see lsh_bucket_pandas):
    # the chain form put planes×dim + sim terms into one generated method,
    # which sat exactly on the janino/JIT size boundary — it compiled
    # standalone but failed (and fell back to interpreted eval) inside a
    # long-lived bench session
    with_bucket = embeddings.withColumn(
        "__bucket", lsh_bucket_pandas(dim, n_planes, vec_col)
    )
    cand = (
        with_bucket.where(F.col(id_col) != query_vec_id)
        .where(
            F.bit_count(F.col("__bucket").bitwiseXOR(F.lit(qb)).cast("long"))
            <= max_hamming
        )
    )
    sim = cosine_query_cols(vec_col, qv)
    return (
        cand.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )
