"""Generate scaled-up synthetic tables for the super-sf0.1 scaling study
(round-4 verdict task 3): documents at m x sf0.1 by FRESH sampling from
the sf0.1 generator's empirical distributions (vocab, per-doc word-count,
lang/source marginals) — so exact/near-dup density arises by chance at
the same rate as the original generator, instead of the m^2 clone
clusters a naive replicate-with-suffix scheme would create — and lineitem
at m x sf0.1 by orderkey-shifted replication (pair structure per order is
preserved; keyspace grows linearly, exactly how TPC-H itself scales).

Other tables are symlinked from the base dir so query callables that load
dimensions keep working.

Usage: python tools/gen_scale.py OUT_DIR MULTIPLIER [BASE_DIR]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = "/root/testdata/sf0.1"
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def gen_documents(out_dir: str, m: float, base_dir: str, seed: int = 7) -> int:
    t = pq.read_table(f"{base_dir}/documents.parquet")
    texts = t.column("text").to_pylist()
    langs = t.column("lang").to_pylist()
    sources = t.column("source").to_pylist()
    vocab = sorted({w for s in texts for w in s.split()})
    lens = np.array([len(s.split()) for s in texts])
    n_out = int(round(len(texts) * m))
    rng = np.random.default_rng(seed)
    out_lens = rng.choice(lens, size=n_out, replace=True)
    out_langs = rng.choice(np.array(langs), size=n_out, replace=True)
    out_sources = rng.choice(np.array(sources), size=n_out, replace=True)
    vocab_arr = np.array(vocab)
    docs = []
    for ln in out_lens:
        docs.append(" ".join(vocab_arr[rng.integers(0, len(vocab_arr), int(ln))]))
    # r8: PLANT scale-invariant near-dup clusters. The r8 decomposition
    # (SCALE_STUDY_r08.json, "clusters_decomposition") found chance
    # similarity alone never reaches verified Jaccard >= 0.5 on this
    # fresh-sample scheme, so the corpus-driven clusters ladder exercised
    # an EMPTY graph above the driver SFs. Overwrite 1% of docs (in groups
    # of 4: one seed + three perturbed copies, each with ~10% of word
    # positions resampled — 3-shingle Jaccard ~ (0.9)^3/(2-(0.9)^3) ~ 0.57
    # > 0.5 threshold) so near-dup density is scale-INVARIANT: cluster
    # count grows ~ m, cluster size stays 4, matching real-corpus dedup
    # shape.
    n_groups = n_out // 400  # 1% of docs in 4-doc groups
    for g in range(n_groups):
        s = g * 400  # group anchor: seed doc + 3 copies at s+1..s+3
        seed_words = docs[s].split()
        if len(seed_words) < 8:
            continue
        for j in range(1, 4):
            w = list(seed_words)
            n_swap = max(1, len(w) // 10)
            pos = rng.integers(0, len(w), n_swap)
            for p in pos:
                w[int(p)] = str(vocab_arr[int(rng.integers(0, len(vocab_arr)))])
            docs[s + j] = " ".join(w)
    out = pa.table(
        {
            "doc_id": pa.array(range(n_out), pa.int64()),
            "text": pa.array(docs),
            "lang": pa.array(out_langs.tolist()),
            "source": pa.array(out_sources.tolist()),
            "n_chars": pa.array([len(d) for d in docs], pa.int64()),
        }
    )
    # Cap row groups at ~16k rows (r13): pyarrow's 1M-row default makes a
    # 500k-doc rung ONE row group, and Spark's vectorized reader assigns a
    # row group to a single split — the scan stage then runs on one core
    # at ANY core count, poisoning core-scaling measurements (the r13
    # 8-vs-32 study measured curation_funnel at ratio 1.27 on the 1-group
    # layout vs 4.74 after a 32-group rewrite of the SAME bytes). Real
    # 100 TB corpora have thousands of files; small groups make the rung
    # faithful to that shape.
    pq.write_table(out, f"{out_dir}/documents.parquet", row_group_size=16384)
    return n_out


def _replicate_shifted(
    out_dir: str, m: float, base_dir: str, table: str, key_col: str, shift: int
) -> int:
    """Replicate a table ceil(m) times, shifting key_col by r*shift per copy,
    then slice to round(len*m). Orders and lineitem use the SAME shift so
    replicated lineitems still join their replicated orders (fractional m
    orphans a tail sliver — tolerated: a perf probe processes those rows
    either way). o_custkey is deliberately NOT shifted: customers accrue
    m x more orders, which keeps the customer join side valid and scales
    the join the way a growing business (not a growing customer file)
    would."""
    t = pq.read_table(f"{base_dir}/{table}.parquet")
    reps = int(np.ceil(m))
    key = t.column(key_col).to_numpy()
    pieces = []
    total_target = int(round(len(t) * m))
    for r in range(reps):
        piece = t.set_column(
            t.schema.get_field_index(key_col),
            key_col,
            pa.array(key + r * shift, pa.int64()),
        )
        pieces.append(piece)
    out = pa.concat_tables(pieces).slice(0, total_target)
    pq.write_table(out, f"{out_dir}/{table}.parquet")
    return len(out)


# --- graded organic ANN neighbors (r11, verdict task 4) -------------------
# The r10 ann_recall study's organic ("nodup") truth sets were DEGENERATE:
# the embeddings rung was pure exact-replica planting, so every nodup truth
# set collapsed to replicas of one base vector and per-query recall was
# binary over 8 queries. Plant GRADED neighbors instead: for each of 64
# designated query seeds, 4 unique neighbors per cosine band {0.9, 0.8,
# 0.7}, constructed exactly at the target cosine (u = c·v̂ + √(1-c²)·ŵ with
# ŵ ⊥ v̂ drawn from a seeded rng, then renormalized to the corpus's unit
# norm). A small deterministic jitter (±0.006) keeps within-band rankings
# strict while bands stay separated by ~0.1. Planted rows OVERWRITE the
# tail rows of the replicated table (vec_ids kept — recall tooling derives
# truth by brute force, not by knowing the plant), so corpus size and id
# structure are unchanged.
PLANT_BANDS = (0.9, 0.8, 0.7)
PLANT_PER_BAND = 4
PLANT_QUERY_SEEDS = tuple(7 + 31 * i for i in range(64))  # base vec_ids < 2000

# r12: OUT-OF-CODEBOOK query plants. The IVF codebook is the first
# n_cells base vec_ids (similarity.assign_ivf_cells), and every base
# PLANT_QUERY_SEED is < 2000 — so at the m1000 rung (4096 cells) ALL 64
# base queries ARE centroids and their planted neighbors are rank-1 by
# construction (the r11 m1000 ivf_curve's uniform 1.0 recall). These 32
# extra queries are FRESH random unit vectors written into tail replica
# slots, whose vec_ids carry the replica offset (base + r*2^32) and so
# can never enter a codebook; each gets the same 4-per-band graded
# neighbors in the slots that follow. high_query_ids() reproduces their
# vec_ids from (base ids, n_out) so the recall tooling can find them
# without generator bookkeeping in the parquet.
HIGH_QUERY_COUNT = 32
_HIGH_BLOCK = 1 + len(PLANT_BANDS) * PLANT_PER_BAND  # query + its neighbors


def high_query_ids(base_ids, n_out: int) -> list[int]:
    """vec_ids of the out-of-codebook planted queries (tail positions
    mirror gen_embeddings' layout; ids follow the replica formula)."""
    n_base = len(base_ids)
    n_plants = len(PLANT_QUERY_SEEDS) * len(PLANT_BANDS) * PLANT_PER_BAND
    start = n_out - n_plants - HIGH_QUERY_COUNT * _HIGH_BLOCK
    out = []
    for i in range(HIGH_QUERY_COUNT):
        pos = start + i * _HIGH_BLOCK
        out.append(int(base_ids[pos % n_base]) + (pos // n_base) * (1 << 32))
    return out


def gen_embeddings(out_dir: str, m: float, base_dir: str, seed: int = 11) -> int:
    t = pq.read_table(f"{base_dir}/embeddings.parquet")
    ids = t.column("vec_id").to_numpy()
    labels = t.column("label").to_numpy()
    vecs = np.stack(
        [np.asarray(v, dtype=np.float32) for v in t.column("embedding").to_pylist()]
    )
    n_base, dim = vecs.shape
    reps = int(np.ceil(m))
    n_out = int(round(n_base * m))
    out_ids = np.concatenate([ids + r * (1 << 32) for r in range(reps)])[:n_out]
    out_labels = np.tile(labels, reps)[:n_out]
    out_vecs = np.tile(vecs, (reps, 1))[:n_out]

    n_plants = len(PLANT_QUERY_SEEDS) * len(PLANT_BANDS) * PLANT_PER_BAND
    n_high = HIGH_QUERY_COUNT * _HIGH_BLOCK
    if n_out > n_base + n_plants + n_high:  # rungs with replica tail to spare
        rng = np.random.default_rng(seed)
        plant_at = n_out - n_plants  # overwrite the tail replica rows
        p = 0

        def plant_neighbors(vhat: "np.ndarray", at: int) -> int:
            k = 0
            for band in PLANT_BANDS:
                for j in range(PLANT_PER_BAND):
                    c = band + (j - (PLANT_PER_BAND - 1) / 2.0) * 0.004
                    g = rng.standard_normal(dim)
                    w = g - (g @ vhat) * vhat
                    what = w / np.sqrt((w * w).sum())
                    u = c * vhat + np.sqrt(1.0 - c * c) * what
                    out_vecs[at + k] = u.astype(np.float32)
                    k += 1
            return k

        for qid in PLANT_QUERY_SEEDS:
            v = vecs[np.searchsorted(ids, qid)].astype(np.float64)
            vhat = v / np.sqrt((v * v).sum())
            p += plant_neighbors(vhat, plant_at + p)
        # out-of-codebook queries (r12, see module comment): fresh unit
        # query vectors in the slots BEFORE the base plants, each block
        # followed by its own graded neighbors — rng draws come after the
        # base plants' draws, so the base plant stays byte-identical to
        # the r11 corpora
        high_at = n_out - n_plants - n_high
        for i in range(HIGH_QUERY_COUNT):
            g = rng.standard_normal(dim)
            qhat = g / np.sqrt((g * g).sum())
            at = high_at + i * _HIGH_BLOCK
            out_vecs[at] = qhat.astype(np.float32)
            plant_neighbors(qhat, at + 1)

    emb_type = t.schema.field("embedding").type
    # zero-copy list assembly: offsets + the flat value buffer (the
    # row.tolist() form boxed n_out x dim floats — ~20 min and ~37 GB at
    # the 20M rung)
    dim_out = out_vecs.shape[1]
    offsets = pa.array(
        np.arange(0, (len(out_vecs) + 1) * dim_out, dim_out, dtype=np.int32)
    )
    values = pa.array(out_vecs.ravel(), type=emb_type.value_type)
    emb_arr = pa.ListArray.from_arrays(offsets, values)
    out = pa.table(
        {
            "vec_id": pa.array(out_ids, pa.int64()),
            "embedding": emb_arr.cast(emb_type),
            "label": pa.array(out_labels, t.schema.field("label").type),
        }
    )
    pq.write_table(out, f"{out_dir}/embeddings.parquet")
    return len(out)


def _order_shift(base_dir: str) -> int:
    lmax = int(pq.read_table(f"{base_dir}/lineitem.parquet", columns=["l_orderkey"])
               .column("l_orderkey").to_numpy().max())
    omax = int(pq.read_table(f"{base_dir}/orders.parquet", columns=["o_orderkey"])
               .column("o_orderkey").to_numpy().max())
    return max(lmax, omax) + 1


def main() -> None:
    # --docs-only: generate ONLY documents at m x and symlink every other
    # table unscaled — the m >= 1000 rungs exist to probe the document
    # dedup family (minhash tier-2 banding starts at 2M docs), and a
    # 1000 x lineitem replication (600M rows, ~40 GB) would exhaust the
    # host for tables those queries never read. Scoping the rung to the
    # queries it can serve is the harness's job (SPARK_GRAFT_SCALE_QUERIES).
    args = [a for a in sys.argv[1:] if a not in ("--docs-only", "--emb-only")]
    docs_only = "--docs-only" in sys.argv[1:]
    emb_only = "--emb-only" in sys.argv[1:]  # ANN-recall rungs: embeddings
    # (with the graded neighbor plant) at m x; every other table symlinked
    out_dir, m = args[0], float(args[1])
    base_dir = args[2] if len(args) > 2 else BASE
    os.makedirs(out_dir, exist_ok=True)
    generated = (
        ("documents",)
        if docs_only
        else ("embeddings",)
        if emb_only
        else ("documents", "lineitem", "orders", "embeddings")
    )
    for name in TABLES:
        dst = f"{out_dir}/{name}.parquet"
        if name in generated:
            continue
        if not os.path.exists(dst):
            os.symlink(f"{base_dir}/{name}.parquet", dst)
    if emb_only:
        ne = gen_embeddings(out_dir, m, base_dir)
        print(f"{out_dir}: embeddings={ne} (m={m}, emb-only)")
        return
    nd = gen_documents(out_dir, m, base_dir)
    if docs_only:
        print(f"{out_dir}: documents={nd} (m={m}, docs-only)")
        return
    shift = _order_shift(base_dir)
    nl = _replicate_shifted(out_dir, m, base_dir, "lineitem", "l_orderkey", shift)
    no = _replicate_shifted(out_dir, m, base_dir, "orders", "o_orderkey", shift)
    ne = gen_embeddings(out_dir, m, base_dir)
    print(f"{out_dir}: documents={nd} lineitem={nl} orders={no} embeddings={ne} (m={m})")


if __name__ == "__main__":
    main()
