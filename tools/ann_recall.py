"""Recall-vs-scan-fraction study for the ANN probe policy (r11 verdict
tasks 1+4). The r10 version measured recall 0.375 under single-probe
defaults but its organic truth sets were DEGENERATE (pure-replica corpus,
8 queries, binary recall). This version runs on the r11 graded corpus
(tools/gen_scale.py plants 4 unique neighbors per cosine band {0.9, 0.8,
0.7} for each of 64 query seeds) and measures, at each rung:

  - per-BAND recall: of the 4 planted neighbors at cosine c, how many are
    retrieved at each LSH hamming radius / IVF probe depth;
  - nodup recall@10 (the r10 metric, now non-degenerate);
  - the MEASURED scan fraction at each radius/depth;
  - the policy point: similarity.choose_probes' chosen knobs, its modeled
    expectations, and whether the measured recall meets the target.

One corpus pass per path per rung: every query's cosine, hamming distance
and IVF cell land in a single broadcast-join job; radius/depth sweeps then
derive driver-side from the per-query top-K candidates (exact for these
metrics because every planted/replica row's cosine >= 0.69 while organic
chance tops out ~0.46 — any candidate outranking a truth row is itself in
the collected top slice).

r12: the ivf sweeps additionally report a DECONTAMINATED recall over
queries that are not codebook centroids (gen_scale's 32 out-of-codebook
high-id query plants + base seeds outside the codebook) — base seeds
inside the codebook get their planted neighbors at centroid rank 1 by
construction, which saturated the r11 m1000 ivf_curve at 1.0.

Usage: python tools/ann_recall.py m10=/tmp/scale_m10 m100=/tmp/scale_m100
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from gen_scale import (
    HIGH_QUERY_COUNT,
    PLANT_BANDS,
    PLANT_PER_BAND,
    PLANT_QUERY_SEEDS,
    high_query_ids,
)
from seo_audit_etl_actor_spark.operators import similarity
from seo_audit_etl_actor_spark.session import get_spark, load_table

K = 10
# SPARK_GRAFT_ANN_QUERIES trims the query panel for big rungs (the m1000
# embeddings rung at 2M vectors costs ~1 corpus-minute per query)
N_QUERIES = int(os.environ.get("SPARK_GRAFT_ANN_QUERIES", "32"))
# per-query candidate slice collected — must exceed the EXACT-replica
# count (n_vecs/2000 per base vector) or the graded truth rows fall
# outside the slice; sized per rung in run_rung
TOP_SLICE_SLACK = 150
NEAR_EXACT = 1.0 - 1e-6
BAND_WINDOW = 0.02
TARGET_RECALL = 0.9


def run_rung(spark, label: str, sf_dir: str) -> dict:
    emb = load_table(spark, sf_dir, "embeddings").persist()
    n_vecs = emb.count()
    qids = list(PLANT_QUERY_SEEDS[:N_QUERIES])
    pols = {c: similarity.choose_probes(n_vecs, TARGET_RECALL, c) for c in PLANT_BANDS}
    planes = pols[PLANT_BANDS[0]]["n_planes"]
    n_cells = pols[PLANT_BANDS[0]]["n_cells"]

    # r12: out-of-codebook query plants (gen_scale.high_query_ids) — the
    # IVF codebook is the first n_cells BASE vec_ids, so base query seeds
    # sitting inside it get their planted neighbors at centroid rank 1 by
    # construction (the r11 m1000 artifact: 4096 cells ⊇ all 64 seeds ->
    # uniform 1.0 IVF recall). High-id queries can never be centroids;
    # the ivf sweeps report a decontaminated recall over them plus the
    # base seeds outside the codebook.
    base_ids = sorted(
        int(r[0])
        for r in emb.where(F.col("vec_id") < (1 << 32)).select("vec_id").collect()
    )
    n_plants = len(PLANT_QUERY_SEEDS) * len(PLANT_BANDS) * PLANT_PER_BAND
    n_high = HIGH_QUERY_COUNT * (1 + len(PLANT_BANDS) * PLANT_PER_BAND)
    high_qids: list[int] = []
    if n_vecs > len(base_ids) + n_plants + n_high:
        high_qids = high_query_ids(base_ids, n_vecs)
    all_qids = qids + high_qids

    # --- one corpus pass: cosine + hamming + cell for all queries -------
    # r12 rewrite for the 2M+ rungs: the old shape crossJoined the
    # broadcast query set against the corpus (96 queries × 2M rows of
    # interpreted HOF cosine ≈ 192M lambda-tree evals) under a
    # planes×dim literal bucket expression that janino/JIT refuse at 15
    # planes. Now: Arrow bucket (lsh_bucket_pandas), ONE mapInPandas
    # scoring pass (BLAS matmul cosines for all queries, per-PARTITION
    # top-slices emitted), hamming counts derived driver-side from the
    # bucket HISTOGRAM (≤2^planes buckets — no pair-level hamming at
    # all), and a final window trim over the per-partition slices.
    # Cosines here are pairwise-summed (matmul), not the left-assoc
    # chain — fine for a measurement study (band windows are ±0.02,
    # ulp-scale reorderings don't move recall), noted for honesty.
    t0 = time.time()
    assigned = similarity.assign_ivf_cells(
        emb.withColumn("b", similarity.lsh_bucket_pandas(planes)), n_cells
    ).persist()
    qrows = assigned.where(F.col("vec_id").isin(all_qids)).collect()
    qvecs = {
        int(r["vec_id"]): np.asarray([float(x) for x in r["embedding"]])
        for r in qrows
    }
    qid_arr = np.asarray(sorted(qvecs), dtype=np.int64)
    qmat = np.stack([qvecs[int(q)] for q in qid_arr])
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))
    qb_by_qid = {int(r["vec_id"]): int(r["b"]) for r in qrows}
    slice_n = K + max(0, n_vecs // 2000) + TOP_SLICE_SLACK

    def score_part(batches):
        vids, bs, cells, coss = [], [], [], []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["embedding"].values).astype(np.float64, copy=False)
            nv = np.sqrt((m * m).sum(axis=1))
            c = (qmat @ m.T) / (qnorm[:, None] * nv[None, :])
            vids.append(pdf["vec_id"].to_numpy())
            bs.append(pdf["b"].to_numpy())
            cells.append(pdf["__cell"].to_numpy())
            coss.append(c)
        if not vids:
            return
        vid = np.concatenate(vids)
        b = np.concatenate(bs)
        cell = np.concatenate(cells)
        cos = np.concatenate(coss, axis=1)  # (n_queries, n_part_rows)
        out = []
        for i, q in enumerate(qid_arr):
            row = cos[i]
            # +1: the query's own row may occupy a slot in this
            # partition's slice and is dropped after the union
            keep = min(slice_n + 1, row.shape[0])
            idx = np.argpartition(-row, keep - 1)[:keep]
            out.append(
                pd.DataFrame(
                    {
                        "qid": int(q),
                        "vec_id": vid[idx],
                        "cos": row[idx],
                        "b": b[idx],
                        "cell": cell[idx],
                    }
                )
            )
        yield pd.concat(out, ignore_index=True)

    sliced = assigned.select("vec_id", "embedding", "b", "__cell").mapInPandas(
        score_part, "qid long, vec_id long, cos double, b int, cell int"
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    top_rows = (
        sliced.where(F.col("vec_id") != F.col("qid"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= slice_n)
        .collect()
    )
    top = [
        {
            "qid": int(r["qid"]),
            "vec_id": int(r["vec_id"]),
            "cos": float(r["cos"]),
            "ham": int(bin(int(r["b"]) ^ qb_by_qid[int(r["qid"])]).count("1")),
            "cell": int(r["cell"]),
        }
        for r in top_rows
    ]
    bucket_hist = {
        int(r["b"]): int(r["n"])
        for r in assigned.groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    ham_counts: dict[tuple[int, int], int] = {}
    for q, qb in qb_by_qid.items():
        for b_val, n in bucket_hist.items():
            key = (q, bin(b_val ^ qb).count("1"))
            ham_counts[key] = ham_counts.get(key, 0) + n
        # the old pair pass excluded the query row itself (hamming 0)
        ham_counts[(q, 0)] -= 1
    cell_sizes = {
        int(r["__cell"]): int(r["n"])
        for r in assigned.groupBy("__cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    centroids = {
        int(r["vec_id"]): np.asarray([float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id") < n_cells).collect()
    }
    t_pass = time.time() - t0
    assigned.unpersist()
    emb.unpersist()

    # per-query centroid-similarity probe order (the driver-side half of
    # cosine_topk_ivf, vectorized)
    cmat = np.stack([centroids[c] for c in sorted(centroids)])
    cids = np.asarray(sorted(centroids))
    cnorms = np.sqrt((cmat * cmat).sum(axis=1))
    probe_rank: dict[int, dict[int, int]] = {}
    for q, qv in qvecs.items():
        sims = (cmat @ qv) / (cnorms * np.sqrt(qv @ qv))
        order = cids[np.argsort(-sims, kind="stable")]
        probe_rank[q] = {int(c): i for i, c in enumerate(order)}

    byq: dict[int, list] = {q: [] for q in all_qids}
    for r in top:
        byq[int(r["qid"])].append(r)
    decontam_qids = [q for q in all_qids if q >= n_cells]

    def truth_band(rows, c):
        return [
            r for r in rows if abs(float(r["cos"]) - c) <= BAND_WINDOW
        ]

    def nodup_truth(rows):
        return [r for r in rows if float(r["cos"]) < NEAR_EXACT][:K]

    def lsh_retrieved(rows, h):
        cand = [r for r in rows if int(r["ham"]) <= h]
        return set(
            int(r["vec_id"])
            for r in sorted(cand, key=lambda r: (-float(r["cos"]), int(r["vec_id"])))
        ), cand

    def sweep_point_lsh(h):
        band_rec, nd_rec, fracs = {c: [] for c in PLANT_BANDS}, [], []
        for q in qids:
            rows = byq[q]
            cand_ids, cand = lsh_retrieved(rows, h)
            for c in PLANT_BANDS:
                t = truth_band(rows, c)
                if t:
                    band_rec[c].append(
                        sum(1 for r in t if int(r["vec_id"]) in cand_ids) / len(t)
                    )
            nd_t = nodup_truth(rows)
            nd_got = [
                int(r["vec_id"])
                for r in sorted(
                    (r for r in cand if float(r["cos"]) < NEAR_EXACT),
                    key=lambda r: (-float(r["cos"]), int(r["vec_id"])),
                )[:K]
            ]
            if nd_t:
                nd_rec.append(
                    len({int(r["vec_id"]) for r in nd_t} & set(nd_got)) / len(nd_t)
                )
            scanned = sum(v for (qq, hh), v in ham_counts.items() if qq == q and hh <= h)
            fracs.append(scanned / n_vecs)
        return {
            "max_hamming": h,
            "scan_frac": round(sum(fracs) / len(fracs), 4),
            "band_recall": {
                str(c): round(sum(v) / len(v), 4) for c, v in band_rec.items() if v
            },
            "nodup_recall_at_10": round(sum(nd_rec) / len(nd_rec), 4),
        }

    def _ivf_metrics(nprobe, qlist):
        band_rec, nd_rec, fracs = {c: [] for c in PLANT_BANDS}, [], []
        for q in qlist:
            rows = byq[q]
            rank = probe_rank[q]
            cand = [r for r in rows if rank[int(r["cell"])] < nprobe]
            cand_ids = {int(r["vec_id"]) for r in cand}
            for c in PLANT_BANDS:
                t = truth_band(rows, c)
                if t:
                    band_rec[c].append(
                        sum(1 for r in t if int(r["vec_id"]) in cand_ids) / len(t)
                    )
            nd_t = nodup_truth(rows)
            nd_got = [
                int(r["vec_id"])
                for r in sorted(
                    (r for r in cand if float(r["cos"]) < NEAR_EXACT),
                    key=lambda r: (-float(r["cos"]), int(r["vec_id"])),
                )[:K]
            ]
            if nd_t:
                nd_rec.append(
                    len({int(r["vec_id"]) for r in nd_t} & set(nd_got)) / len(nd_t)
                )
            probed = [c for c, i in rank.items() if i < nprobe]
            fracs.append(sum(cell_sizes.get(c, 0) for c in probed) / n_vecs)
        return band_rec, nd_rec, fracs

    def sweep_point_ivf(nprobe):
        band_rec, nd_rec, fracs = _ivf_metrics(nprobe, qids)
        out = {
            "nprobe": nprobe,
            "scan_frac": round(sum(fracs) / len(fracs), 4),
            "band_recall": {
                str(c): round(sum(v) / len(v), 4) for c, v in band_rec.items() if v
            },
            "nodup_recall_at_10": round(sum(nd_rec) / len(nd_rec), 4),
        }
        # decontaminated leg (r12): queries that are NOT centroids — the
        # only queries whose rank distribution the ranked-probing model
        # actually describes
        if decontam_qids:
            dband, dnd, _ = _ivf_metrics(nprobe, decontam_qids)
            out["n_decontam_queries"] = len(decontam_qids)
            out["band_recall_decontam"] = {
                str(c): round(sum(v) / len(v), 4) for c, v in dband.items() if v
            }
            if dnd:
                out["nodup_recall_decontam"] = round(sum(dnd) / len(dnd), 4)
        return out

    lsh_curve = [sweep_point_lsh(h) for h in range(0, min(planes, 8) + 1)]
    nprobes = sorted(
        {1, 2, 4, 8, 16, 32, 64, 96, 128, 192, 256, 320}
        | {pols[c]["nprobe"] for c in PLANT_BANDS}
        | {n_cells // 4}
    )
    nprobes = [p for p in nprobes if p <= n_cells]
    ivf_curve = [sweep_point_ivf(p) for p in nprobes if p >= 1]

    policy_points = {}
    for c in PLANT_BANDS:
        pol = pols[c]
        pt = sweep_point_lsh(pol["max_hamming"])
        ipt = sweep_point_ivf(pol["nprobe"])
        policy_points[str(c)] = {
            "lsh": {
                "n_planes": pol["n_planes"],
                "max_hamming": pol["max_hamming"],
                "modeled_recall": round(pol["lsh_expected_recall"], 4),
                "modeled_scan_frac": round(pol["lsh_expected_scan_frac"], 4),
                "measured_band_recall": pt["band_recall"].get(str(c)),
                "measured_scan_frac": pt["scan_frac"],
                "meets_target": (pt["band_recall"].get(str(c)) or 0) >= TARGET_RECALL,
            },
            "ivf": {
                "n_cells": pol["n_cells"],
                "nprobe": pol["nprobe"],
                "modeled_recall": round(pol["ivf_expected_recall"], 4),
                "modeled_scan_frac": round(pol["ivf_expected_scan_frac"], 4),
                "measured_band_recall": ipt["band_recall"].get(str(c)),
                "measured_scan_frac": ipt["scan_frac"],
                "meets_target": (ipt["band_recall"].get(str(c)) or 0) >= TARGET_RECALL,
            },
        }
        if "band_recall_decontam" in ipt:
            policy_points[str(c)]["ivf"]["measured_band_recall_decontam"] = ipt[
                "band_recall_decontam"
            ].get(str(c))
            policy_points[str(c)]["ivf"]["meets_target_decontam"] = (
                ipt["band_recall_decontam"].get(str(c)) or 0
            ) >= TARGET_RECALL

    return {
        "rung": label,
        "sf_dir": sf_dir,
        "n_vecs": n_vecs,
        "n_queries": len(qids),
        "n_high_queries": len(high_qids),
        "n_decontam_queries": len(decontam_qids),
        "planted_per_band": PLANT_PER_BAND,
        "n_planes": planes,
        "n_cells": n_cells,
        "t_corpus_pass_s": round(t_pass, 1),
        "policy_points": policy_points,
        "lsh_curve": lsh_curve,
        "ivf_curve": ivf_curve,
    }


def main() -> None:
    spark = get_spark("ann-recall")
    spark.sparkContext.setLogLevel("ERROR")
    rungs = [a.split("=", 1) for a in sys.argv[1:]]
    results = [run_rung(spark, lbl, d) for lbl, d in rungs]
    print(json.dumps({"ann_recall": results}, indent=2))


if __name__ == "__main__":
    main()
