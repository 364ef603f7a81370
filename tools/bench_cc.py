"""Direct ladder of operators/components.connected_components on
SYNTHETIC edge frames (r8): the corpus-driven clusters ladder turned out
to exercise an EMPTY verified-pair graph above m1 (the scale generator's
chance-similarity docs never reach Jaccard >= 0.5 — recorded in
SCALE_STUDY_r08.json "clusters_decomposition", n_pairs=0 at
m1/m316/m1000), so the CC iteration term had never been measured at
volume. This ladders the operator itself with known graph structure, no
corpus needed:

  - clique-ish: V vertices in V/10 size-10 cliques via hub edges
    (diameter 2 — the LSH near-dup shape; 9 edges per clique)
  - chain: one path of V vertices (adversarial diameter; min-label
    needs ~V label-jumps, bounded by max_iter — run with small V)

Usage: python tools/bench_cc.py V1 [V2 ...]   (vertex counts, clique shape)
Prints one JSON line {"cc_ladder": {V: {...}}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sizes = [int(s) for s in sys.argv[1:]] or [1_000_000]

    from pyspark.sql import functions as F

    from seo_audit_etl_actor_spark.operators.components import connected_components
    from seo_audit_etl_actor_spark.session import get_spark

    spark = get_spark("bench-cc")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    for v in sizes:
        # V/10 cliques of 10: edges (hub=10k, 10k+j) j=1..9 — the shape
        # LSH verification emits for real near-dup clusters (star within
        # a verified clique reaches fixpoint in 2 label rounds + check)
        edges = (
            spark.range(v)
            .where(F.col("id") % 10 != 0)
            .select(
                (F.col("id") - F.col("id") % 10).alias("id_a"),
                F.col("id").alias("id_b"),
            )
            .repartition(32)
        )
        runs = []
        n_comp = 0
        for _ in range(2):
            t0 = time.time()
            comp = connected_components(edges)
            n_comp = comp.agg(F.countDistinct("component").alias("c")).first()["c"]
            runs.append(round(time.time() - t0, 2))
            spark.catalog.clearCache()
        # expected components = distinct hubs with >=1 spoke. Hubs are
        # multiples of 10 in [0, v); hub h contributes a component iff some
        # id in (h, min(h+10, v)) exists — i.e. every hub except a trailing
        # h == v-1 exactly (then the range (h, v) is empty). ADVICE r8:
        # the old `v // 10` was wrong for v not a multiple of 10.
        n_hubs = -(-v // 10)  # ceil(v/10)
        expected = n_hubs - (1 if v % 10 == 1 else 0)
        assert n_comp == expected, (n_comp, expected, v)
        n_edges = v - n_hubs
        out[str(v)] = {"shape": "cliques10", "n_edges": n_edges, "n_components": n_comp, "runs_sec": runs}
        print(f"V={v}: {runs}", file=sys.stderr)
    print(json.dumps({"cc_ladder": out}))


if __name__ == "__main__":
    main()
