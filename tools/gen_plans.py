"""Regenerate PLANS.md: capture formatted physical plans for the
representative catalog queries, with what-to-check commentary.

Run: python tools/gen_plans.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from seo_audit_etl_actor_spark.plans import audit  # noqa: E402
from seo_audit_etl_actor_spark.queries import QUERIES  # noqa: E402
from seo_audit_etl_actor_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

COMMENT = {
    "keyword_position_buckets": (
        "The flagship (reference src/etl.js:136-138). What to check: the scan reads ONE "
        "column (ReadSchema), the finite/positive filter sits directly on the scan, and all "
        "four aggregates fuse into a single partial/final HashAggregate pair — one shuffle "
        "of four longs regardless of input size."
    ),
    "revenue_by_nation": (
        "Star join. What to check: customer/nation/region enter as BroadcastHashJoin (the "
        "probe side never reshuffles); the only Exchange before the groupBy is the "
        "lineitem-orders join on the fact key. At 100 TB the fact scan streams through "
        "map-side hash joins."
    ),
    "topk_parts_per_brand": (
        "Top-k per group. What to check: WindowGroupLimit pushes the rank<=3 cut below the "
        "full sort — each partition keeps only 3 rows per brand before the shuffle."
    ),
    "minhash_near_dup": (
        "MinHash-LSH near-dup. What to check: the corpus is scanned ONCE (a single parquet "
        "scan feeds shingling/signatures, reused by every branch via ReusedExchange), "
        "candidates come from a groupBy on the band bucket key (uniform md5-derived — "
        "skew-free), verification is in-bucket HOFs, and the hot-bucket guard's window "
        "count splits oversized buckets (> MAX_BUCKET_MEMBERS) to a streaming join branch "
        "instead of one collect_list state."
    ),
    "cosine_topk_bruteforce": (
        "Brute-force ANN baseline (r12: literal-chain scoring). What to check: NO join at "
        "all — the driver-fetched query vector is inlined as a literal multiply-add chain, "
        "so the corpus pass is one map-only WholeStageCodegen scan (the old "
        "crossJoin(broadcast(q)) planned a BroadcastNestedLoopJoin, which breaks codegen "
        "and left the chain interpreted); the top-k is TakeOrderedAndProject — Spark's "
        "distributed heap top-k, no global sort."
    ),
    "sessionize_events": (
        "Gap-based sessionization. What to check: ONE hashpartitioning(user_id) exchange "
        "feeds both window passes AND the session aggregate (hashpartitioning on a key "
        "subset satisfies the aggregate's clustered distribution) — the only other "
        "exchange is the presentation-order range sort."
    ),
    "event_promo_windows": (
        "Bin-bucketed range join. What to check: the interval side is exploded to day bins "
        "and enters as BroadcastHashJoin on the bin key (the naive BETWEEN form would plan "
        "BroadcastNestedLoopJoin); the exact BETWEEN survives as a post-join Filter."
    ),
    "above_nation_avg_balance": (
        "Decorrelated scalar subquery. What to check: the per-nation aggregate (25 rows) "
        "re-enters as BroadcastHashJoin, so the customer side is scanned twice but never "
        "shuffled; Catalyst would produce the same shape for the correlated SQL form."
    ),
    "contamination_by_source": (
        "Benchmark decontamination. What to check: the benchmark gram set enters as a "
        "BROADCAST (LeftSemi BroadcastHashJoin) — the corpus side is map-only through "
        "shingling + the semi-join; the only exchanges move doc_id-sized rows (the "
        "distinct and the per-source rollup), never document text."
    ),
    "part_cooccurrence": (
        "Market-basket pair mining. What to check: the self-join shuffles both sides on "
        "the uniform l_orderkey (sort-merge or shuffled-hash — either is fine; the "
        "explosion is bounded per key by order size), and the final top-20 is "
        "TakeOrderedAndProject, not a global sort."
    ),
    "tpch_q1_pricing_summary": (
        "TPC-H Q1 (round 3). What to check: the date filter is in PushedFilters, "
        "ReadSchema carries only the 7 referenced columns, and all 8 aggregates fuse into "
        "one partial/final HashAggregate pair inside WholeStageCodegen — the shuffle "
        "carries one DECIMAL-moment row per (task, returnflag, linestatus)."
    ),
    "conversion_funnel": (
        "Ordered funnel (round 3). What to check: ONE hashpartitioning(user_id) Exchange "
        "feeds all three chained step-MIN Window operators AND the per-user aggregate; "
        "the final global rollup is a single-row partial/final pair."
    ),
    "heavy_hitter_tokens": (
        "Misra-Gries heavy hitters (round 3). What to check: the corpus is scanned ONCE "
        "(the ensure_parallelism exchange is shared via ReusedExchange by the MapInPandas "
        "candidate pass, the exploded recount, and the map-side token total — and is a "
        "plan-time no-op on an already-split input at scale); the candidate set re-enters "
        "as BroadcastHashJoin LeftSemi BEFORE the token aggregate's exchange, so the only "
        "full shuffle moves candidate-matched tokens."
    ),
    "passage_dedup_stats": (
        "Span-level dedup (round 3). What to check: ONE parquet scan and ONE "
        "hashpartitioning(pfp) Exchange — the passage frequency is a COUNT window on the "
        "md5 partition key (the join form would scan+explode the corpus twice); the "
        "per-source rollup shuffles quantized integers."
    ),
    "event_rate_anomalies": (
        "Trailing z-score anomaly scan (round 3). What to check: the hourly aggregate "
        "shuffles once on (event_type, hour_id); the trailing-24 ROWS frame runs on the "
        "per-type window partitioning; moments are integer sums so the plan has zero "
        "Python and one closed-form projection."
    ),
    "tpch_q21_waiting_supplier": (
        "Q21 single-scan window form (round 4 rewrite). What to check: ONE lineitem "
        "scan; both collect_set windows (distinct suppliers / distinct LATE suppliers "
        "per order) ride one hashpartitioning(l_orderkey) exchange; supplier+nation "
        "enter as a BroadcastHashJoin after the window filter."
    ),
    "tpch_q5_local_supplier_volume": (
        "Q5 six-table join (round 4). What to check: lineitem-orders is the only "
        "big-big SortMergeJoin/shuffle; supplier, nation, region are "
        "BroadcastHashJoins (the co-nation equality is part of the broadcast join "
        "condition, applied map-side); the revenue aggregate is a BIGINT sum."
    ),
    "tpch_q17_small_quantity_revenue": (
        "Q17 correlated scalar subquery (round 4). What to check: Catalyst "
        "decorrelates the per-part AVG into an Aggregate + join on partkey — no "
        "per-row subquery re-execution; the brand filter prunes part before its "
        "shuffle join with lineitem."
    ),
    "dup_ngram_span_ratio": (
        "Cross-doc duplicated-span histogram (round 4). What to check: one documents "
        "scan; shingles are 32-bit hashed BEFORE the explode so the per-gram shuffle "
        "carries longs; the per-gram COUNT(DISTINCT doc) and the join back both hash "
        "on the uniform gram key; final histogram shuffles ten rows."
    ),
    "dsir_importance_weights": (
        "DSIR importance weights (round 4). What to check: raw and target token "
        "counts come from ONE conditional-sum pass over one explode (no second scan "
        "for the target distribution); the vocab-stats frame re-enters as a "
        "BroadcastHashJoin; all ratio math is integer-quantized projection work."
    ),
    "embedding_centroid_outliers": (
        "Label-centroid outlier scan (r12 rep-collapse). What to check: NO posexplode and "
        "NO label window — one map-side-combining groupBy(embedding, label) collapses "
        "copies, the centroid sums are 64 copy-count-weighted BIGINT lanes in one "
        "aggregate, the distance chain joins the broadcast centroid row, and the mean/"
        "outlier pass is a second tiny broadcast agg (a label window would shuffle the "
        "whole corpus onto n_labels reducers — the skew trap)."
    ),
    "semantic_dedup_stats": (
        "SemDeDup decision (r12 rep-collapse). What to check: the rep frame (groupBy the "
        "embedding column, checkpointed once) is what gets cell-assigned and self-joined "
        "ON THE CELL KEY — pair work is per DISTINCT vector, never per copy and never "
        "all-pairs; per-copy flags come back through ONE BroadcastHashJoin on the "
        "embedding key; the final rollup is one exchange. Bit-exact to the copy-level "
        "rule (two-leg proof in semantic_dedup_flags)."
    ),
    "user_ewma_profile": (
        "Grouped-map recurrence (round 9). What to check: ONE FlatMapGroupsInPandas "
        "over the user-HASH-BUCKET key (64 Arrow batches, not one per user), fed by a "
        "single hashpartitioning exchange; the per-user final row falls out of max_by "
        "in the downstream aggregate, not a second window pass."
    ),
    "cms_error_audit": (
        "Count-Min Sketch audit (round 9). What to check: the sketch build is ONE "
        "explode + partial/final HashAggregate pair (map-side combine caps state at "
        "depth x width per partition), and the probe join enters as "
        "BroadcastHashJoin — the sketch side is bounded by construction."
    ),
    "ann_probe_policy_audit": (
        "Recall-targeting probe policy audit (round 11). What to check: the bucketed "
        "frame is a Scan ExistingRDD (the eager localCheckpoint — the production shape is "
        "a PERSISTED bucket column via write_lsh_bucketed_corpus, so per-job recompute of "
        "the planes x dim literal expression is gone and each downstream job plans over a "
        "small tree). r12: only the CANDIDATES are checkpointed (not the 600 MB bucketed "
        "corpus), the bucket is the Arrow path (ArrowEvalPython — the planes x dim chain "
        "exceeds the JIT method ceiling), the query bucket/vector enter as LITERALS (no "
        "broadcast join), and ball membership is a BroadcastHashJoin (a 4,944-id IN list "
        "evaluates linearly per row); the final assembly is crossJoins of one-row "
        "aggregates (constant data movement)."
    ),
    "simhash_wide_near_dup": (
        "120-bit SimHash banding (round 11). What to check: ONE corpus scan into the "
        "token explode, md5 materialized once per token in its own Project (both 60-bit "
        "words read the same digest — no second hash pass), one partial/final "
        "HashAggregate pair carrying the LANE-PACKED votes (2 non-negative 32-bit "
        "bit-counters per long: 61 aggregate columns instead of 120, and no lane can "
        "overflow), then the single band-explode shuffle with 30-bit band keys; "
        "hamming verification (two bit_count XORs) sits BELOW the cross-band distinct "
        "(early-verify), so only verified pairs reach the dedup exchange."
    ),
}


def main() -> None:
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    specs = {q.name: q for q in QUERIES}
    lines = [
        "# PLANS — captured physical plans for representative queries\n",
        "Captured from `.explain('formatted')` at sf0.01 with AQE disabled for static",
        "readability (AQE re-plans these at runtime: shuffle coalescing, broadcast",
        "conversion, skew splitting). Regenerate with `python tools/gen_plans.py`.\n",
    ]
    for name, comment in COMMENT.items():
        plan = audit.plan_string(specs[name].fn(spark, SF))
        lines += [f"## {name}\n", comment + "\n", "```", plan.strip(), "```\n"]
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "\n".join(lines)
    )


if __name__ == "__main__":
    main()
