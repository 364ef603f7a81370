"""Catalog-wide physical-plan audit: for every catalog query, count
parquet scans per table, exchanges, and Python-eval stages, and flag
smells (a table scanned 3+ times). The round-3 pagerank bug (edge lineage
re-deriving a lineitem join 22×) is exactly the class this catches.

AQE is disabled during capture so exchange reuse (ReusedExchange) is
visible statically and the scan counts reflect what actually executes.

Run: python tools/audit_catalog.py [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from seo_audit_etl_actor_spark.plans import audit  # noqa: E402
from seo_audit_etl_actor_spark.queries import QUERIES  # noqa: E402
from seo_audit_etl_actor_spark.session import TABLES, get_spark  # noqa: E402

SCAN_FLAG = 3  # scans of one table at or above this count are flagged
_PY_RE = re.compile(r"MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas|BatchEvalPython")

# Reviewed multi-scan queries: structurally minimal, not accidental lineage
REVIEWED = {
    "data_quality_checks": "3 orders scans = 3 check shapes (fused row-agg, PK groupBy, FK anti-join), each column-pruned",
    "set_ops_customers": "INTERSECT/EXCEPT/UNION legs re-scan by definition (§2.8 coverage); each leg is pruned + pushed down",
    "contamination_by_source": "benchmark gram set, corpus grams, and per-source rollup scan different column/filter slices; gram join is the single data shuffle",
}


def audit_one(spec, spark, sf: str) -> tuple[str, str, str]:
    try:
        plan = audit.plan_string(spec.fn(spark, sf))
    except Exception as e:  # pragma: no cover - diagnostic tool
        return (spec.name, "ERROR", str(e)[:80])
    tree = plan.split("\n\n(", 1)[0]  # operator tree only, not per-node detail
    scans = {t: c for t in TABLES if (c := plan.count(f"{t}.parquet"))}
    n_shuffle = (
        tree.count("Exchange") - tree.count("ReusedExchange") - tree.count("BroadcastExchange")
    )
    n_py = len(_PY_RE.findall(tree))
    flags = [f"{t}×{c}" for t, c in scans.items() if c >= SCAN_FLAG]
    note = ""
    if flags and spec.name in REVIEWED:
        note = f"reviewed ({', '.join(flags)}): {REVIEWED[spec.name]}"
    elif flags:
        note = "FLAG: " + ", ".join(flags)
    return (
        spec.name,
        f"scans={sum(scans.values())} shuffles={n_shuffle} py={n_py}",
        note,
    )


def main() -> None:
    sf = "/root/testdata/sf0.001"
    if "--sf" in sys.argv:
        sf = sys.argv[sys.argv.index("--sf") + 1]
    spark = get_spark("catalog-audit")
    spark.sparkContext.setLogLevel("ERROR")
    with audit.aqe_off(spark):
        rows = [audit_one(spec, spark, sf) for spec in QUERIES]
    w = max(len(r[0]) for r in rows)
    for name, stats, flag in rows:
        print(f"{name:<{w}}  {stats:<28} {flag}")
    n_flag = sum(1 for r in rows if r[2].startswith("FLAG"))
    n_rev = sum(1 for r in rows if r[2].startswith("reviewed"))
    print(f"\n{len(rows)} queries, {n_flag} flagged, {n_rev} reviewed multi-scan")


if __name__ == "__main__":
    main()
