"""Coverage-weighted OSS/LSS scoring (SURVEY §3.3; reference
/root/reference/src/scoring.js:1-77).

The raw component derivations are Spark Column expressions over a
single-row frame (the F5-F9 expression library — JS `||`-zero semantics via
nonzero_coalesce, clamps via clamp01). The A13 weighted aggregate is one
more projection over the same row: per family, `used` and `acc` add up
`when(rawᵢ IS NOT NULL, …)` terms of the available components in weight
order (availability is known on the driver), and `weighted_score` — the
formula the grouped `coverage_weighted_score` operator uses too — turns
them into the score and the coverage. The frame goes to Spark as an Arrow
table, which the JVM holds as a `LocalRelation`, so Catalyst folds the
whole projection on the driver: scoring runs no Spark job and starts no
Python worker, and the same expressions serve a million-document scoring
table unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seo_audit_etl_actor_spark.functions.coercion import clamp01, nonzero_coalesce
from seo_audit_etl_actor_spark.operators.aggregates import weighted_score

OSS_WEIGHTS = {
    "gsc_clicks": 30,
    "kw_top10": 20,
    "site_health": 20,
    "cwv_pass": 15,
    "indexed_valid": 15,
}
LSS_WEIGHTS = {
    "avg_local_rank": 40,
    "pct_top3": 25,
    "citations": 15,
    "reviews": 10,
    "gbp_actions": 10,
}
BAD_ERRORS_PER_PAGE = 0.5

_SCALARS = T.StructType(
    [
        T.StructField(name, T.DoubleType(), True)
        for name in (
            "top10",
            "top100",
            "pass_rate",
            "total_err",
            "pages_total",
            "avg_pos",
            "pct_top3",
            "consistency",
            "avg_rating",
        )
    ]
)


def _components(spark: SparkSession, doc: dict) -> DataFrame:
    """Raw 0..1 component scores (src/scoring.js:16-36, 59-68) as one
    single-row Spark projection, a column per component."""
    import pyarrow as pa

    onsite, local = doc["onsite"], doc["local"]
    errors = onsite["errors"]
    total_err = float(sum(v for v in errors.values() if isinstance(v, int)))
    scalars = dict(
        top10=_f(onsite["keywords"]["top10"]),
        top100=_f(onsite["keywords"]["top100"]),
        pass_rate=_f(onsite["cwv"]["pass_rate"]),
        total_err=total_err,
        pages_total=_f(onsite["content"]["pages_total"]),
        avg_pos=_f(local["rank"]["avg_pos"]),
        pct_top3=_f(local["rank"]["pct_top3"]),
        consistency=_f(local["citations"]["consistency"]),
        avg_rating=_f(local["reviews"]["avg_rating"]),
    )
    df = spark.createDataFrame(pa.Table.from_pylist([scalars]), _SCALARS)

    # kw_top10 = min((top10 || 0) / max(top100 || 1, 1), 1)   (:18-20)
    kw = F.least(
        F.coalesce(F.col("top10"), F.lit(0.0))
        / F.greatest(nonzero_coalesce(F.col("top100"), 1.0), F.lit(1.0)),
        F.lit(1.0),
    )
    # site_health = clamp(1 - (totalErr / (pages || 100)) / 0.5)   (:26-33)
    epp = F.col("total_err") / nonzero_coalesce(F.col("pages_total"), 100.0)
    health = clamp01(F.lit(1.0) - epp / F.lit(BAD_ERRORS_PER_PAGE))
    # avg_local_rank = clamp(1 - ((avgPos || 20) - 1) / 19)   (:60-61)
    rank = clamp01(F.lit(1.0) - (nonzero_coalesce(F.col("avg_pos"), 20.0) - 1) / 19)
    # reviews = clamp((rating - 3.5) / 1.5), only when rating present  (:65-67)
    # explicit null gate: Spark's greatest/least skip nulls, so a bare
    # clamp01(null) would collapse to 0.0 — the reference keeps null
    reviews = F.when(
        F.col("avg_rating").isNotNull(), clamp01((F.col("avg_rating") - 3.5) / 1.5)
    )
    # gsc_clicks, indexed_valid and gbp_actions have no source yet: they
    # are never available (src/scoring.js:7-13, 51-57) and get no column
    return df.select(
        kw.alias("kw_top10"),
        F.col("pass_rate").alias("cwv_pass"),
        health.alias("site_health"),
        rank.alias("avg_local_rank"),
        F.coalesce(F.col("pct_top3"), F.lit(0.0)).alias("pct_top3"),
        F.col("consistency").alias("citations"),
        reviews.alias("reviews"),
    )


def _f(v) -> float | None:
    return None if v is None else float(v)


def _availability(doc: dict) -> dict[str, bool]:
    """Availability gates (src/scoring.js:7-13, 51-57); the reference's
    `!== "missing"` checks are `is not None` on the engine-typed doc."""
    onsite, local = doc["onsite"], doc["local"]
    return {
        "kw_top10": onsite["keywords"]["top10"] is not None,
        "site_health": True,
        "cwv_pass": onsite["cwv"]["pass_rate"] is not None,
        "gsc_clicks": False,
        "indexed_valid": False,
        "avg_local_rank": True,
        "pct_top3": local["rank"]["pct_top3"] is not None,
        "citations": local["citations"]["consistency"] is not None,
        "reviews": (
            local["reviews"]["avg_rating"] is not None
            or local["reviews"]["count_total"] is not None
        ),
        "gbp_actions": False,
    }


def _family_columns(family: str, weights: dict[str, int], avail: dict[str, bool]) -> list[Column]:
    """score, coverage and weight used of one family over the component
    columns. The terms are added in weight order, starting from 0.0 — the
    order a single-partition `sum` over the long-format rows added them in,
    so the doubles are the grouped operator's to the bit. An unavailable
    component's term is the literal 0.0, and adding 0.0 to a sum that
    starts at +0.0 leaves it unchanged, so it is left out on the driver."""
    zero = F.lit(0.0)
    used, acc = zero, zero
    for comp, w in weights.items():
        if not avail[comp]:
            continue
        raw, weight = F.col(comp), F.lit(float(w))
        usable = raw.isNotNull()
        used = used + F.when(usable, weight).otherwise(zero)
        acc = acc + F.when(usable, weight * raw).otherwise(zero)
    score, coverage = weighted_score(acc, used, F.lit(float(sum(weights.values()))))
    return [
        score.alias(family),
        coverage.alias(f"{family}_coverage"),
        used.alias(f"{family}_weight_used"),
    ]


def compute_scores(spark: SparkSession, doc: dict) -> dict:
    """→ the reference's scores document (src/scoring.js:72-76)."""
    comps = _components(spark, doc)
    avail = _availability(doc)
    row = comps.select(
        *comps.columns,
        *_family_columns("oss", OSS_WEIGHTS, avail),
        *_family_columns("lss", LSS_WEIGHTS, avail),
    ).first().asDict()
    return {
        "oss": row["oss"],
        "oss_coverage": row["oss_coverage"],
        "oss_weight_used": int(row["oss_weight_used"]),
        "oss_weight_total": sum(OSS_WEIGHTS.values()),
        "lss": row["lss"],
        "lss_coverage": row["lss_coverage"],
        "lss_weight_used": int(row["lss_weight_used"]),
        "lss_weight_total": sum(LSS_WEIGHTS.values()),
        "components": {
            "oss": {"raw": {k: row.get(k) for k in OSS_WEIGHTS}},
            "lss": {"raw": {k: row.get(k) for k in LSS_WEIGHTS}},
        },
    }
