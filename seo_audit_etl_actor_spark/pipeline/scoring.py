"""Coverage-weighted OSS/LSS scoring (SURVEY §3.3; reference
/root/reference/src/scoring.js:1-77).

The raw component derivations are Spark Column expressions over a
single-row frame (the F5-F9 expression library — JS `||`-zero semantics via
nonzero_coalesce, clamps via clamp01); the weighted aggregate is the A13
operator over a long-format (component, weight, raw, avail) frame. Both
run through Catalyst, so the same expressions serve a million-document
scoring table unchanged. Both frames go to Spark as Arrow tables, which
the JVM holds as `LocalRelation`s: Catalyst folds the single-row
projection without running a job, and no Python worker is started. The
20-row long frame is one partition, so the per-family aggregate needs no
shuffle: the whole scoring is one single-stage job.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seo_audit_etl_actor_spark.functions.coercion import clamp01, nonzero_coalesce
from seo_audit_etl_actor_spark.operators.aggregates import coverage_weighted_score

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


def _raw_components(spark: SparkSession, doc: dict) -> dict[str, float | None]:
    """Raw 0..1 component scores (src/scoring.js:16-36, 59-68) as one
    single-row Spark projection."""
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

    row = df.select(
        kw.alias("kw_top10"),
        F.col("pass_rate").alias("cwv_pass"),
        health.alias("site_health"),
        rank.alias("avg_local_rank"),
        F.coalesce(F.col("pct_top3"), F.lit(0.0)).alias("pct_top3"),
        F.col("consistency").alias("citations"),
        reviews.alias("reviews"),
    ).first()

    return {
        "kw_top10": row["kw_top10"],
        "cwv_pass": row["cwv_pass"],
        "site_health": row["site_health"],
        "gsc_clicks": None,
        "indexed_valid": None,
        "avg_local_rank": row["avg_local_rank"],
        "pct_top3": row["pct_top3"],
        "citations": row["citations"],
        "reviews": row["reviews"],
        "gbp_actions": None,
    }


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


_LONG = T.StructType(
    [
        T.StructField("family", T.StringType(), False),
        T.StructField("component", T.StringType(), False),
        T.StructField("weight", T.DoubleType(), False),
        T.StructField("raw", T.DoubleType(), True),
        T.StructField("avail", T.BooleanType(), False),
    ]
)


def compute_scores(spark: SparkSession, doc: dict) -> dict:
    """→ the reference's scores document (src/scoring.js:72-76)."""
    import pyarrow as pa

    raw = _raw_components(spark, doc)
    avail = _availability(doc)
    rows = [
        dict(family=fam, component=comp, weight=float(w), raw=raw[comp], avail=avail[comp])
        for fam, weights in (("oss", OSS_WEIGHTS), ("lss", LSS_WEIGHTS))
        for comp, w in weights.items()
    ]
    long_df = spark.createDataFrame(pa.Table.from_pylist(rows), _LONG).coalesce(1)
    agg = {
        r["family"]: r
        for r in coverage_weighted_score(long_df, group_cols=["family"]).collect()
    }
    oss, lss = agg["oss"], agg["lss"]
    return {
        "oss": oss["score"],
        "oss_coverage": oss["coverage"],
        "oss_weight_used": int(oss["weight_used"]),
        "oss_weight_total": int(oss["weight_total"]),
        "lss": lss["score"],
        "lss_coverage": lss["coverage"],
        "lss_weight_used": int(lss["weight_used"]),
        "lss_weight_total": int(lss["weight_total"]),
        "components": {
            "oss": {"raw": {k: raw[k] for k in OSS_WEIGHTS}},
            "lss": {"raw": {k: raw[k] for k in LSS_WEIGHTS}},
        },
    }
