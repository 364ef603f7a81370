"""Aggregation operator builders (reference SURVEY §2.3, A1-A13).

All builders return native Column expressions / DataFrame transforms that
Catalyst fuses into single-pass aggregations — e.g. the three position
buckets of the reference (src/etl.js:136-138) become one `agg()` with three
conditional sums → one shuffle, map-side partial aggregation included.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def conditional_count(pred: Column) -> Column:
    """count of rows matching pred in one aggregate pass (A3;
    reference src/etl.js:136-138, 225-226)."""
    return F.sum(F.when(pred, 1).otherwise(0)).cast(T.LongType())


def ratio(pred: Column) -> Column:
    """Share of rows matching pred, null-safe denominator (A7;
    reference src/etl.js:321 `pct_top3`, :359-360 `consistency`)."""
    return F.avg(F.when(pred, 1.0).otherwise(0.0))


def bucket_counts(c: Column, buckets: dict[str, float]) -> list[Column]:
    """Threshold buckets computed in a single pass (A3/P6;
    reference src/etl.js:136-138: top3/top10/top100)."""
    return [conditional_count(c <= F.lit(v)).alias(k) for k, v in buckets.items()]


def percentile_nearest_rank(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    q: float = 0.75,
    out_col: str = "p75",
) -> DataFrame:
    """Lower-nearest-rank percentile: sorted[floor(q*(n-1))] (A8;
    reference src/etl.js:284-289).

    NOT linear interpolation — Spark SQL's `percentile` interpolates, so it
    cannot be used. Implemented with a rank window + per-group count: two
    passes over one shuffle by the group keys, no `collect_list` (an
    array-per-group would not survive 100 TB groups; this does — state per
    group is O(1)).
    """
    w_order = Window.partitionBy(*group_cols).orderBy(F.col(value_col).asc())
    w_all = Window.partitionBy(*group_cols)
    target = (F.floor(F.lit(q) * (F.count(F.lit(1)).over(w_all) - 1)) + 1).cast("int")
    ranked = df.where(F.col(value_col).isNotNull()).select(
        *group_cols,
        F.col(value_col),
        F.row_number().over(w_order).alias("__rn"),
        target.alias("__target"),
    )
    return ranked.where(F.col("__rn") == F.col("__target")).select(
        *group_cols, F.col(value_col).alias(out_col)
    )


def first_by(value: Column, order: Column) -> Column:
    """Deterministic 'first by ingest order' (A9; reference src/etl.js:406,
    :417 — JS inherits file order; Spark needs the explicit order column).

    `min_by` is a native Catalyst aggregate → single-pass, codegen'd.
    """
    return F.min_by(value, order)


def collect_sorted(value: Column, order: Column) -> Column:
    """Deterministic collect_list ordered by `order` (A10; reference
    src/etl.js:407-409 secondary_categories keep file order).

    collect_list has no intra-group order guarantee; sorting an array of
    (order, value) structs restores it without an extra shuffle.
    """
    pairs = F.sort_array(F.collect_list(F.struct(order.alias("o"), value.alias("v"))))
    return F.transform(pairs, lambda s: s["v"])


def weighted_score(acc: Column, used: Column, total: Column) -> tuple[Column, Column]:
    """(score, coverage) of a coverage-weighted composite from its sums
    (A13; reference src/scoring.js:38-46, 73-74): `acc` = Σ wᵢ·rawᵢ and
    `used` = Σ wᵢ over the available, non-null components, `total` = Σ wᵢ.

    score = round(acc / used × 1000) / 10 ; degenerate used=0 → 0
    (src/scoring.js:44). coverage = used / total, rounded to 0.01.
    JS Math.round is half-away-from-zero on the non-negative values seen
    here == Spark HALF_UP `round`."""
    score = F.coalesce(F.round(acc / F.nullif(used, F.lit(0.0)) * 1000) / 10, F.lit(0.0))
    return score, F.round(used / total, 2)


def coverage_weighted_score(
    df: DataFrame,
    component: str = "component",
    weight: str = "weight",
    raw: str = "raw",
    avail: str = "avail",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Coverage-weighted composite score over a long-format component frame
    (A13): `weighted_score` over per-group sums."""
    usable = F.col(avail) & F.col(raw).isNotNull()
    w, r = F.col(weight), F.col(raw)
    used = F.sum(F.when(usable, w).otherwise(F.lit(0.0)))
    acc = F.sum(F.when(usable, w * r).otherwise(F.lit(0.0)))
    total = F.sum(w)
    score, coverage = weighted_score(acc, used, total)
    return df.groupBy(*group_cols).agg(
        score.alias("score"),
        coverage.alias("coverage"),
        used.cast("double").alias("weight_used"),
        total.cast("double").alias("weight_total"),
    )
