"""One-pass table profiler (engine extension surface): per-column null
rate, approx distinct, min/max, and mean length — the data-intake summary a
pipeline runs before trusting a new 100 TB feed, complementing the
assertion-style checks in `queries/quality_ext.q_data_quality_checks`.

Everything is computed in ONE aggregate pass (all columns' stats are
parallel aggregate expressions over a single scan; the shuffle carries one
combined row), then unpivoted to long format driver-side from that single
row — no per-column jobs, no collect of data rows.

Numeric min/max are reported as doubles, everything else via its string
form; approx distinct uses HLL (approx_count_distinct) because an exact
per-column distinct would add an Expand blow-up per column — the
documented estimate, same policy as approx_distinct_users_prod.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

def profile_table(df: DataFrame) -> DataFrame:
    """Long-format profile: one row per column with
    (column, dtype, n_rows, n_nulls, null_pct, approx_distinct,
    min_repr, max_repr, avg_len)."""
    spark = df.sparkSession
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in df.schema.fields:
        c = f.name
        col = F.col(c)
        orderable = not isinstance(f.dataType, T.MapType)
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            (F.approx_count_distinct(col) if orderable else F.lit(None).cast("long")).alias(f"{c}__dist"),
            (F.min(col) if orderable else F.lit(None)).alias(f"{c}__min"),
            (F.max(col) if orderable else F.lit(None)).alias(f"{c}__max"),
            F.avg(F.length(col.cast("string"))).alias(f"{c}__len"),
        ]
    row = df.agg(*aggs).first()
    n = row["__n"]
    out = []
    for f in df.schema.fields:
        c = f.name
        out.append(
            Row(
                column=c,
                dtype=f.dataType.simpleString(),
                n_rows=n,
                n_nulls=row[f"{c}__nulls"],
                null_pct=(100.0 * row[f"{c}__nulls"] / n) if n else None,
                approx_distinct=row[f"{c}__dist"],
                min_repr=str(row[f"{c}__min"]) if row[f"{c}__min"] is not None else None,
                max_repr=str(row[f"{c}__max"]) if row[f"{c}__max"] is not None else None,
                avg_len=row[f"{c}__len"],
            )
        )
    # Explicit schema: with n=0 (or all-MapType columns) every stat is None
    # and inference would fail with CANNOT_DETERMINE_TYPE — an intake
    # profiler must degrade gracefully on an empty feed.
    schema = T.StructType(
        [
            T.StructField("column", T.StringType(), False),
            T.StructField("dtype", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("n_nulls", T.LongType(), True),
            T.StructField("null_pct", T.DoubleType(), True),
            T.StructField("approx_distinct", T.LongType(), True),
            T.StructField("min_repr", T.StringType(), True),
            T.StructField("max_repr", T.StringType(), True),
            T.StructField("avg_len", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(out, schema)
