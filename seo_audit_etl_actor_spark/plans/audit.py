"""Plan-audit helpers: inspect a DataFrame's physical plan for the
properties that matter at 100 TB.

Each predicate reads the formatted explain output — the same text a human
reviews — so a regression that drops a broadcast hint or breaks filter
pushdown fails a test instead of shipping a 100× slower plan.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame, SparkSession

from seo_audit_etl_actor_spark.session import scoped_conf


def aqe_off(spark: SparkSession):
    """AQE disabled for the block, the caller's setting restored after.
    AQE wraps the static plan until execution, hiding the exchanges, joins
    and codegen stages a plan check inspects."""
    return scoped_conf(spark, "spark.sql.adaptive.enabled", "false")


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (predicate pushdown, §4.1)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_string(df)):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """Filters applied at directory-listing time on a partitioned layout
    (plan-time pruning — the scan never lists non-matching partitions)."""
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", plan_string(df)):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> set[str]:
    """Columns actually read from the scan (column pruning, §4.1)."""
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan_string(df)):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.add(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df)


def num_shuffles(df: DataFrame) -> int:
    """Exchange count — every one is a full-data network hop at scale.
    Counts the formatted plan's detail entries ("(n) Exchange"), which list
    each node exactly once (the tree section would double-count)."""
    return len(re.findall(r"\(\d+\) Exchange\b", plan_string(df)))


def uses_python_udf(df: DataFrame) -> bool:
    """True if any row-at-a-time or Arrow Python eval appears in the plan —
    the engine policy is zero Python in reference-parity paths (SURVEY
    §2.10)."""
    p = plan_string(df)
    return any(tag in p for tag in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF", "FlatMapGroupsInPandas", "MapInPandas"))


def optimized_plan_string(df: DataFrame) -> str:
    """Optimized LOGICAL plan text. Needed for properties AQE hides from
    the formatted physical output — e.g. an injected runtime Bloom filter
    appears here as `might_contain(scalar-subquery ...)` while the
    physical string buries the subquery."""
    return df._jdf.queryExecution().optimizedPlan().toString()


def has_runtime_bloom_filter(df: DataFrame) -> bool:
    """True if Catalyst's InjectRuntimeFilter added a Bloom-filter
    pre-shuffle prune (bloom_filter_agg on the creation side +
    might_contain on the application side)."""
    p = optimized_plan_string(df)
    return "might_contain" in p and "bloom_filter_agg" in p


def num_codegen_subtrees(df: DataFrame) -> int:
    """Whole-stage-codegen coverage. Uses explain('codegen') — the
    formatted mode hides codegen spans under an unexecuted
    AdaptiveSparkPlan."""
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan_string(df, "codegen"))
    return int(m.group(1)) if m else 0
