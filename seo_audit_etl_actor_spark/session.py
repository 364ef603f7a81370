"""SparkSession bring-up and table loading.

Tuned for the test harness (local[N], single JVM) but with settings chosen
for cluster scale: AQE on (runtime shuffle-partition coalescing, dynamic
broadcast-join conversion, skew-join splitting), Arrow enabled for the
Pandas-UDF extension paths, and a shuffle-partition default that the harness
overrides via env. Arrow also carries the audit frames: the pipeline hands
its driver-held rows to `createDataFrame` as `pyarrow` tables, and the
catalog's one-row audit and differential results go through
`summary_frame`. A table below `spark.sql.execution.arrow.
localRelationThreshold` becomes a JVM `LocalRelation`, a bigger one a JVM
RDD of Arrow batches; `csv_smart.to_dataframe` lowers the threshold to
64 KiB for its own call (`scoped_conf`), so an audit's 20k-row exports
take the RDD path, while the session keeps Spark's default. Neither form
starts a Python worker in a job over it.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

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

# PySpark reads this once per process, from whichever thread builds the
# first Column: left on by default, it makes every Column and `functions`
# call capture its Python call site over a few py4j round trips (errors
# keep only the JVM-side context without it), and it is on only when a
# thread holding an active session happens to build first, so the driver's
# py4j traffic would depend on thread timing (a warm audit: ~2,200-3,000
# round trips off, ~4,000-4,500 on). A static conf: a reused session keeps
# the value it was started with.
NO_DATAFRAME_DEBUGGING = ("spark.python.sql.dataFrameDebugging.enabled", "false")

# Runtime-settable confs of the engine session: get_spark sets them on the
# builder and re-applies them to a host-created session it reuses.
RUNTIME_CONFS = (
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    # AQE re-sizes joins from RUNTIME exchange stats; the static 10 MB
    # default is far below what any executor comfortably holds and
    # forces sort-merge exactly where a broadcast avoids re-shuffling a
    # big cached side (minhash verification at 1000x sf0.1: the 1.3M-row
    # candidate-pair frame measured ~20 MB at runtime, and sort-merge
    # shuffled the 5M-row shingle-array frame twice for it — 202 s of
    # pure exchange). 64 MB is standard production sizing.
    ("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.timestampType", "TIMESTAMP_LTZ"),
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
)


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via `addPyFile`.

    Closures passed to mapInPandas/pandas_udf/applyInPandas are pickled by
    value, but any package-level function or constant they reference is
    pickled BY REFERENCE — the worker must be able to `import
    seo_audit_etl_actor_spark`. A host-created SparkSession (the external
    driver's, a notebook's) carries no PYTHONPATH pointing here, and the
    worker's implicit cwd entry only saves the day when the driver happens
    to run from the repo root. Zipping the package once per SparkContext
    and `addPyFile`-ing it makes every Python-worker stage importable under
    ANY session, cwd, or (at cluster scale) executor host — `addPyFile` is
    exactly Spark's mechanism for shipping job code to executors.

    Called by every operator that builds a Python-worker stage; O(1) after
    the first call (flag on the SparkContext)."""
    sc = spark.sparkContext
    if getattr(sc, "_seo_pkg_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    zip_path = os.path.join(parent, ".pkgzip", "seo_audit_etl_actor_spark.zip")
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        sources.extend(os.path.join(root, f) for f in files if f.endswith(".py"))
    newest = max(os.path.getmtime(p) for p in sources)
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest:
        os.makedirs(os.path.dirname(zip_path), exist_ok=True)
        # Per-process tmp name: two concurrent drivers (parallel pytest +
        # bench) must not interleave writes into one tmp file and os.replace
        # a corrupted zip; each writes its own tmp, replace stays atomic.
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        try:
            with zipfile.ZipFile(tmp, "w") as zf:
                for p in sorted(sources):
                    zf.write(p, os.path.relpath(p, parent))
            os.replace(tmp, zip_path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
    sc.addPyFile(zip_path)
    sc._seo_pkg_shipped = True


def get_spark(app_name: str = "seo-audit-etl-actor-spark") -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Scale notes: every knob here survives a 1000-executor cluster — AQE owns
    runtime re-planning (partition coalescing, broadcast conversion, skew
    splitting), so the same logical plans serve local[32] and 100 TB.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    for k, v in RUNTIME_CONFS:
        builder = builder.config(k, v)
    builder = (
        builder.config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Generated-class cache (static conf). The default LRU holds 100
        # compiled classes while one catalog pass generates >154 distinct
        # WholeStageCodegen/ordering/predicate classes — so a multi-query
        # application recompiles EVERY query's codegen on EVERY pass
        # (janino compile is driver-side, serial, ~0.1-1 s per query) and
        # each pass executes freshly-loaded classes the JIT has never seen.
        # Measured effect (r13 controlled A/B, SCALE_STUDY_r13
        # codegen_cache_ab: one calibration-clean full-catalog warm pass
        # per setting): 178.5 s at 100 vs 160.7 s at 4096 (~10%, part of
        # which is run-to-run CPU skew — bracketing calibrations differed
        # ~8%), spread as ~0.3-1 s across most codegen-heavy queries, no
        # 2-4x per-query floors. An earlier r12 comment claimed
        # "290 → 195 s"; that number was measured against the since-
        # reverted 2M-row embeddings corpus and is NOT reproducible on
        # current testdata — retracted. Not a local-mode tune: any
        # long-lived Spark app serving a query library larger than 100
        # shapes pays the same recompile tax; the entry count is
        # shape-count-, not scale- or core-count-dependent.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # shuffle/spill block codec (static conf). zstd over the lz4
        # default: the dedup family's scale boundary is scratch DISK, not
        # CPU (minhash m3160 died at ~70 GB spill on lz4 — r8 scale study);
        # zstd's ~1.3-2x better ratio on band-key/signature blocks buys
        # headroom exactly where the host is capacity-bound, and at cluster
        # scale shrinks shuffle I/O on the same reasoning.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config(*NO_DATAFRAME_DEBUGGING)
        # progress-bar escape codes would interleave with bench.py's
        # machine-parseable stdout (static conf: must be set pre-start)
        .config("spark.ui.showConsoleProgress", "false")
    )
    active = SparkSession.getActiveSession()
    if active is not None:
        # A host process may have created the session without our confs.
        # Timezone-sensitive queries (hourly/monthly windows) compare against
        # a UTC DuckDB oracle, so re-apply every runtime-settable conf on the
        # reuse path; static confs (driver memory, UI) can't change post-start.
        for k, v in RUNTIME_CONFS:
            active.conf.set(k, v)
        return active
    return builder.master(f"local[{cpus}]").getOrCreate()


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """`key` set to `value` for the block, the caller's setting restored
    after, also when the block raises; a key the caller never set is unset
    again, so it keeps following its default. The conf is the session's,
    so other threads see the value while the block runs."""
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one synthetic table.

    Declarative read → Catalyst gets predicate pushdown + column pruning for
    free on every downstream query (`PushedFilters`/`ReadSchema` in explain).
    The inferred schema is cached per (dir, table) so repeated reads skip
    the footer-inference job (a fixed per-query cost that would otherwise
    dominate small-SF benchmarks; at cluster scale it also avoids a
    listing+footer pass per query).

    `events.ts` is written as Parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader refuses; we read nanos as long (legacy conf, dynamic)
    and convert to a microsecond timestamp — the same truncation DuckDB
    applies when casting TIMESTAMP_NS → TIMESTAMP.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (sf_dir, name)
    if key in _SCHEMA_CACHE:
        df = spark.read.schema(_SCHEMA_CACHE[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Timestamps without a parquet UTC marker arrive as TIMESTAMP_NTZ when a
    # host-created session left inferTimestampNTZ on; every operator (and the
    # round-1-proven oracle comparison) works on TIMESTAMP_LTZ under the UTC
    # session timezone, where the NTZ->LTZ cast is wall-clock identity.
    # Cast to the explicit LTZ type: the "timestamp" alias resolves via
    # spark.sql.timestampType, which a host session could have set to NTZ —
    # the exact threat this conversion defends against. Only top-level
    # columns are walked; the driver tables are flat (no nested timestamps).
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast(TimestampType()))
    return df


def summary_frame(spark: SparkSession, row: dict) -> DataFrame:
    """A one-row result, every column int64 in `row`'s order, handed to
    Spark as an Arrow table: a JVM LocalRelation, so no job over it starts
    a Python worker."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({k: pa.array([int(v)], pa.int64()) for k, v in row.items()})
    )


# Keyed by (path, size, mtime_ns) per file so an in-place rewrite (same
# path, different row-group layout) misses instead of returning a stale
# count; bounded so a long session scanning many tables can't grow it
# without limit (recomputation is cheap — a footer read per file).
_ROW_GROUP_CACHE: dict[tuple[tuple[str, int, int], ...], int] = {}
_ROW_GROUP_CACHE_MAX = 256


def _stat_key(files: tuple[str, ...]) -> tuple[tuple[str, int, int], ...] | None:
    from urllib.parse import urlparse

    key = []
    for uri in files:
        path = urlparse(uri).path if uri.startswith("file:") else uri
        try:
            st = os.stat(path)
        except OSError:
            return None
        key.append((path, st.st_size, st.st_mtime_ns))
    return tuple(key)


def _parquet_work_units(df: DataFrame, target: int) -> int | None:
    """Actual parallelizable units of a parquet-backed frame.

    Spark PLANS file splits as ceil(size / min(maxPartitionBytes,
    max(openCostInBytes, size / defaultParallelism))) — i.e. split count is
    steered toward defaultParallelism regardless of file structure. But the
    vectorized parquet reader assigns each ROW GROUP to the one split that
    contains its starting offset, so a big single-file corpus written with
    1M-row groups (pyarrow's default) plans 32 "partitions" of which all but
    a handful are EMPTY. Split count therefore overstates achievable
    parallelism, and any guard that trusts it under-parallelizes exactly on
    big inputs (the round-5 ladder's m316 rung: 32 planned splits, 2 row
    groups → the whole shingle pass ran on 2 of 32 cores, a measured 10×
    cliff; fixed here).

    Returns the row-group total when the frame maps to parquet files, None
    when it doesn't (non-file sources, or footers we can't read — caller
    falls back to split count, which is correct for line-splittable text).
    With >= target files the answer can't be below target (>= 1 row group
    per file), so footers are never read — O(1) driver cost on the
    thousands-of-files layout every real 100 TB table has.
    """
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:
        return None
    if not files:
        return None
    if len(files) >= target:
        return len(files)
    cache_key = _stat_key(files)
    if cache_key is not None and cache_key in _ROW_GROUP_CACHE:
        return _ROW_GROUP_CACHE[cache_key]
    try:
        import pyarrow.parquet as pq

        total = 0
        for path, _size, _mtime in cache_key or ():
            total += pq.ParquetFile(path).metadata.num_row_groups
        if cache_key is None:
            return None
    except Exception:
        return None
    if len(_ROW_GROUP_CACHE) >= _ROW_GROUP_CACHE_MAX:
        _ROW_GROUP_CACHE.clear()
    _ROW_GROUP_CACHE[cache_key] = total
    return total


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a small scan across the cluster before heavy per-row compute.

    A tiny parquet file arrives as ONE input split, so compute-dense
    operators (shingling, hashing, dot products) would serialize on a single
    core no matter how many executors exist. Repartition only when the scan
    has fewer WORK UNITS than the session's parallelism — for parquet that
    is min(planned splits, row groups), because the vectorized reader
    parallelizes at row-group granularity and planned splits routinely
    overstate it on few-big-files layouts (see _parquet_work_units). At real
    scale the input has thousands of files and this is a plan-time no-op —
    no shuffle is added where parallelism already exists.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    units = df.rdd.getNumPartitions()
    row_groups = _parquet_work_units(df, target)
    if row_groups is not None:
        units = min(units, row_groups)
    if units < target:
        return df.repartition(target)
    return df
