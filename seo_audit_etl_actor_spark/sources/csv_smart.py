"""Encoding-sniffing CSV reader (SURVEY §2.1 S5, §7.3 H1).

Parse chain, exactly the reference's (/root/reference/src/etl.js:23-41):

1. unless the buffer sniffs as UTF-16: decode UTF-8, auto-detect delimiter,
   parse; accept unless "bad";
2. decode UTF-16LE, parse with TAB; accept unless "bad";
3. decode UTF-16LE, parse with COMMA; accept unconditionally.

"Bad parse" = more than 5 row errors (field count != header count — the
papaparse TooFewFields/TooManyFields analog) OR zero data rows
(src/etl.js:23).

The decode + parse happens on the driver: these are the reference's
ZIP-of-small-CSVs inputs, where per-file driver-side parsing is the right
cost model (SURVEY §3.4). Row counts and placeholder checks read the
`ParsedCsv` directly. Only a stanza aggregation hands it to Spark, via
`to_dataframe`: the rows go over as one Arrow table. A table of more than
64 KiB of Arrow batches (the 20k-row exports) stays a JVM RDD of those
batches, decoded in the task, so its rows are not part of any Catalyst
plan; a smaller one becomes a `LocalRelation`, the cheaper hand-off for a
few rows. Either way no stanza job waits on a Python worker. The frame
is all-string with a `__row_id` ingest-order column (H2 determinism —
Spark has no implicit file order), and it is a single partition: the rows
already sit on the driver, so slicing them only bought a shuffle, and a
global aggregation over one partition is one single-stage, one-task job.
For big standalone CSVs use `read_csv_distributed`, which pushes the same
encoding/delimiter decision into Spark's distributed CSV scan.

Deliberate divergence: papaparse emits a phantom `{col: ""}` row for a
trailing newline; Python's csv module does not. We follow csv-module
semantics (no phantom row) — recorded here per SURVEY §5.2.
"""

from __future__ import annotations

import csv
import io
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from seo_audit_etl_actor_spark.session import scoped_conf
from seo_audit_etl_actor_spark.sources.sniff import (
    looks_utf16,
    sniff_delimiter,
    utf16_variant,
)

MAX_ROW_ERRORS = 5
ROW_ID = "__row_id"
# Arrow bytes above which `to_dataframe`'s frame stays an RDD of Arrow
# batches instead of becoming a `LocalRelation`
ARROW_RDD_THRESHOLD = 64 * 1024


@dataclass
class ParsedCsv:
    """Driver-side parse result: header + string rows + error count."""

    header: list[str] = field(default_factory=list)
    rows: list[list[str | None]] = field(default_factory=list)
    n_errors: int = 0

    @property
    def bad(self) -> bool:
        return self.n_errors > MAX_ROW_ERRORS or not self.rows


def _dedupe_header(header: list[str]) -> list[str]:
    """papaparse (>= 5.4) header renaming: the n-th repeat of `h` becomes
    `h_n`, and while a name is already taken `_{n}` is appended again, so
    `a,a,a` → `a, a_1, a_2` and `a,a_1,a` → `a, a_1, a_1_1`."""
    counts: dict[str, int] = {}
    used: set[str] = set()
    out = []
    for h in header:
        n = counts.get(h, 0)
        counts[h] = n + 1
        name = f"{h}_{n}" if n else h
        while name in used:
            name = f"{name}_{n}"
        used.add(name)
        out.append(name)
    return out


def _parse_text(text: str, delimiter: str) -> ParsedCsv:
    reader = csv.reader(io.StringIO(text), delimiter=delimiter)
    try:
        header = next(reader)
    except StopIteration:
        return ParsedCsv()
    header = _dedupe_header([h for h in header])
    width = len(header)
    rows: list[list[str | None]] = []
    n_errors = 0
    for raw in reader:
        if not raw:
            continue  # blank line
        if len(raw) != width:
            n_errors += 1
        # pad missing fields with None / drop extras — papaparse row shape
        row: list[str | None] = list(raw[:width]) + [None] * max(0, width - len(raw))
        rows.append(row)
    return ParsedCsv(header=header, rows=rows, n_errors=n_errors)


def parse_csv_smart_rows(buf: bytes) -> ParsedCsv:
    """The reference's parse chain over raw bytes → header + string rows."""
    if not looks_utf16(buf):
        # lstrip BOM: iconv-lite/papaparse strip it; Python decode keeps it
        text = buf.decode("utf-8", errors="replace").lstrip("﻿")
        res = _parse_text(text, sniff_delimiter(text))
        if not res.bad:
            return res
    text16 = buf.decode(utf16_variant(buf), errors="replace").lstrip("﻿")
    res = _parse_text(text16, "\t")
    if not res.bad:
        return res
    return _parse_text(text16, ",")


def to_dataframe(spark: SparkSession, parsed: ParsedCsv) -> DataFrame | None:
    """All-string DataFrame + ingest-order `__row_id` (H2: deterministic
    first/collect need an explicit order column).

    The driver-held rows are built column by column into one Arrow table
    (a missing cell stays null, distinct from ''). `createDataFrame` runs
    with `spark.sql.execution.arrow.localRelationThreshold` at
    `ARROW_RDD_THRESHOLD`, the caller's value restored after: above it
    Spark keeps the batches as a JVM RDD (`Scan ExistingRDD arrow`) that
    the task decodes, so the analyser, the optimiser and every job's task
    skip a 20k-row `LocalRelation`; below it the few rows become a
    `LocalRelation`. No row is pickled and no job over the frame starts a
    Python worker. The frame is coalesced to one partition, so an `agg`
    over it plans no Exchange (an Arrow-RDD scan reports no partitioning,
    so without the coalesce even a one-batch frame would get one)."""
    if not parsed.header:
        return None
    import pyarrow as pa

    schema = T.StructType(
        [T.StructField(ROW_ID, T.LongType(), False)]
        + [T.StructField(h, T.StringType(), True) for h in parsed.header]
    )
    columns = list(zip(*parsed.rows)) or [()] * len(parsed.header)
    table = pa.Table.from_arrays(
        [pa.array(range(len(parsed.rows)), pa.int64())]
        + [pa.array(c, pa.string()) for c in columns],
        names=[ROW_ID, *parsed.header],
    )
    threshold = "spark.sql.execution.arrow.localRelationThreshold"
    with scoped_conf(spark, threshold, str(ARROW_RDD_THRESHOLD)):
        df = spark.createDataFrame(table, schema)
    return df.coalesce(1)


def read_csv_distributed(
    spark: SparkSession, path: str, probe: bytes | None = None
) -> DataFrame:
    """The at-scale path: probe the first 4 KiB driver-side (one ranged
    read), then let Spark's distributed CSV scan do the parsing with the
    sniffed encoding/delimiter — the file splits across executors, the
    sniff does not.

    UTF-16 inputs are read with multiLine so the univocity parser applies
    the charset itself (Hadoop line splitting is byte-oriented and would
    break surrogate pairs at split boundaries).
    """
    if probe is None:
        import builtins

        with builtins.open(path.removeprefix("file://"), "rb") as f:
            probe = f.read(4096)
    reader = spark.read.option("header", True).option("mode", "PERMISSIVE")
    if looks_utf16(probe):
        enc = "UTF-16LE" if utf16_variant(probe) == "utf-16-le" else "UTF-16BE"
        df = (
            reader.option("encoding", enc)
            .option("multiLine", True)
            .option("sep", "\t")
            .csv(path)
        )
    else:
        text = probe.decode("utf-8", errors="replace")
        df = reader.option("sep", sniff_delimiter(text)).csv(path)
    # Spark keeps a BOM char in the first header; normalize it away
    first = df.columns[0]
    if first.startswith("﻿"):
        df = df.withColumnRenamed(first, first.lstrip("﻿"))
    return df
