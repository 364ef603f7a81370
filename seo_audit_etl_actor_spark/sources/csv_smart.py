"""Encoding-sniffing CSV reader (SURVEY §2.1 S5, §7.3 H1).

Parse chain, exactly the reference's (/root/reference/src/etl.js:23-41):

1. unless the buffer sniffs as UTF-16: decode UTF-8, auto-detect delimiter,
   parse; accept unless "bad";
2. decode UTF-16LE, parse with TAB; accept unless "bad";
3. decode UTF-16LE, parse with COMMA; accept unconditionally.

"Bad parse" = more than 5 row errors (field count != header count — the
papaparse TooFewFields/TooManyFields analog) OR zero data rows
(src/etl.js:23).

Each parse attempt has two paths with one result. When the text has at
least 64 Ki characters, no `"`, no CR outside a CRLF pair and a non-empty
first line, `pyarrow.csv` (C++, GIL released) reads the data rows
straight into the Arrow string columns Spark receives, with quoting off
and every column a non-null string. If Arrow sees a row wider or
narrower than the header, or cannot read the text, the attempt falls
back to the `csv`-module parse, which pads a short row with None and
counts it as an error; a quoted text always takes that exact path,
because the two parsers treat malformed quoting differently, and so does
a short text, for which the csv module is the cheaper parse. Both paths
give a `ParsedCsv` of the same header, columns, row count and error
count; `tests/test_csv_smart.py` checks the two against each other over
random texts.

The decode + parse happens on the driver: these are the reference's
ZIP-of-small-CSVs inputs, where per-file driver-side parsing is the right
cost model (SURVEY §3.4). Row counts and placeholder checks read the
`ParsedCsv` directly. Only a stanza aggregation hands it to Spark, via
`to_dataframe`: its columns go over as one Arrow table. A table of more than
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
import functools
import io
from collections.abc import Sequence
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
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
# Characters from which a parse attempt tries `pyarrow.csv`. Below it the
# csv module is the cheaper parse: it takes ~20 µs for a few-row export,
# while `read_csv` releases the GIL and, with the stanza threads running,
# waits 1-12 ms to take it back
ARROW_PARSE_MIN_CHARS = 64 * 1024


class _Rows(Sequence):
    """Read-only row view of a parse's columns: the length is the row
    count, and the rows (lists, a missing field None) are built from the
    columns on first access and kept."""

    def __init__(self, columns: list[pa.StringArray], n_rows: int) -> None:
        self._columns = columns
        self._n_rows = n_rows
        self._rows: list[list[str | None]] | None = None

    def _materialised(self) -> list[list[str | None]]:
        if self._rows is None:
            cells = [c.to_pylist() for c in self._columns]
            self._rows = [list(r) for r in zip(*cells)] if cells else [[] for _ in range(self._n_rows)]
        return self._rows

    def __len__(self) -> int:
        return self._n_rows

    def __getitem__(self, i):
        return self._materialised()[i]

    def __eq__(self, other: object) -> bool:
        if isinstance(other, (list, _Rows)):
            return self._materialised() == list(other)
        return NotImplemented

    __hash__ = None


@dataclass(frozen=True)
class ParsedCsv:
    """Driver-side parse result: the header, one Arrow string column per
    header name (a missing field is null, apart from ''), the data-row
    count and the field-count error count."""

    header: list[str] = field(default_factory=list)
    columns: list[pa.StringArray] = field(default_factory=list)
    n_rows: int = 0
    n_errors: int = 0

    @classmethod
    def from_rows(
        cls, header: list[str], rows: list[list[str | None]], n_errors: int = 0
    ) -> ParsedCsv:
        """From rows of `len(header)` cells each."""
        cells = list(zip(*rows)) or [()] * len(header)
        return cls(header, [pa.array(c, pa.string()) for c in cells], len(rows), n_errors)

    @functools.cached_property
    def rows(self) -> _Rows:
        return _Rows(self.columns, self.n_rows)

    @property
    def bad(self) -> bool:
        return self.n_errors > MAX_ROW_ERRORS or not self.n_rows


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


def _longest_field(header: list[str], columns: list[pa.StringArray]) -> int:
    return max([len(h) for h in header] + [pc.max(pc.utf8_length(c)).as_py() or 0 for c in columns])


def _parse_arrow(text: str, delimiter: str) -> ParsedCsv | None:
    """The parse by `pyarrow.csv`, for a text whose csv-module parse it
    reproduces exactly: no quote character, no CR outside a CRLF pair, a
    non-empty first line, and every data row as wide as the header. None
    for any other text."""
    first = text.partition("\n")[0].removesuffix("\r")
    if not first or '"' in text or text.count("\r") != text.count("\r\n"):
        return None
    header = first.split(delimiter)
    names = [f"c{i}" for i in range(len(header))]
    try:
        table = pcsv.read_csv(
            pa.py_buffer(text.encode("utf-8", "surrogatepass")),
            read_options=pcsv.ReadOptions(column_names=names, skip_rows=1, use_threads=False),
            parse_options=pcsv.ParseOptions(delimiter=delimiter, quote_char=False),
            convert_options=pcsv.ConvertOptions(
                column_types=dict.fromkeys(names, pa.string()), strings_can_be_null=False
            ),
        )
    except pa.ArrowInvalid:
        # a row wider or narrower than the header, a header-only text with
        # no newline, or a lone surrogate
        return None
    columns = [c.combine_chunks() for c in table.columns]
    limit = csv.field_size_limit()
    if len(text) >= limit and _longest_field(header, columns) >= limit:
        return None  # the csv module raises on a field this long
    return ParsedCsv(_dedupe_header(header), columns, table.num_rows)


def _parse_csv_module(text: str, delimiter: str) -> ParsedCsv:
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
    return ParsedCsv.from_rows(header, rows, n_errors)


def _parse_text(text: str, delimiter: str) -> ParsedCsv:
    """One parse attempt: Arrow's C++ reader for a long text where it gives
    the csv module's result, the csv module itself everywhere else."""
    parsed = _parse_arrow(text, delimiter) if len(text) >= ARROW_PARSE_MIN_CHARS else None
    return parsed if parsed is not None else _parse_csv_module(text, delimiter)


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

    The parse's Arrow columns, with `__row_id` prepended, are one Arrow
    table (a missing cell stays null, distinct from ''). `createDataFrame` runs
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
    schema = T.StructType(
        [T.StructField(ROW_ID, T.LongType(), False)]
        + [T.StructField(h, T.StringType(), True) for h in parsed.header]
    )
    table = pa.Table.from_arrays(
        [pa.array(range(parsed.n_rows), pa.int64()), *parsed.columns],
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
