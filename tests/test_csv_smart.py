"""Driver-side CSV parse → Spark hand-off (sources/csv_smart.py):
header renaming, the Arrow fast path against the exact csv-module parse,
the Arrow-backed, single-partition `to_dataframe` frame (a
`LocalRelation` when small, an RDD of Arrow batches when big), and
scoring's single-row frame, which Catalyst folds without a job."""

from __future__ import annotations

import csv
import io
import zipfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seo_audit_etl_actor_spark.pipeline.document import empty_normalized
from seo_audit_etl_actor_spark.pipeline.scoring import compute_scores
from seo_audit_etl_actor_spark.plans.audit import aqe_off
from seo_audit_etl_actor_spark.sources import csv_smart
from seo_audit_etl_actor_spark.sources.csv_smart import (
    ARROW_RDD_THRESHOLD,
    ROW_ID,
    ParsedCsv,
    _dedupe_header,
    _parse_arrow,
    _parse_csv_module,
    _parse_text,
    parse_csv_smart_rows,
    to_dataframe,
)


@pytest.mark.parametrize(
    "header, expected",
    [
        pytest.param("a,a,a", "a,a_1,a_2", id="plain_duplicates"),
        # the old rule emitted `a, a_1, a_1`: a pick on `a_1` was ambiguous
        pytest.param("a,a_1,a", "a,a_1,a_1_1", id="suffix_collision"),
    ],
)
def test_dedupe_header(header, expected):
    assert _dedupe_header(header.split(",")) == expected.split(",")


def _outcome(parse, text: str, delimiter: str):
    try:
        parsed = parse(text, delimiter)
    except csv.Error as e:  # a lone CR in an unquoted field
        return f"csv.Error: {e}"
    return parsed.header, list(parsed.rows), parsed.n_errors, parsed.n_rows


# quotes, lone CR, CRLF, NUL, BOM, the line breaks the csv module does not
# split on (VT, FF, FS, NEL) and a non-ASCII letter
CSV_PIECES = [
    *("a", "b", "1", " ", ",", "\t", ";", "\n", "\r", "\r\n", '"'),
    *("\x00", "\ufeff", "\x0b", "\x0c", "\x1c", "\x85", "é"),
]
FIELD = st.lists(st.sampled_from([p for p in CSV_PIECES if p not in ("\n", "\r", "\r\n")]), max_size=3).map("".join)


@st.composite
def _tables(draw):
    """Header + rows of mostly the header's width, CRLF or LF line ends,
    sometimes a blank line: texts the fast path mostly accepts."""
    delimiter = draw(st.sampled_from([",", "\t", ";"]))
    width = draw(st.integers(1, 4))
    lines = []
    for _ in range(draw(st.integers(1, 8))):
        n = draw(st.sampled_from([width, width, width, width - 1, width + 1, 0]))
        lines.append(delimiter.join(draw(st.lists(FIELD, min_size=n, max_size=n))))
    ends = draw(st.lists(st.sampled_from(["\n", "\r\n"]), min_size=len(lines), max_size=len(lines)))
    text = "".join(line + end for line, end in zip(lines, ends))
    return (text if draw(st.booleans()) else text.rstrip("\r\n")), delimiter


@settings(max_examples=400, deadline=None)
@given(
    case=st.one_of(
        st.tuples(
            st.lists(st.sampled_from(CSV_PIECES), max_size=40).map("".join),
            st.sampled_from([",", "\t", ";"]),
        ),
        _tables(),
    )
)
def test_arrow_parse_equals_the_csv_module_parse(case):
    text, delimiter = case
    fast = _parse_arrow(text, delimiter)
    if fast is not None:
        assert _outcome(lambda *_: fast, text, delimiter) == _outcome(_parse_csv_module, text, delimiter)


def test_quoted_text_takes_the_exact_path():
    text = 'a,b\n"x,y",2\n'
    assert _parse_arrow(text, ",") is None
    assert list(_parse_text(text, ",").rows) == [["x,y", "2"]]


def test_ragged_text_takes_the_exact_path_and_keeps_none_apart_from_empty():
    text = "x,y,z\n1,,3\n4,5\n"
    assert _parse_arrow(text, ",") is None
    parsed = _parse_text(text, ",")
    assert (list(parsed.rows), parsed.n_errors) == ([["1", "", "3"], ["4", "5", None]], 1)


def test_crlf_text_takes_the_fast_path():
    text = "a;b\r\n1;\r\n\r\n;2\r\n"
    fast = _parse_arrow(text, ";")
    assert fast is not None
    assert _outcome(lambda *_: fast, text, ";") == _outcome(_parse_csv_module, text, ";")
    assert list(fast.rows) == [["1", ""], ["", "2"]]


def test_field_over_the_csv_module_limit_raises_as_the_csv_module_does():
    text = "a,b\n1," + "x" * csv.field_size_limit() + "y\n"
    assert _outcome(_parse_text, text, ",") == _outcome(_parse_csv_module, text, ",")
    assert _outcome(_parse_text, text, ",").startswith("csv.Error")


def _refuse(*args):
    raise AssertionError("took the other parse path")


@pytest.mark.parametrize("seed", [1, 3])
def test_large_audit_exports_take_the_fast_path(seed, monkeypatch):
    from perfbench.auditzip import LARGE_ROWS, make_audit

    zf = zipfile.ZipFile(io.BytesIO(make_audit(seed, large=True)[0]))
    big = [zf.read(n) for n in zf.namelist() if n.endswith(".csv") and zf.getinfo(n).file_size > 100_000]
    assert len(big) == 4
    exact = [parse_csv_smart_rows(buf) for buf in big]
    monkeypatch.setattr(csv_smart, "_parse_csv_module", _refuse)
    for buf, want in zip(big, exact):
        got = parse_csv_smart_rows(buf)
        assert got.n_rows == LARGE_ROWS
        assert (got.header, got.rows, got.n_errors) == (want.header, want.rows, want.n_errors)


def test_small_text_takes_the_csv_module_parse(monkeypatch):
    monkeypatch.setattr(csv_smart, "_parse_arrow", _refuse)
    parsed = parse_csv_smart_rows(b"a,b\r\n1,2\r\n")
    assert (parsed.header, parsed.rows) == (["a", "b"], [["1", "2"]])


def _leaf(df) -> str:
    plan = df._jdf.queryExecution().executedPlan()
    while plan.children().size() > 0:
        plan = plan.children().apply(0)
    return plan.nodeName()


def test_frame_is_a_local_table_scan(spark):
    # Built from a list of tuples, the frame planned `Scan ExistingRDD` over
    # a PythonRDD, and every job over it started a Python worker. A few
    # rows stay a LocalRelation under `to_dataframe`'s lowered threshold.
    df = to_dataframe(spark, parse_csv_smart_rows(b"url,status\n/a,200\n/b,404\n"))
    assert _leaf(df) == "LocalTableScan"


def test_ragged_row_keeps_none_apart_from_empty(spark):
    parsed = parse_csv_smart_rows(b"x,y,z\n1,,3\n4,5\n")
    assert parsed.rows == [["1", "", "3"], ["4", "5", None]]
    rows = to_dataframe(spark, parsed).orderBy(ROW_ID).collect()
    assert [tuple(r) for r in rows] == [(0, "1", "", "3"), (1, "4", "5", None)]


def test_row_id_is_ingest_index_across_arrow_batches(spark):
    # 25,000 rows span three Arrow batches at the default
    # arrowMaxRecordsPerBatch of 10,000
    n = 25_000
    parsed = ParsedCsv.from_rows(["n"], [[str(i)] for i in range(n)])
    df = to_dataframe(spark, parsed)
    mismatched = df.where(df[ROW_ID] != df["n"].cast("bigint")).count()
    assert (df.count(), mismatched) == (n, 0)


def test_header_only_gives_empty_frame(spark):
    df = to_dataframe(spark, ParsedCsv.from_rows(["a", "b"], []))
    assert df.columns == [ROW_ID, "a", "b"]
    assert df.count() == 0


def test_schema_is_row_id_then_nullable_strings(spark):
    df = to_dataframe(spark, parse_csv_smart_rows(b"a;b;a\n1;2;3\n"))
    # select("*") reads the schema back from the JVM plan
    assert df.select("*").schema == T.StructType(
        [
            T.StructField(ROW_ID, T.LongType(), False),
            T.StructField("a", T.StringType(), True),
            T.StructField("b", T.StringType(), True),
            T.StructField("a_1", T.StringType(), True),
        ]
    )


def test_no_header_gives_no_frame(spark):
    assert to_dataframe(spark, ParsedCsv()) is None


def test_frame_is_one_partition_and_aggregates_without_exchange(spark):
    # The rows are on the driver already: sliced into defaultParallelism
    # partitions, every global aggregate paid a shuffle and a second stage.
    df = to_dataframe(spark, parse_csv_smart_rows(b"url\n/a\n/b\n/a\n/c\n/d\n/e\n"))
    assert df.rdd.getNumPartitions() == 1
    assert _leaf(df) == "LocalTableScan"
    agg = df.agg(F.countDistinct("url").alias("urls"), F.count(F.lit(1)).alias("n"))
    with aqe_off(spark):
        plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert agg.first().asDict() == {"urls": 5, "n": 6}


def test_big_frame_is_an_arrow_rdd_scan_without_python(spark):
    # 20,000 rows are ~0.5 MB of Arrow: as a LocalRelation they were walked
    # by the analyser and optimiser of every plan over them, and shipped
    # inside every task
    csv = b"url,status\n" + b"".join(b"/p%d,200\n" % i for i in range(20_000))
    df = to_dataframe(spark, parse_csv_smart_rows(csv))
    assert _leaf(df) == "Scan ExistingRDD arrow"
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    agg = df.agg(F.countDistinct("url").alias("urls"), F.count(F.lit(1)).alias("n"))
    with aqe_off(spark):
        plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert agg.first().asDict() == {"urls": 20_000, "n": 20_000}


@pytest.mark.parametrize("caller", ["1m", None], ids=["set", "unset"])
def test_to_dataframe_restores_the_callers_threshold(spark, monkeypatch, caller):
    key = "spark.sql.execution.arrow.localRelationThreshold"
    if caller is not None:
        spark.conf.set(key, caller)
    seen = []

    def failing_create(*args, **kwargs):
        seen.append(spark.conf.get(key))
        raise RuntimeError("createDataFrame failed")

    try:
        parsed = parse_csv_smart_rows(b"a\n1\n")
        to_dataframe(spark, parsed)
        assert spark.conf.get(key, None) == caller
        monkeypatch.setattr(spark, "createDataFrame", failing_create)
        with pytest.raises(RuntimeError):
            to_dataframe(spark, parsed)
        assert spark.conf.get(key, None) == caller
        assert seen == [str(ARROW_RDD_THRESHOLD)]
    finally:
        spark.conf.unset(key)


def test_scoring_runs_no_job(jobs_of, spark):
    # Scoring used to aggregate a 20-row long frame in one job; now it is a
    # projection over a one-row LocalRelation, which Catalyst folds
    doc = empty_normalized("c", "example.com", "2025-01-01")
    scores, jobs, _ = jobs_of(lambda: compute_scores(spark, doc))
    assert len(jobs) == 0
    assert (scores["oss_weight_used"], scores["lss_weight_used"]) == (20, 40)
