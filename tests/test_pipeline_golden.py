"""Golden end-to-end pipeline test (SURVEY §5.2 strategy #2): fixture ZIP →
process_zip → compare the three artifacts against hand-computed
expectations, including every degradation path (missing entry, corrupted
nested zip, non-ZIP payload, missing position column, placeholder files).

All expected numbers are derived BY HAND from tests/fixtures_seo.py data —
see the arithmetic notes inline.
"""

from __future__ import annotations

import json
import re
import threading

import pytest
from pyspark.sql import functions as F

from seo_audit_etl_actor_spark.pipeline import stanzas
from seo_audit_etl_actor_spark.pipeline.document import empty_normalized, to_reference_json
from seo_audit_etl_actor_spark.pipeline.run import JobInput, process_zip, write_outputs
from seo_audit_etl_actor_spark.sources.csv_smart import parse_csv_smart_rows
from seo_audit_etl_actor_spark.sources.zip_io import NotAZipError
from tests.fixtures_seo import build_fixture_zip

JOB = JobInput(client="Acme Plumbing", domain="acme.example", run_date="2025-06-01", zip_url="memory://fixture")


@pytest.fixture(scope="module")
def result(spark):
    return process_zip(spark, JOB, fetch_impl=lambda url: build_fixture_zip())


def test_meta_and_provenance(result):
    doc = result["normalized_audit"]
    assert doc["meta"] == {"client": "Acme Plumbing", "domain": "acme.example", "run_date": "2025-06-01"}
    ref = to_reference_json(doc)
    assert ref["provenance"] == {
        "ahrefs": True,
        "screamingfrog": True,
        "lighthouse": True,
        "brightlocal": True,
        "gbp_public": True,
        "gsc": "present",  # real gsc_queries_28d rows
        "ga4": "missing",  # only a placeholder ga4 file
        "leadsnap": "missing",
    }


def test_keywords_buckets(result):
    # positions 1,2,3,5,9,15,50,120 valid (abc→0 and -2 dropped by >0)
    assert result["normalized_audit"]["onsite"]["keywords"] == {"top3": 3, "top10": 5, "top100": 7}


def test_pages_and_backlinks(result):
    doc = result["normalized_audit"]
    # distinct URLs /a /b /c — ahrefs wins the ?? coalesce over sf's 7 rows
    assert doc["onsite"]["content"]["pages_total"] == 3
    assert doc["backlinks"]["ref_domains"] == 4
    # DR mean over [50, 70, 0, 30] — empty cell coerces to 0 (JS Number(''))
    assert doc["backlinks"]["dr"] == pytest.approx(37.5)


def test_error_accumulation(result):
    # site audit: 4xx 2+1, 5xx 1, redirects 2, dup_titles 1, orphans 2
    # sf_internal adds: 404,404 → +2 4xx; 500 → +1 5xx ('abc'→0 out of range)
    assert result["normalized_audit"]["onsite"]["errors"] == {
        "4xx": 5,
        "5xx": 2,
        "redirect_chains": 2,
        "canonical": 0,
        "thin": 0,
        "duplicate_titles": 1,
        "orphan_pages": 2,
    }


def test_cwv_rollup(result):
    cwv = result["normalized_audit"]["onsite"]["cwv"]
    # two lighthouse files: p75 index floor(.75*1)=0 → the smaller value
    assert cwv["lcp_p75"] == 2000
    assert cwv["cls_p75"] == 0.05
    assert cwv["inp_p75"] == 150
    assert cwv["pass_rate"] == pytest.approx(0.5)  # home passes, service fails


def test_local_block(result):
    local = result["normalized_audit"]["local"]
    assert local["rank"] == {
        "avg_pos": pytest.approx(7.0),  # (1+3+4+20)/4
        "pct_top3": pytest.approx(0.5),  # 1,3 of 4
        "keywords_tracked": 4,
    }
    # Live / OK+link / Dead / (blank, uncounted) / link-only → 3 of 4
    assert local["citations"]["consistency"] == pytest.approx(0.75)
    assert local["reviews"]["count_total"] == pytest.approx(120)
    assert local["reviews"]["avg_rating"] == pytest.approx(4.4)
    assert local["gbp"]["primary_category"] == "Plumber"
    assert local["gbp"]["secondary_categories"] == ["Emergency Plumber", "Drainage Service"]
    # gbp_photos 'total' row overwrites the insights max (35 → 42)
    assert local["gbp"]["photos_total"] == pytest.approx(42)


def test_scores(result):
    s = result["scores"]
    # OSS: used = kw 20 + health 20 + cwv 15 = 55 of 100
    #   kw = min(5/7, 1); health = clamp(1 - (12/3)/0.5) = 0; cwv = 0.5
    #   score = round((20*(5/7) + 0 + 7.5) / 55 * 1000)/10 = 39.6
    assert s["oss"] == pytest.approx(39.6)
    assert s["oss_coverage"] == pytest.approx(0.55)
    assert s["oss_weight_used"] == 55 and s["oss_weight_total"] == 100
    # LSS: used = rank 40 + pct_top3 25 + citations 15 + reviews 10 = 90
    #   rank = 1-(7-1)/19 = 13/19; pct .5; cit .75; reviews (4.4-3.5)/1.5
    #   score = round((40*13/19 + 12.5 + 11.25 + 6.0)/90*1000)/10 = 63.5
    assert s["lss"] == pytest.approx(63.5)
    assert s["lss_coverage"] == pytest.approx(0.9)
    assert s["lss_weight_used"] == 90 and s["lss_weight_total"] == 100
    raw = s["components"]["oss"]["raw"]
    assert raw["kw_top10"] == pytest.approx(5 / 7)
    assert raw["site_health"] == pytest.approx(0.0)
    assert raw["gsc_clicks"] is None and raw["indexed_valid"] is None


def test_manifest_statuses(result):
    m = result["manifest"]
    assert m["ahrefs_keywords.csv"] == {"status": "present", "size": m["ahrefs_keywords.csv"]["size"], "rows": 10}
    assert m["ahrefs_site_audit.zip"]["status"] == "full"
    assert m["sf_images.csv"] == {"status": "missing"}
    assert m["lighthouse_city.json"] == {"status": "missing"}
    assert m["lighthouse_home.json"] == {"status": "full"}
    assert m["brightlocal_reviews.csv"]["status"] == "placeholder"
    assert m["brightlocal_reviews.csv"]["note"] == "login_required"
    assert m["brightlocal_gbp_insights.csv"]["note"] == "public listing only; true Insights missing"
    assert m["gsc_queries_28d.csv"] == {"status": "full", "rows": 2}
    assert m["ga4_pages.csv"] == {"status": "placeholder", "note": "access_required_or_empty"}
    assert m["leadsnap_calls.csv"] == {"status": "missing"}
    assert m["sf_duplicates.csv"]["rows"] == 3


def test_missing_sentinels_serialized(result):
    ref = to_reference_json(result["normalized_audit"])
    gbp = ref["local"]["gbp"]
    assert gbp["insights_calls"] == "missing"
    assert gbp["insights_directions"] == "missing"
    assert gbp["insights_website_clicks"] == "missing"


def test_write_outputs(result, tmp_path):
    paths = write_outputs(result, str(tmp_path / "out"))
    audit = json.loads(open(paths["normalized_audit.json"]).read())
    assert audit["provenance"]["gsc"] == "present"
    scores = json.loads(open(paths["scores.json"]).read())
    assert scores["oss"] == pytest.approx(39.6)
    assert "etl_manifest.json" in paths and "OUTPUT.json" in paths


def test_write_outputs_spells_numbers_and_text_as_json_stringify(tmp_path):
    """JSON.stringify writes an integral double without `.0` (and -0 as 0),
    and the reference's files are UTF-8 with names written as themselves."""
    doc = empty_normalized("Café", "cafe.example", "2025-06-01")
    doc["local"]["reviews"]["count_total"] = 271.0
    doc["local"]["citations"]["consistency"] = 1.0
    doc["local"]["gbp"]["photos_total"] = -0.0
    doc["local"]["gbp"]["primary_category"] = "Bäckerei"
    doc["local"]["rank"]["pct_top3"] = 0.5
    result = {
        "normalized_audit": doc,
        "scores": {"components": {"oss": {"raw": {"site_health": 0.0}}}},
        "manifest": {"entries": []},
    }
    paths = write_outputs(result, str(tmp_path / "out"))
    raw = {name: open(p, "rb").read() for name, p in paths.items()}
    text = {name: b.decode("utf-8") for name, b in raw.items()}
    audit = text["normalized_audit.json"]
    for field, spelled in [
        ("count_total", "271"),
        ("consistency", "1"),
        ("photos_total", "0"),
        ("pct_top3", "0.5"),
    ]:
        assert re.search(rf'"{field}": {spelled}[,\n]', audit), field
    assert re.search(r'"site_health": 0\n', text["scores.json"])
    assert "Café".encode() in raw["normalized_audit.json"]
    assert "Café".encode() in raw["OUTPUT.json"]
    assert "Bäckerei".encode() in raw["normalized_audit.json"]
    assert not any("\\u00" in t for t in text.values())
    assert json.loads(audit)["local"]["reviews"]["count_total"] == 271


def test_fixture_audit_job_budget(spark, jobs_of):
    """Row counts and placeholder checks read the driver-side parse, so
    Spark runs only the stanza aggregations and the scoring. The fixture
    audit ran 62 jobs when every entry was counted with `df.count()` and
    placeholders were checked with `orderBy().first()`; 23 once they read
    the parse; 21 once the frames were Arrow-backed `LocalRelation`s, over
    which Catalyst folds scoring's single-row projection; 10 once every
    frame was one partition, so each stanza aggregation and the scoring is
    a single-stage job; 9 now that scoring is one folded projection and
    runs no job. The stanzas run in pool threads, which must take the
    caller's job group with them: no job of the call may start outside it."""
    _, jobs, ungrouped = jobs_of(
        lambda: process_zip(spark, JOB, fetch_impl=lambda url: build_fixture_zip())
    )
    assert len(jobs) <= 9
    assert ungrouped == set()


def test_audit_names_no_type_for_the_sql_parser(spark, monkeypatch):
    """A type given by name goes through Spark's SQL parser, whose first
    use in a fresh JVM initialises ANTLR; the audit passes DataTypes."""
    column = type(F.lit(0))  # the classic Column, which overrides both

    for name in ("cast", "try_cast"):
        original = getattr(column, name)

        def typed_only(self, data_type, _original=original, _name=name):
            assert not isinstance(data_type, str), f"{_name}({data_type!r})"
            return _original(self, data_type)

        monkeypatch.setattr(column, name, typed_only)
    res = process_zip(spark, JOB, fetch_impl=lambda url: build_fixture_zip())
    assert res["normalized_audit"]["onsite"]["keywords"] == {"top3": 3, "top10": 5, "top100": 7}


def test_get_spark_turns_dataframe_debugging_off(spark, monkeypatch):
    """PySpark caches the setting from the thread that builds the first
    Column; pinned off, the main thread reads the same as a pool thread."""
    import pyspark.errors.utils as errors_utils

    from seo_audit_etl_actor_spark.session import NO_DATAFRAME_DEBUGGING, get_spark

    key, value = NO_DATAFRAME_DEBUGGING
    assert get_spark() is spark  # the reuse path sets no static conf
    assert spark.conf.get(key) == value
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", None)
    F.col("url")
    assert errors_utils._enable_debugging_cache is False


def test_apply_order_is_reference_order_not_completion_order(spark, monkeypatch):
    """The stanzas run concurrently, but shared fields keep the reference's
    winner. Here each earlier writer finishes only after the later one:
    top pages after sf_internal (pages_total ??=), GBP insights after
    gbp_photos (photos_total overwrite). The errors totals are the
    site audit's and sf_internal's `+=` together."""
    finished: list[str] = []
    done = {name: threading.Event() for name in ("sf_internal", "gbp_photos")}

    def patch(name: str, wait_for: str | None = None) -> None:
        original = getattr(stanzas, name)

        def stanza(df):
            apply = original(df)
            if wait_for is not None:
                assert done[wait_for].wait(timeout=120), f"{wait_for} never finished"
            finished.append(name)
            if name in done:
                done[name].set()
            return apply

        monkeypatch.setattr(stanzas, name, stanza)

    patch("sf_internal")
    patch("gbp_photos")
    patch("ahrefs_top_pages", wait_for="sf_internal")
    patch("brightlocal_gbp_insights", wait_for="gbp_photos")

    res = process_zip(spark, JOB, fetch_impl=lambda url: build_fixture_zip())

    assert finished.index("sf_internal") < finished.index("ahrefs_top_pages")
    assert finished.index("gbp_photos") < finished.index("brightlocal_gbp_insights")
    doc = res["normalized_audit"]
    assert doc["onsite"]["content"]["pages_total"] == 3  # not sf's 7 rows
    assert doc["local"]["gbp"]["photos_total"] == pytest.approx(42)  # not the max 35
    assert doc["onsite"]["errors"] == {
        "4xx": 5,
        "5xx": 2,
        "redirect_chains": 2,
        "canonical": 0,
        "thin": 0,
        "duplicate_titles": 1,
        "orphan_pages": 2,
    }


class StanzaFailed(Exception):
    pass


def test_stanza_failure_raises_and_leaves_no_thread(spark, monkeypatch):
    def failing(df):
        df.agg(F.count(F.lit(1))).first()  # fail inside the pool, after a job
        raise StanzaFailed("citations")

    monkeypatch.setattr(stanzas, "brightlocal_citations", failing)
    before = set(threading.enumerate())
    with pytest.raises(StanzaFailed, match="citations"):
        process_zip(spark, JOB, fetch_impl=lambda url: build_fixture_zip())
    assert set(threading.enumerate()) - before == set()


@pytest.mark.parametrize(
    "buf, expected",
    [
        pytest.param(b"status,message\nerror,login required", True, id="first_row"),
        pytest.param(b"status,message\nerror,\nok,fine", False, id="empty_message"),
        # ragged row: `message` is missing (None), not empty
        pytest.param(b"status,message\nerror\nok,fine", False, id="ragged_missing_message"),
        pytest.param(b"status,message\n,\nerror,login required", False, id="second_row_only"),
        pytest.param(b"Status,Message\nerror,login required", False, id="capitalised_keys"),
        pytest.param(
            b"\xff\xfe" + "status\tmessage\nerror\tlogin required".encode("utf-16-le"),
            True,
            id="utf16le_bom",
        ),
    ],
)
def test_is_placeholder(buf, expected):
    assert stanzas.is_placeholder(parse_csv_smart_rows(buf)) is expected


# ---------------------------------------------------------- degradations
def test_non_zip_payload(spark):
    with pytest.raises(NotAZipError) as ei:
        process_zip(spark, JOB, fetch_impl=lambda url: b"<html>not a zip</html>")
    assert ei.value.payload.startswith(b"<html>")  # debug-dump material


def test_corrupt_nested_zip_degrades_to_partial(spark):
    res = process_zip(
        spark, JOB, fetch_impl=lambda url: build_fixture_zip(corrupt_site_audit=True)
    )
    m = res["manifest"]["ahrefs_site_audit.zip"]
    assert m["status"] == "partial" and m["note"]
    # inner counts skipped, sf_internal still contributes
    assert res["normalized_audit"]["onsite"]["errors"]["4xx"] == 2
    assert res["normalized_audit"]["onsite"]["errors"]["orphan_pages"] == 0


def test_missing_keywords_entry(spark):
    res = process_zip(
        spark, JOB, fetch_impl=lambda url: build_fixture_zip(omit={"ahrefs_keywords.csv"})
    )
    assert res["manifest"]["ahrefs_keywords.csv"] == {"status": "missing"}
    assert res["normalized_audit"]["onsite"]["keywords"] == {"top3": None, "top10": None, "top100": None}
    # kw component unavailable → OSS used drops to 35
    assert res["scores"]["oss_weight_used"] == 35


def test_keywords_without_position_column(spark):
    res = process_zip(
        spark,
        JOB,
        fetch_impl=lambda url: build_fixture_zip(keywords_no_position_col=True),
    )
    # warning path: file present with rows, but buckets stay null
    assert res["manifest"]["ahrefs_keywords.csv"]["rows"] == 10
    assert res["normalized_audit"]["onsite"]["keywords"]["top10"] is None


def test_non_finite_cells_are_dropped(spark, tmp_path):
    """A 400-digit cell parses to Infinity, which JS `Number.isFinite`
    drops. Each export below gets one such row on top of the fixture's,
    so every value is the fixture's own, apart from the row counts."""
    res = process_zip(spark, JOB, fetch_impl=lambda url: build_fixture_zip(huge_numbers=True))
    doc = res["normalized_audit"]
    assert res["manifest"]["ahrefs_keywords.csv"]["rows"] == 11
    assert doc["onsite"]["keywords"] == {"top3": 3, "top10": 5, "top100": 7}
    # 5 rows, DR mean over [50, 70, 0, 30] only
    assert doc["backlinks"]["ref_domains"] == 5
    assert doc["backlinks"]["dr"] == pytest.approx(37.5)
    # the huge status code is neither a 4xx nor a 5xx
    assert doc["onsite"]["errors"]["4xx"] == 5 and doc["onsite"]["errors"]["5xx"] == 2
    # 5 rows, 4 finite positions: (1+3+4+20)/4, 1 and 3 of 4 in the top 3
    assert doc["local"]["rank"] == {
        "avg_pos": pytest.approx(7.0),
        "pct_top3": pytest.approx(0.5),
        "keywords_tracked": 4,
    }
    assert res["scores"]["oss"] == pytest.approx(39.6)
    assert res["scores"]["lss"] == pytest.approx(63.5)

    def no_constant(name):
        raise ValueError(f"{name} is not JSON")

    paths = write_outputs(res, str(tmp_path / "out"))
    for path in paths.values():
        json.loads(open(path).read(), parse_constant=no_constant)


def test_validation_rejects_blank_input():
    with pytest.raises(ValueError, match="zipUrl"):
        JobInput(client="c", domain="d", run_date="2025-01-01", zip_url="")
