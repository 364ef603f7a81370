"""Property tests on semantic hot-spots (SURVEY §5.2 #3, §7.3).

Spark round-trips are batched: each property materializes ONE DataFrame
carrying every case (a row or group per case), so the suite stays fast
while still sweeping hundreds of adversarial inputs.
"""

from __future__ import annotations

import math
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seo_audit_etl_actor_spark.functions.coercion import to_num, to_num_js
from seo_audit_etl_actor_spark.operators.aggregates import (
    coverage_weighted_score,
    percentile_nearest_rank,
)
from seo_audit_etl_actor_spark.pipeline.document import empty_normalized
from seo_audit_etl_actor_spark.pipeline.scoring import (
    LSS_WEIGHTS,
    OSS_WEIGHTS,
    _availability,
    compute_scores,
)
from seo_audit_etl_actor_spark.sources.csv_smart import parse_csv_smart_rows
from seo_audit_etl_actor_spark.sources.sniff import looks_utf16

# ---------------------------------------------------------------- toNum


def _js_to_num(v: str | None) -> float | None:
    """Independent model of the reference's toNum (src/etl.js:75-79):
    strip [^0-9.-], then JS Number(): '' → 0, malformed → NaN (None)."""
    s = "".join(ch for ch in ("" if v is None else str(v)) if ch in "0123456789.-")
    if s == "":
        return 0.0
    try:
        return float(s)
    except ValueError:
        return None


ADVERSARIAL = [
    "1,234", "12 %", "$9.50", "", "abc", None, "1.2.3", "--1", "1-2", ".",
    "-", "-.5", "1.", ".5", "-0", "1e5", "3.14foo", "  42  ", " 7 ",
    "0x1F", "+99", "1,2,3.5", "-.", "..", "9-", "-9", "∞", "१२३",
]


def test_to_num_js_matches_reference_model(spark):
    seeded = random.Random(7)
    extra = ["".join(seeded.choice("0123456789.-x, $%") for _ in range(seeded.randint(0, 12))) for _ in range(300)]
    cases = ADVERSARIAL + extra
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, s string")
    got = {r["i"]: r["n"] for r in df.select("i", to_num_js("s").alias("n")).collect()}
    for i, c in enumerate(cases):
        want = _js_to_num(c)
        if want is None:
            assert got[i] is None, (c, got[i])
        else:
            assert got[i] == pytest.approx(want), (c, got[i], want)


def test_to_num_engine_variant_empty_is_null(spark):
    df = spark.createDataFrame([("",), ("abc",), ("7",)], "s string")
    vals = [r["n"] for r in df.select(to_num("s").alias("n")).collect()]
    assert vals == [None, None, 7.0]


def test_to_num_matches_duckdb_try_cast(spark, duck):
    cases = [c for c in ADVERSARIAL if c is not None]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, s string")
    got = {r["i"]: r["n"] for r in df.select("i", to_num("s").alias("n")).collect()}
    for i, c in enumerate(cases):
        want = duck.execute(
            "SELECT TRY_CAST(NULLIF(regexp_replace(?, '[^0-9.\\-]', '', 'g'), '') AS DOUBLE)",
            [c],
        ).fetchone()[0]
        assert got[i] == (pytest.approx(want) if want is not None else None), (c, got[i], want)


# ---------------------------------------------------------------- p75


def test_p75_nearest_rank_sweep(spark):
    """Group sizes 1..50, seeded values (with duplicates): the operator must
    equal sorted[floor(0.75*(n-1))] exactly — never the interpolated
    percentile (src/etl.js:284-289)."""
    seeded = random.Random(42)
    rows, expected = [], {}
    for g in range(1, 51):
        vals = [round(seeded.uniform(-100, 100), 2) for _ in range(g)]
        if g > 3:
            vals[1] = vals[0]  # force duplicates
        for v in vals:
            rows.append((g, v))
        expected[g] = sorted(vals)[math.floor(0.75 * (g - 1))]
    df = spark.createDataFrame(rows, "g int, v double")
    out = percentile_nearest_rank(df, "v", ["g"], q=0.75, out_col="p75")
    got = {r["g"]: r["p75"] for r in out.collect()}
    assert got == pytest.approx(expected)


# ---------------------------------------------------------------- sniff + parse chain


@settings(max_examples=40, deadline=None)
@given(
    cells=st.lists(
        st.lists(st.text(alphabet="abcdefgh XYZ0123456789.-", min_size=0, max_size=8), min_size=2, max_size=4),
        min_size=1,
        max_size=5,
    ),
    encoding=st.sampled_from(["utf-8", "utf-16-le", "utf-16-le-bom", "utf-16-be-bom"]),
    delim=st.just("\t"),
)
def test_parse_chain_recovers_cells(cells, encoding, delim):
    """Round-trip over the encoding matrix: header+rows written in any
    supported encoding must come back cell-identical.

    UTF-8 path relies on delimiter sniffing (papaparse-style); UTF-16 paths
    rely on BOM/NUL detection. Delimiter is tab for UTF-16 — the reference's
    chain tries tab FIRST and a comma file parses 'successfully' as one tab
    column (no field-count errors), exactly as papaparse does; the comma
    fallback only fires on a bad tab parse. That faithful quirk is asserted
    separately below."""
    if encoding == "utf-8":
        delim = ","
    width = len(cells[0])
    header = [f"col{i}" for i in range(width)]
    lines = [delim.join(header)] + [delim.join(row[:width] + [""] * (width - len(row))) for row in cells]
    text = "\n".join(lines)
    if encoding == "utf-8":
        buf = text.encode("utf-8")
        if looks_utf16(buf):  # pathological NUL-free requirement holds for utf-8 text
            return
    elif encoding == "utf-16-le":
        buf = text.encode("utf-16-le")
    elif encoding == "utf-16-le-bom":
        buf = b"\xff\xfe" + text.encode("utf-16-le")
    else:
        buf = b"\xfe\xff" + text.encode("utf-16-be")
    parsed = parse_csv_smart_rows(buf)
    assert parsed.header == header
    want = [[(row[:width] + [""] * (width - len(row)))[i] for i in range(width)] for row in cells]
    assert [[c for c in r] for r in parsed.rows] == want


def test_utf16_comma_file_parses_as_single_tab_column():
    """Bug-compat with the reference chain (src/etl.js:36-41): a comma
    UTF-16 file has no tab field-count errors, so the tab attempt 'wins'
    and yields one mashed column — the comma fallback never fires."""
    buf = "a,b\n1,2".encode("utf-16-le")
    parsed = parse_csv_smart_rows(buf)
    assert parsed.header == ["a,b"]
    assert parsed.rows == [["1,2"]]


def test_utf16_comma_fallback_fires_on_bad_tab_parse():
    """When tab parsing IS bad (>5 field-count errors from stray tabs), the
    chain falls through to UTF-16+comma (attempt 3)."""
    lines = ["a,b"] + [f"x{i}\ty{i},z{i}" for i in range(8)]
    buf = "\n".join(lines).encode("utf-16-le")
    parsed = parse_csv_smart_rows(buf)
    assert parsed.header == ["a", "b"]
    assert len(parsed.rows) == 8


def test_sniff_rejects_utf8_accepts_utf16():
    assert not looks_utf16(b"plain,ascii\n1,2")
    assert looks_utf16("plain,ascii\n1,2".encode("utf-16-le"))
    assert looks_utf16(b"\xff\xfe" + b"x")
    assert looks_utf16(b"\xfe\xff" + b"x")


# ---------------------------------------------------------------- scoring invariants


def _random_doc(rng: random.Random) -> dict:
    doc = empty_normalized("c", "d", "2025-01-01")
    on, loc = doc["onsite"], doc["local"]
    if rng.random() < 0.8:
        on["keywords"]["top10"] = rng.randint(0, 50)
        on["keywords"]["top100"] = rng.randint(0, 200)
    if rng.random() < 0.7:
        on["cwv"]["pass_rate"] = rng.random()
    for k in on["errors"]:
        on["errors"][k] = rng.randint(0, 30)
    if rng.random() < 0.8:
        on["content"]["pages_total"] = rng.randint(0, 500)
    if rng.random() < 0.8:
        loc["rank"]["avg_pos"] = rng.uniform(0, 40)
        loc["rank"]["pct_top3"] = rng.random()
    if rng.random() < 0.6:
        loc["citations"]["consistency"] = rng.random()
    if rng.random() < 0.6:
        loc["reviews"]["avg_rating"] = rng.uniform(1, 5)
    if rng.random() < 0.4:
        loc["reviews"]["count_total"] = rng.randint(0, 500)
    return doc


def test_scoring_invariants(spark):
    """score ∈ [0,100]; coverage ∈ [0,1]; used=0 ⇒ score 0
    (src/scoring.js:44); weights account exactly."""
    rng = random.Random(1234)
    empty = compute_scores(spark, empty_normalized("c", "d", "2025-01-01"))
    # empty doc: OSS avail = site_health only (weight 20); LSS = rank only (40)
    assert empty["oss_weight_used"] == 20 and empty["lss_weight_used"] == 40
    for _ in range(10):
        s = compute_scores(spark, _random_doc(rng))
        for fam in ("oss", "lss"):
            assert 0.0 <= s[fam] <= 100.0
            assert 0.0 <= s[f"{fam}_coverage"] <= 1.0
            assert s[f"{fam}_weight_used"] <= s[f"{fam}_weight_total"] == 100
            if s[f"{fam}_weight_used"] == 0:
                assert s[fam] == 0.0


def _edge_docs() -> list[dict]:
    def doc(**leaves) -> dict:
        d = empty_normalized("c", "d", "2025-01-01")
        for path, v in leaves.items():
            section, group, key = path.split("__")
            d[section][group][key] = v
        return d

    zero_errors = doc(onsite__content__pages_total=40, onsite__keywords__top10=3,
                      onsite__keywords__top100=9)
    for k in zero_errors["onsite"]["errors"]:
        zero_errors["onsite"]["errors"][k] = 0
    return [
        # every optional component unavailable
        empty_normalized("c", "d", "2025-01-01"),
        # the `|| fallback` zeros
        doc(onsite__keywords__top10=0, onsite__keywords__top100=0,
            onsite__content__pages_total=0, local__rank__avg_pos=0.0),
        # the reviews clamp's two ends
        doc(local__reviews__avg_rating=3.5),
        doc(local__reviews__avg_rating=5.0, local__reviews__count_total=12),
        zero_errors,
    ]


def test_scoring_projection_matches_the_long_frame_aggregate(spark):
    """compute_scores folds each family's sums into one projection; the
    long-format path it replaced put one row per (family, component) into
    a single-partition frame and ran `coverage_weighted_score` over it.
    Both add the same terms in the same order, so the results must be
    equal, not approximately equal. Every doc's rows go into one frame,
    grouped by (doc, family): a single partition keeps each group's rows in
    weight order, as the per-doc frame did."""
    import pyarrow as pa

    rng = random.Random(20251017)
    docs = _edge_docs() + [_random_doc(rng) for _ in range(300)]
    scores = [compute_scores(spark, d) for d in docs]
    rows = [
        dict(doc=i, family=fam, component=comp, weight=float(w),
             raw=s["components"][fam]["raw"][comp], avail=_availability(d)[comp])
        for i, (d, s) in enumerate(zip(docs, scores))
        for fam, weights in (("oss", OSS_WEIGHTS), ("lss", LSS_WEIGHTS))
        for comp, w in weights.items()
    ]
    schema = T.StructType(
        [
            T.StructField("doc", T.LongType(), False),
            T.StructField("family", T.StringType(), False),
            T.StructField("component", T.StringType(), False),
            T.StructField("weight", T.DoubleType(), False),
            T.StructField("raw", T.DoubleType(), True),
            T.StructField("avail", T.BooleanType(), False),
        ]
    )
    long_df = spark.createDataFrame(pa.Table.from_pylist(rows), schema).coalesce(1)
    expected = {
        (r["doc"], r["family"]): r
        for r in coverage_weighted_score(long_df, group_cols=["doc", "family"]).collect()
    }
    assert len(expected) == 2 * len(docs)
    for i, s in enumerate(scores):
        for fam in ("oss", "lss"):
            e = expected[(i, fam)]
            got = (s[fam], s[f"{fam}_coverage"], s[f"{fam}_weight_used"], s[f"{fam}_weight_total"])
            want = (e["score"], e["coverage"], int(e["weight_used"]), int(e["weight_total"]))
            assert got == want, (i, fam)


# ---------------------------------------------------------- sessionization


def test_sessionize_matches_python_model(spark):
    """Random event streams (seeded; adversarial gaps straddling the 30-min
    boundary including EXACT-gap ties) vs an independent pure-Python
    sessionizer — session boundaries, counts, and membership must agree."""
    import datetime as dt

    gap_s = 30 * 60
    seeded = random.Random(13)
    rows = []
    eid = 0
    for user in range(25):
        t = 0.0
        for _ in range(seeded.randint(0, 40)):
            # mix sub-gap, super-gap, and exact-gap steps (integer seconds
            # so the exact case is representable)
            step = seeded.choice(
                [seeded.uniform(1, gap_s - 1), seeded.uniform(gap_s + 1, 3 * gap_s), float(gap_s)]
            )
            t += step
            rows.append((eid, user, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=t), 1.0))
            eid += 1

    # pure-Python model: strictly-greater-than-gap starts a new session
    from collections import defaultdict

    by_user = defaultdict(list)
    for e, u, ts, v in rows:
        by_user[u].append((ts, e))
    want = []  # (user, n_events) per session, in time order
    for u, evs in by_user.items():
        evs.sort()
        n = 0
        prev = None
        for ts, _ in evs:
            if prev is None or (ts - prev).total_seconds() > gap_s:
                if n:
                    want.append((u, n))
                n = 0
            n += 1
            prev = ts
        if n:
            want.append((u, n))

    from seo_audit_etl_actor_spark.queries.reshape import sessionize

    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    got = [(r["user_id"], r["n_events"]) for r in sessionize(df).collect()]
    assert sorted(got) == sorted(want)
    assert sum(n for _, n in got) == len(rows)
