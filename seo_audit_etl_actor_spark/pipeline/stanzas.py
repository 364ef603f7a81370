"""Per-source stanzas (SURVEY §3.2): each takes the parsed all-string
DataFrame for one ZIP entry, runs ONE Spark aggregation pass over it
(multi-aggregate fusion — the reference's hand-fused loops become one
`agg()` each) and returns an `apply(doc)` closure that writes the result
into the normalized document. A stanza never touches the document itself,
so `run.process_zip` can run the aggregations concurrently and still apply
them in reference order, which settles every shared field (pages_total
`??=`, errors `+=`, the photos_total overwrite). Over a single-partition
frame each aggregation is one single-stage job.

Two first-use costs of a fresh JVM are kept out of the stanzas. Case
folding is `_fold` (a `translate` over ASCII A-Z and the Kelvin sign), not
`lower`: Spark's `lower` goes through ICU, whose one-time class
initialisation stalls the first audit's folding stanzas by 1.4-1.7 s, and
for the predicates here the fold is exact (see its docstring). And a
numeric column used by several aggregates is coerced once, in a
projection under the `agg` (`_coerced`), so its `regexp_replace` tree is
generated and compiled once instead of once per reference.

Citations are `file:line` into /root/reference/.
"""

from __future__ import annotations

import string
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seo_audit_etl_actor_spark.functions.coercion import to_num_js
from seo_audit_etl_actor_spark.operators.aggregates import (
    collect_sorted,
    conditional_count,
)
from seo_audit_etl_actor_spark.pipeline.resolve import pick_col
from seo_audit_etl_actor_spark.sources.csv_smart import ROW_ID, ParsedCsv

Apply = Callable[[dict], None]


def _skip(doc: dict) -> None:
    """The applier of a stanza whose columns are missing: no change."""


def _cols(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c != ROW_ID]


def _finite(c: Column) -> Column:
    """toNum(...) kept when finite (JS Number.isFinite): null for an
    unparsable cell and for one past the double range ('9' * 400 parses to
    Infinity). See coercion.to_num_js for the ''→0 quirk."""
    n = to_num_js(c)
    return F.when(F.abs(n) < F.lit(float("inf")), n)


def _coerced(df: DataFrame, col: str, name: str) -> DataFrame:
    """`df` reduced to `_finite(col)` as `name`. The aggregates then refer
    to the column, so the coercion is evaluated (and code-generated) once
    per row rather than once per reference; CollapseProject keeps the
    projection because the expression is not cheap and is used more than
    once."""
    return df.select(_finite(F.col(col)).alias(name))


# the words `_fold` results are compared with or searched for: ASCII
# lowercase letters, none ending in 'i' (`_fold`'s precondition)
CATEGORY_TYPES = ("primary", "secondary")
PHOTO_TOTAL = "total"
LIVE_PATTERN = "(live|present|ok)"
# ASCII A-Z and U+212A KELVIN SIGN, whose lowercase is ASCII 'k'
_FOLD_FROM = string.ascii_uppercase + "\u212a"
_FOLD_TO = string.ascii_lowercase + "k"


def _fold(c: Column) -> Column:
    """JS `toLowerCase()` for the stanzas' predicates, without Spark's
    ICU-backed `lower` (whose first evaluation in a JVM pays a one-time
    ICU class initialisation).

    Precondition: the result is only compared with '' and, for equality
    or a regex search, with words of ASCII lowercase letters none of which
    ends in 'i' (`CATEGORY_TYPES`, `PHOTO_TOTAL`, `LIVE_PATTERN`). Under it
    the fold and the full Unicode lowercase give the same answer:
    - neither maps a non-empty string to '';
    - a match of such a word is made of ASCII letters. The fold maps A-Z
      and U+212A as the lowercase does, and leaves every other code point
      as it is. Of the other non-ASCII code points only U+0130 has a
      lowercase that holds an ASCII letter: 'i' + U+0307. That 'i' is
      followed by U+0307, so it could only end a match, and no word ends
      in 'i'. Every other code point is an ASCII letter under neither
      mapping or under both alike.
    """
    return F.translate(c, _FOLD_FROM, _FOLD_TO)


def ahrefs_keywords(df: DataFrame) -> Apply:
    """Position buckets top3/top10/top100 (src/etl.js:115-151, A3/P3/P6)."""
    pos_col = pick_col(_cols(df), ["Current position"]) or pick_col(
        _cols(df), ["Previous position"]
    )
    if pos_col is None:
        return _skip  # warning path: no position column (src/etl.js:142-144)
    pos = F.col("pos")
    valid = pos.isNotNull() & (pos > 0)
    row = _coerced(df, pos_col, "pos").agg(
        conditional_count(valid).alias("n"),
        conditional_count(valid & (pos <= 3)).alias("top3"),
        conditional_count(valid & (pos <= 10)).alias("top10"),
        conditional_count(valid & (pos <= 100)).alias("top100"),
    ).first()

    def apply(doc: dict) -> None:
        if row["n"] > 0:
            doc["onsite"]["keywords"]["top3"] = row["top3"]
            doc["onsite"]["keywords"]["top10"] = row["top10"]
            doc["onsite"]["keywords"]["top100"] = row["top100"]

    return apply


def ahrefs_top_pages(df: DataFrame) -> Apply:
    """pages_total ??= distinct URLs, or the row count without a URL column
    (A2/A12, src/etl.js:153-165)."""
    url_col = pick_col(_cols(df), ["Current URL", "url", "page url", "address"])
    count = F.countDistinct(F.col(url_col)) if url_col else F.count(F.lit(1))
    n = df.agg(count.alias("n")).first()["n"]

    def apply(doc: dict) -> None:
        content = doc["onsite"]["content"]
        if content["pages_total"] is None:  # ?? coalesce: first source wins (src/etl.js:159-161)
            content["pages_total"] = n

    return apply


def ahrefs_backlinks(df: DataFrame) -> Apply:
    """ref_domains = row count; dr = mean Domain Rating (A1/A4,
    src/etl.js:168-181)."""
    dr_col = pick_col(_cols(df), ["dr", "domain rating"])
    aggs = [F.count(F.lit(1)).alias("n")]
    if dr_col:
        aggs.append(F.avg(_finite(F.col(dr_col))).alias("dr"))
    row = df.agg(*aggs).first()

    def apply(doc: dict) -> None:
        doc["backlinks"]["ref_domains"] = row["n"]
        if dr_col and row["dr"] is not None:
            doc["backlinks"]["dr"] = row["dr"]

    return apply


# issue-category → inner CSV files (src/etl.js:188-196)
SITE_AUDIT_ISSUES = {
    "4xx": ["Error-4XX_page.csv", "Error-404_page.csv"],
    "5xx": ["Error-5XX_page.csv"],
    "redirect_chains": ["Error-Redirect_chain.csv", "Warning-3XX_redirect.csv"],
    "canonical": [
        "Error-indexable-Canonical_chain.csv",
        "Warning-Canonical_to_redirected_URL.csv",
    ],
    "duplicate_titles": ["Warning-indexable-Title_tag_duplicate.csv"],
    "thin": ["Warning-indexable-Content_thin.csv"],
    "orphan_pages": ["Error-indexable-Orphan_page.csv"],
}


def site_audit_issue_counts(inner_row_counts: dict[str, int], doc: dict) -> None:
    """Accumulate inner-CSV row counts into errors.* (A11,
    src/etl.js:197-205). Counting happens where the CSVs were parsed; this
    applies the += accumulation."""
    for key, files in SITE_AUDIT_ISSUES.items():
        doc["onsite"]["errors"][key] += sum(inner_row_counts.get(f, 0) for f in files)


def sf_internal(df: DataFrame) -> Apply:
    """Status-code range counts += and pages_total fallback (P5/A11/A12,
    src/etl.js:216-230)."""
    sc_col = pick_col(_cols(df), ["status code", "status"])
    aggs = [F.count(F.lit(1)).alias("n")]
    if sc_col:
        df = _coerced(df, sc_col, "sc")
        sc = F.col("sc")
        aggs.append(conditional_count((sc >= 400) & (sc < 500)).alias("c4"))
        aggs.append(conditional_count(sc >= 500).alias("c5"))
    row = df.agg(*aggs).first()

    def apply(doc: dict) -> None:
        if sc_col:
            doc["onsite"]["errors"]["4xx"] += row["c4"]
            doc["onsite"]["errors"]["5xx"] += row["c5"]
        if doc["onsite"]["content"]["pages_total"] is None:
            doc["onsite"]["content"]["pages_total"] = row["n"]

    return apply


def sf_structured_data(doc: dict) -> str:
    """Summary export detected → all schema booleans false + note
    (src/etl.js:234-250)."""
    for k in doc["onsite"]["schema"]:
        doc["onsite"]["schema"][k] = False
    return (
        "Structured data summary detected. For per-type booleans, export "
        "Reports → Structured Data → Extracted Structured Data."
    )


def lighthouse_rollup(metrics: list[dict], doc: dict) -> None:
    """p75 (lower-nearest-rank, A8) per CWV metric + pass rate (P11) over
    the extracted per-URL metric dicts (src/etl.js:282-304).

    Three fixed URLs → driver arithmetic; the corpus-scale equivalent is
    operators.aggregates.percentile_nearest_rank over a metrics table.
    """

    def p75(vals: list[float]):
        xs = sorted(v for v in vals if v is not None)
        if not xs:
            return None
        return xs[int(0.75 * (len(xs) - 1))]

    cwv = doc["onsite"]["cwv"]
    cwv["lcp_p75"] = p75([m["lcp_ms"] for m in metrics])
    cwv["cls_p75"] = p75([m["cls"] for m in metrics])
    cwv["inp_p75"] = p75([m["inp_ms"] for m in metrics])
    passed = total = 0
    for m in metrics:
        if m["lcp_ms"] is None or m["cls"] is None or m["inp_ms"] is None:
            continue
        total += 1
        if m["lcp_ms"] <= 2500 and m["cls"] <= 0.1 and m["inp_ms"] <= 200:
            passed += 1
    cwv["pass_rate"] = passed / total if total else None


def brightlocal_ranks(df: DataFrame) -> Apply:
    """avg_pos (rounded 0.1), pct_top3, keywords_tracked (A4/A7,
    src/etl.js:307-328)."""
    pos_col = pick_col(_cols(df), ["position", "rank", "serp position", "pos"])
    if pos_col is None:
        return _skip
    pos = F.col("pos")
    valid = pos.isNotNull() & (pos > 0)
    row = _coerced(df, pos_col, "pos").agg(
        F.count(F.lit(1)).alias("rows"),
        conditional_count(valid).alias("n"),
        (F.round(F.avg(F.when(valid, pos)) * 10) / 10).alias("avg_pos"),
        conditional_count(valid & (pos <= 3)).alias("t3"),
    ).first()

    def apply(doc: dict) -> None:
        rank = doc["local"]["rank"]
        if row["n"] > 0:
            rank["avg_pos"] = row["avg_pos"]
            rank["pct_top3"] = row["t3"] / row["n"]
            rank["keywords_tracked"] = row["n"]
        else:
            rank["keywords_tracked"] = row["rows"]

    return apply


def brightlocal_citations(df: DataFrame) -> Apply:
    """Liveness-proxy consistency ratio (P9/A7, src/etl.js:332-366).

    Bug-for-bug parity on ragged rows: the reference's `String(r[col])`
    turns a MISSING cell (row shorter than header) into the truthy string
    'undefined' (src/etl.js:345-347), so such rows count toward `total` and
    — via `link.length > 0` — toward `good`. csv_smart preserves the
    distinction (missing cell → NULL, empty cell → ''), so NULL coalesces to
    'undefined' here, exactly mirroring the JS.
    """
    cols = _cols(df)
    s_col = pick_col(cols, ["Status"])
    gs_col = pick_col(cols, ["General Status"])
    link_col = pick_col(cols, ["Citation Link"])

    def lowered(c):
        return (
            _fold(F.coalesce(F.col(c).cast(T.StringType()), F.lit("undefined")))
            if c
            else F.lit("")
        )

    s, gs = lowered(s_col), lowered(gs_col)
    link = (
        F.trim(F.coalesce(F.col(link_col).cast(T.StringType()), F.lit("undefined")))
        if link_col
        else F.lit("")
    )
    looks_live = s.rlike(LIVE_PATTERN) | gs.rlike(LIVE_PATTERN) | (F.length(link) > 0)
    counted = (s != "") | (gs != "") | (link != "")
    row = df.agg(
        conditional_count(counted).alias("total"),
        conditional_count(counted & looks_live).alias("good"),
    ).first()

    def apply(doc: dict) -> None:
        if row["total"] > 0:
            doc["local"]["citations"]["consistency"] = row["good"] / row["total"]

    return apply


def is_placeholder(parsed: ParsedCsv) -> bool:
    """Login-wall placeholder: the first row has truthy `status` AND
    `message` fields — exact lowercase keys, no fuzzy match (P10,
    src/etl.js:372). Reads the driver-side parse; runs no Spark job."""
    header = parsed.header
    if "status" not in header or "message" not in header or not parsed.n_rows:
        return False
    first = parsed.rows[0]
    return bool(first[header.index("status")]) and bool(first[header.index("message")])


def brightlocal_gbp_insights(df: DataFrame) -> Apply:
    """max-of-coerced public listing metrics (A5 maxNum,
    src/etl.js:382-397)."""
    cols = _cols(df)
    col_reviews = pick_col(cols, ["review count", "reviews", "reviews_total"])
    col_rating = pick_col(cols, ["star rating", "rating", "reviews_average_rating"])
    col_photos = pick_col(cols, ["photos", "photos_total"])
    aggs = {}
    if col_reviews:
        aggs["count_total"] = F.max(_finite(F.col(col_reviews)))
    if col_rating:
        aggs["avg_rating"] = F.max(_finite(F.col(col_rating)))
    if col_photos:
        aggs["photos_total"] = F.max(_finite(F.col(col_photos)))
    if not aggs:
        return _skip
    row = df.agg(*[c.alias(k) for k, c in aggs.items()]).first()

    def apply(doc: dict) -> None:
        if col_reviews:
            doc["local"]["reviews"]["count_total"] = row["count_total"]
        if col_rating:
            doc["local"]["reviews"]["avg_rating"] = row["avg_rating"]
        if col_photos:  # gbp_photos, applied later, overwrites (src/etl.js:414-421)
            doc["local"]["gbp"]["photos_total"] = row["photos_total"]

    return apply


def gbp_categories(df: DataFrame) -> Apply:
    """First primary category + ordered secondary list (A9/A10 with the H2
    ingest-order discipline, src/etl.js:400-412). Exact keys, no fuzzy
    match. One aggregation pass: conditional collect_sorted per type, nulls
    compacted out."""
    cols = _cols(df)
    if "category_type" not in cols or "category_name" not in cols:
        return _skip  # the document keeps its None / []
    ctype = _fold(F.coalesce(F.col("category_type").cast(T.StringType()), F.lit("")))
    name = F.col("category_name")
    truthy = name.isNotNull() & (name != "")

    def picked(kind: str):
        return F.array_compact(
            collect_sorted(F.when((ctype == kind) & truthy, name), F.col(ROW_ID))
        )

    primary, secondary = CATEGORY_TYPES
    row = df.agg(picked(primary).alias("prim"), picked(secondary).alias("sec")).first()

    def apply(doc: dict) -> None:
        gbp = doc["local"]["gbp"]
        gbp["primary_category"] = row["prim"][0] if row["prim"] else None
        gbp["secondary_categories"] = list(row["sec"])

    return apply


def gbp_photos(df: DataFrame) -> Apply:
    """photos_total from the first `photo_type == 'total'` row (P8/A9,
    src/etl.js:414-421)."""
    cols = _cols(df)
    if "photo_type" not in cols or "count" not in cols:
        return _skip
    ptype = _fold(F.coalesce(F.col("photo_type").cast(T.StringType()), F.lit("")))
    row = df.agg(
        F.array_compact(
            collect_sorted(F.when(ptype == PHOTO_TOTAL, F.struct(to_num_js("count").alias("n"))), F.col(ROW_ID))
        ).alias("hits")
    ).first()

    def apply(doc: dict) -> None:
        if row["hits"]:
            doc["local"]["gbp"]["photos_total"] = row["hits"][0]["n"]

    return apply
