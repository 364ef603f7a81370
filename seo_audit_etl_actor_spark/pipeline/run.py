"""Pipeline orchestration: the reference's `processZip` re-expressed as
driver orchestration over per-source Spark stanzas (SURVEY §3.2, §3.4).

Flow: fetch → PK validation → unzip → per-source stanzas in reference
order → coverage-weighted scoring → {normalized_audit, scores, manifest}.
Every CSV entry is parsed once on the driver (`read_csv` → `ParsedCsv`);
manifest row counts (`n_rows`) and placeholder checks read that parse
and run no Spark job. Spark runs the stanza aggregations and the scoring.
Each stanza's frame is built on the main thread and its aggregation is
submitted to a driver thread pool as soon as the frame exists, so the
aggregations run concurrently, each one single-stage job over a
single-partition frame. Each returns an applier; after the last entry
they are applied in reference order, whatever order they finished in.
That keeps the cross-stanza dependencies exactly the reference's: the
errors.* `+=` accumulation (A11), the pages_total coalesce priority (A12)
and the photos_total overwrite (gbp_photos after the GBP insights) —
everything else is independent.

Citations: /root/reference/src/main.js:4-41, src/etl.js:93-454.
"""

from __future__ import annotations

import functools
import json
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from seo_audit_etl_actor_spark.pipeline import stanzas
from seo_audit_etl_actor_spark.pipeline.document import (
    empty_normalized,
    to_reference_json,
)
from seo_audit_etl_actor_spark.pipeline.scoring import compute_scores
from seo_audit_etl_actor_spark.sources import csv_smart
from seo_audit_etl_actor_spark.sources.csv_smart import ROW_ID, ParsedCsv, parse_csv_smart_rows
from seo_audit_etl_actor_spark.sources.lighthouse import extract_lighthouse
from seo_audit_etl_actor_spark.sources.zip_io import (
    FetchImpl,
    default_fetch,
    open_nested_zip,
    open_zip,
    read_entry,
)

LIGHTHOUSE_FILES = ("lighthouse_home.json", "lighthouse_service.json", "lighthouse_city.json")
PLACEHOLDER_FILES = (
    "surfer_page_queue.csv",
    "gsc_queries_28d.csv",
    "gsc_pages_28d.csv",
    "ga4_pages.csv",
    "ga4_conversions.csv",
    "ga4_channels.csv",
    "leadsnap_leads.csv",
    "leadsnap_calls.csv",
    "leadsnap_reviews.csv",
)
GSC_FILES = ("gsc_queries_28d.csv", "gsc_pages_28d.csv")
GA4_FILES = ("ga4_pages.csv", "ga4_conversions.csv", "ga4_channels.csv")
# one pool thread per Spark stanza (keywords, top pages, backlinks,
# sf_internal, ranks, citations, GBP insights, categories, photos)
STANZA_THREADS = 9
Stanza = Callable[[DataFrame], stanzas.Apply]


@dataclass(frozen=True)
class JobInput:
    """Typed job contract (S9; .actor/actor.json:13-41, src/main.js:17-22)."""

    client: str
    domain: str
    run_date: str
    zip_url: str

    def __post_init__(self) -> None:
        missing = [
            k
            for k, v in (
                ("client", self.client),
                ("domain", self.domain),
                ("runDate", self.run_date),
                ("zipUrl", self.zip_url),
            )
            if not v
        ]
        if missing:
            raise ValueError(f"Missing required input: {', '.join(missing)}")


def _n_rows(parsed: ParsedCsv | None) -> int:
    """Manifest row count: the data rows, 0 for a missing or header-less entry."""
    return parsed.n_rows if parsed is not None and parsed.header else 0


def process_zip(
    spark: SparkSession,
    job: JobInput,
    fetch_impl: FetchImpl | None = None,
    debug: dict | None = None,
) -> dict:
    """→ {"normalized_audit": dict, "scores": dict, "manifest": dict}
    (engine-typed; serialize with `write_outputs`/`to_reference_json`).

    `debug`, when passed a dict, collects the reference's observability
    artifacts (S8): `ahrefs_keywords_headers` — the headers actually seen
    (src/etl.js:121)."""
    manifest: dict = {}
    raw = (fetch_impl or default_fetch)(job.zip_url)
    zf = open_zip(raw)  # raises NotAZipError with payload for debug dump
    doc = empty_normalized(job.client, job.domain, job.run_date)
    prov = doc["provenance"]
    # reference order: a submitted stanza's future, or a driver-side applier
    appliers: list[Future | stanzas.Apply] = []

    def read_csv(name: str) -> ParsedCsv | None:
        """Read + parse one entry on the driver; None when it is missing
        (recorded as such in the manifest)."""
        buf = read_entry(zf, name, manifest)
        return None if buf is None else parse_csv_smart_rows(buf)

    with ThreadPoolExecutor(max_workers=STANZA_THREADS) as pool:
        # the caller's job group, local properties and tags, for every stanza job
        inherit = inheritable_thread_target(spark)

        def submit(stanza: Stanza, df: DataFrame) -> None:
            appliers.append(pool.submit(inherit(stanza), df))

        def csv_stanza(name: str, stanza: Stanza, source: str) -> DataFrame | None:
            """Shared shape: read entry → parse → rows>0 → stanza + rows count;
            empty parse → 'partial' (src/etl.js:149,164,180,229). Returns
            the submitted frame, None when nothing was submitted."""
            parsed = read_csv(name)
            if n := _n_rows(parsed):
                df = csv_smart.to_dataframe(spark, parsed)
                submit(stanza, df)
                prov[source] = True
                manifest[name]["rows"] = n
                return df
            if parsed is not None:
                manifest[name]["status"] = "partial"
            return None

        # ---- Ahrefs keywords (src/etl.js:115-151)
        df = csv_stanza("ahrefs_keywords.csv", stanzas.ahrefs_keywords, "ahrefs")
        if df is not None and debug is not None:  # S8 headers dump (src/etl.js:121)
            debug["ahrefs_keywords_headers"] = [c for c in df.columns if c != ROW_ID]

        # ---- Ahrefs top pages (src/etl.js:153-165)
        csv_stanza("ahrefs_top_pages.csv", stanzas.ahrefs_top_pages, "ahrefs")

        # ---- Ahrefs backlinks (src/etl.js:168-181)
        csv_stanza("ahrefs_backlinks.csv", stanzas.ahrefs_backlinks, "ahrefs")

        # ---- Ahrefs site audit — nested ZIP (src/etl.js:184-213)
        buf = read_entry(zf, "ahrefs_site_audit.zip", manifest)
        if buf is not None:
            try:
                inner = open_nested_zip(buf)
                names = set(inner.namelist())
                counts = {
                    f: parse_csv_smart_rows(inner.read(f)).n_rows
                    for files in stanzas.SITE_AUDIT_ISSUES.values()
                    for f in files
                    if f in names
                }
                appliers.append(functools.partial(stanzas.site_audit_issue_counts, counts))
                prov["ahrefs"] = True
                manifest["ahrefs_site_audit.zip"]["status"] = "full"
            except Exception as e:  # degrade, don't abort (src/etl.js:209-212)
                manifest["ahrefs_site_audit.zip"]["status"] = "partial"
                manifest["ahrefs_site_audit.zip"]["note"] = str(e)

        # ---- Screaming Frog internal (src/etl.js:216-230)
        csv_stanza("sf_internal_all.csv", stanzas.sf_internal, "screamingfrog")

        # ---- Screaming Frog structured data (src/etl.js:234-250)
        if n := _n_rows(read_csv("sf_structured_data.csv")):
            note = stanzas.sf_structured_data(doc)
            manifest["sf_structured_data.csv"]["rows"] = n
            manifest["sf_structured_data.csv"]["note"] = note
            prov["screamingfrog"] = True

        # ---- duplicates / images: row counts only (src/etl.js:253-256)
        for name in ("sf_duplicates.csv", "sf_images.csv"):
            parsed = read_csv(name)
            if parsed is not None:
                manifest[name]["rows"] = parsed.n_rows

        # ---- Lighthouse JSONs (src/etl.js:259-304)
        lh_metrics = []
        for name in LIGHTHOUSE_FILES:
            try:
                data = zf.read(name)
            except KeyError:
                manifest[name] = {"status": "missing"}
                continue
            try:
                lh_metrics.append(extract_lighthouse(data))
                manifest[name] = {"status": "full"}
                prov["lighthouse"] = True
            except Exception as e:
                manifest[name] = {"status": "partial", "note": str(e)}
        if lh_metrics:
            stanzas.lighthouse_rollup(lh_metrics, doc)

        # ---- BrightLocal ranks (src/etl.js:307-328)
        csv_stanza("brightlocal_ranks.csv", stanzas.brightlocal_ranks, "brightlocal")

        # ---- BrightLocal citations (src/etl.js:332-366)
        csv_stanza("brightlocal_citations.csv", stanzas.brightlocal_citations, "brightlocal")

        # ---- BrightLocal reviews — placeholder-prone (src/etl.js:369-379)
        parsed = read_csv("brightlocal_reviews.csv")
        if parsed is not None:
            if (n := _n_rows(parsed)) and not stanzas.is_placeholder(parsed):
                prov["brightlocal"] = True
                manifest["brightlocal_reviews.csv"]["rows"] = n
            else:
                manifest["brightlocal_reviews.csv"]["status"] = "placeholder"
                manifest["brightlocal_reviews.csv"]["note"] = "login_required"

        # ---- BrightLocal GBP insights (src/etl.js:382-397)
        parsed = read_csv("brightlocal_gbp_insights.csv")
        if n := _n_rows(parsed):
            submit(stanzas.brightlocal_gbp_insights, csv_smart.to_dataframe(spark, parsed))
            prov["brightlocal"] = True
            manifest["brightlocal_gbp_insights.csv"] = {
                "status": "partial",
                "rows": n,
                "note": "public listing only; true Insights missing",
            }

        # ---- GBP categories / photos (src/etl.js:400-421)
        for name, stanza in (
            ("gbp_categories.csv", stanzas.gbp_categories),
            ("gbp_photos.csv", stanzas.gbp_photos),
        ):
            parsed = read_csv(name)
            if parsed is not None:
                if parsed.header:
                    submit(stanza, csv_smart.to_dataframe(spark, parsed))
                prov["gbp_public"] = True
                manifest[name]["rows"] = _n_rows(parsed)

        # ---- login-required placeholders (src/etl.js:424-434)
        real: set[str] = set()
        for name in PLACEHOLDER_FILES:
            parsed = read_csv(name)
            if parsed is None:
                continue
            if (n := _n_rows(parsed)) and not stanzas.is_placeholder(parsed):
                manifest[name] = {"status": "full", "rows": n}
                real.add(name)
            else:
                manifest[name] = {"status": "placeholder", "note": "access_required_or_empty"}

        # ---- GSC/GA4 presence flags (src/etl.js:437-448)
        prov["gsc"] = any(name in real for name in GSC_FILES)
        prov["ga4"] = any(name in real for name in GA4_FILES)

        # ---- apply in reference order, whatever order the stanzas finished
        # in: pages_total keeps its first writer (??), photos_total its last
        for applier in appliers:
            (applier.result() if isinstance(applier, Future) else applier)(doc)

    scores = compute_scores(spark, doc)
    return {"normalized_audit": doc, "scores": scores, "manifest": manifest}


def _js_numbers(obj):
    """`obj` with every integral double that JS holds exactly (|x| < 2^53)
    as an int, so `json.dumps` spells it as `JSON.stringify` does: `271`,
    not `271.0`, and `0` for -0.0. Other floats stay floats; their
    exponent spelling still differs (SURVEY S7)."""
    if isinstance(obj, float):
        return int(obj) if obj.is_integer() and abs(obj) < 2**53 else obj
    if isinstance(obj, dict):
        return {k: _js_numbers(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_js_numbers(v) for v in obj]
    return obj


def write_outputs(result: dict, out_dir: str) -> dict[str, str]:
    """KV-sink analog (S7, src/main.js:30-38): three JSON artifacts + the
    OUTPUT index, reference-shaped (sentinels restored by the serializer),
    UTF-8 text with non-ASCII characters written as themselves."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    artifacts = {
        "normalized_audit.json": to_reference_json(result["normalized_audit"]),
        "scores.json": result["scores"],
        "etl_manifest.json": result["manifest"],
    }
    index = {"artifacts": sorted(artifacts), "client": result["normalized_audit"]["meta"]["client"]}
    paths = {}
    for name, obj in {**artifacts, "OUTPUT.json": index}.items():
        p = out / name
        p.write_text(json.dumps(_js_numbers(obj), indent=2, ensure_ascii=False), encoding="utf-8")
        paths[name] = str(p)
    return paths
