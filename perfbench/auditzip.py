"""Seeded audit-ZIP generator with an expected-value model.

`make_audit(seed, large)` returns the bytes of one audit ZIP laid out the
way `pipeline.run.process_zip` reads it (the reference's entry names) and a
model of what the audit must produce, computed from the rows the generator
emitted rather than by re-running any pipeline code:

- the manifest status and row count of every entry;
- keyword position buckets (top3/top10/top100);
- status-code counts (errors.4xx/5xx, summed over Screaming Frog and the
  nested site-audit ZIP) and the other site-audit error categories;
- pages_total, ref_domains and the average Domain Rating;
- which score components are present, as the OSS/LSS weight used.

The seed decides every encoding (UTF-16LE with BOM, UTF-16LE without BOM,
UTF-8 with comma or tab), every row value, whether the nested site-audit
ZIP is corrupt, and which optional entries are missing or are login-wall
placeholders. `large` switches the Ahrefs and Screaming Frog exports from
reference size (a few dozen rows) to ~20k rows each.

The number of entries of each role is the same for every seed, so audits of
different seeds run the same Spark jobs and differ only in values.
"""

from __future__ import annotations

import io
import json
import math
import random
import zipfile

LARGE_ROWS = 20_000
SMALL_ROWS = 40

SITE_AUDIT_ISSUES = {
    "4xx": ["Error-4XX_page.csv", "Error-404_page.csv"],
    "5xx": ["Error-5XX_page.csv"],
    "redirect_chains": ["Error-Redirect_chain.csv", "Warning-3XX_redirect.csv"],
    "canonical": ["Error-indexable-Canonical_chain.csv", "Warning-Canonical_to_redirected_URL.csv"],
    "duplicate_titles": ["Warning-indexable-Title_tag_duplicate.csv"],
    "thin": ["Warning-indexable-Content_thin.csv"],
    "orphan_pages": ["Error-indexable-Orphan_page.csv"],
}
LIGHTHOUSE_FILES = ("lighthouse_home.json", "lighthouse_service.json", "lighthouse_city.json")
# Login-wall-prone exports: the seed assigns three of them real rows, three
# a placeholder body and leaves three out of the ZIP.
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
PLACEHOLDER_BODY = [["status", "message"], ["error", "login required"]]
STATUS_CODES = (200, 200, 200, 200, 301, 302, 404, 410, 500, 503)
OSS_WEIGHTS = {"kw_top10": 20, "site_health": 20, "cwv_pass": 15}
LSS_WEIGHTS = {"avg_local_rank": 40, "pct_top3": 25, "citations": 15, "reviews": 10}


def _encode(rows: list[list[str]], rng: random.Random) -> bytes:
    """One CSV in a seed-chosen encoding; UTF-16 exports are tab-separated,
    as the tools that produce them write them."""
    kind = rng.choice(("utf16_bom", "utf16", "utf8_comma", "utf8_tab"))
    sep = "," if kind == "utf8_comma" else "\t"
    text = "\n".join(sep.join(r) for r in rows)
    if kind.startswith("utf16"):
        body = text.encode("utf-16-le")
        return b"\xff\xfe" + body if kind == "utf16_bom" else body
    return text.encode("utf-8")


def _lighthouse(rng: random.Random) -> bytes:
    lcp, cls, inp = rng.randint(1200, 4000), rng.choice((0.02, 0.05, 0.08, 0.15, 0.3)), rng.randint(80, 400)
    doc = {
        "categories": {"performance": {"score": round(rng.random(), 2)}},
        "audits": {
            "largest-contentful-paint": {"numericValue": lcp},
            "cumulative-layout-shift": {"numericValue": cls},
            "interactive": {"numericValue": inp},
            "server-response-time": {"numericValue": rng.randint(100, 900)},
        },
    }
    return json.dumps(doc).encode()


def make_audit(seed: int, large: bool) -> tuple[bytes, dict]:
    """→ (zip bytes, expected-value model). Byte-identical for equal
    arguments: entry order, timestamps and values depend only on them."""
    rng = random.Random(seed)
    n_big = LARGE_ROWS if large else SMALL_ROWS
    entries: dict[str, bytes] = {}
    manifest: dict[str, dict] = {}
    errors = {k: 0 for k in SITE_AUDIT_ISSUES}

    # Ahrefs keywords: blank and non-numeric positions coerce to 0 (invalid).
    positions = [rng.choice(("", "n/a", str(rng.randint(1, 150)))) if rng.random() < 0.05
                 else str(rng.randint(1, 150)) for _ in range(n_big)]
    rows = [["Keyword", "Current position", "Volume"]]
    rows += [[f"kw{i}", p, str(rng.randint(10, 5000))] for i, p in enumerate(positions)]
    entries["ahrefs_keywords.csv"] = _encode(rows, rng)
    valid = [int(p) for p in positions if p.isdigit() and int(p) > 0]
    keywords = {
        "top3": sum(p <= 3 for p in valid),
        "top10": sum(p <= 10 for p in valid),
        "top100": sum(p <= 100 for p in valid),
    }
    manifest["ahrefs_keywords.csv"] = {"status": "present", "rows": n_big}

    urls = [f"/page{rng.randint(0, n_big // 2)}" for _ in range(n_big)]
    entries["ahrefs_top_pages.csv"] = _encode(
        [["Current URL", "Traffic"]] + [[u, str(rng.randint(0, 900))] for u in urls], rng
    )
    pages_total = len(set(urls))
    manifest["ahrefs_top_pages.csv"] = {"status": "present", "rows": n_big}

    # Backlinks: a blank DR cell coerces to 0 and still counts in the mean.
    drs = ["" if rng.random() < 0.1 else str(rng.randint(1, 95)) for _ in range(n_big)]
    entries["ahrefs_backlinks.csv"] = _encode(
        [["Referring domain", "DR"]] + [[f"d{i}.com", d] for i, d in enumerate(drs)], rng
    )
    dr = math.fsum(int(d) if d else 0 for d in drs) / n_big
    manifest["ahrefs_backlinks.csv"] = {"status": "present", "rows": n_big}

    # Nested site-audit ZIP, corrupt for a quarter of the seeds.
    if rng.random() < 0.25:
        entries["ahrefs_site_audit.zip"] = b"PK\x03\x04 truncated site audit"
        manifest["ahrefs_site_audit.zip"] = {"status": "partial"}
    else:
        inner = io.BytesIO()
        with zipfile.ZipFile(inner, "w") as z:
            for key, files in SITE_AUDIT_ISSUES.items():
                for name in files:
                    if rng.random() < 0.7:
                        n = rng.randint(1, 12)
                        z.writestr(_zinfo(name), "\n".join(["URL"] + [f"/x{j}" for j in range(n)]))
                        errors[key] += n
        entries["ahrefs_site_audit.zip"] = inner.getvalue()
        manifest["ahrefs_site_audit.zip"] = {"status": "full"}

    codes = [rng.choice(STATUS_CODES) for _ in range(n_big)]
    entries["sf_internal_all.csv"] = _encode(
        [["Address", "Status Code", "Title 1"]] + [[f"/p{i}", str(c), f"T{i}"] for i, c in enumerate(codes)],
        rng,
    )
    errors["4xx"] += sum(400 <= c < 500 for c in codes)
    errors["5xx"] += sum(c >= 500 for c in codes)
    manifest["sf_internal_all.csv"] = {"status": "present", "rows": n_big}

    n = rng.randint(2, 20)
    entries["sf_structured_data.csv"] = _encode(
        [["Address", "Errors", "Warnings"]] + [[f"/p{i}", "0", str(rng.randint(0, 3))] for i in range(n)], rng
    )
    manifest["sf_structured_data.csv"] = {"status": "present", "rows": n}
    n = rng.randint(2, 20)
    entries["sf_duplicates.csv"] = _encode([["Address", "Hash"]] + [[f"/a{i}", str(i % 3)] for i in range(n)], rng)
    manifest["sf_duplicates.csv"] = {"status": "present", "rows": n}
    manifest["sf_images.csv"] = {"status": "missing"}

    # Lighthouse: one report missing, one invalid JSON, one valid.
    missing_lh, broken_lh = rng.sample(LIGHTHOUSE_FILES, 2)
    for name in LIGHTHOUSE_FILES:
        if name == missing_lh:
            manifest[name] = {"status": "missing"}
        elif name == broken_lh:
            entries[name] = b'{"audits": {'
            manifest[name] = {"status": "partial"}
        else:
            entries[name] = _lighthouse(rng)
            manifest[name] = {"status": "full"}

    ranks = [str(rng.randint(1, 30)) for _ in range(rng.randint(5, 30))]
    entries["brightlocal_ranks.csv"] = _encode(
        [["Keyword", "Position"]] + [[f"kw{i}", p] for i, p in enumerate(ranks)], rng
    )
    manifest["brightlocal_ranks.csv"] = {"status": "present", "rows": len(ranks)}

    n = rng.randint(3, 15)
    entries["brightlocal_citations.csv"] = _encode(
        [["Status", "General Status", "Citation Link"]]
        + [[rng.choice(("Live", "Dead", "Pending")), "", f"http://c{i}"] for i in range(n)],
        rng,
    )
    manifest["brightlocal_citations.csv"] = {"status": "present", "rows": n}

    entries["brightlocal_reviews.csv"] = _encode(PLACEHOLDER_BODY, rng)
    manifest["brightlocal_reviews.csv"] = {"status": "placeholder"}

    n = rng.randint(1, 3)
    entries["brightlocal_gbp_insights.csv"] = _encode(
        [["Review count", "Star rating", "Photos"]]
        + [[str(rng.randint(10, 300)), f"{rng.uniform(3, 5):.1f}", str(rng.randint(0, 90))] for _ in range(n)],
        rng,
    )
    manifest["brightlocal_gbp_insights.csv"] = {"status": "partial", "rows": n}

    cats = [["category_type", "category_name"], ["primary", "Plumber"]]
    cats += [["secondary", f"Service {i}"] for i in range(rng.randint(0, 4))]
    entries["gbp_categories.csv"] = _encode(cats, rng)
    manifest["gbp_categories.csv"] = {"status": "present", "rows": len(cats) - 1}
    entries["gbp_photos.csv"] = _encode(
        [["photo_type", "count"], ["owner", str(rng.randint(0, 50))], ["total", str(rng.randint(50, 99))]], rng
    )
    manifest["gbp_photos.csv"] = {"status": "present", "rows": 2}

    roles = ["data"] * 3 + ["placeholder"] * 3 + ["missing"] * 3
    rng.shuffle(roles)
    for name, role in zip(PLACEHOLDER_FILES, roles):
        if role == "missing":
            manifest[name] = {"status": "missing"}
            continue
        if role == "placeholder":
            entries[name] = _encode(PLACEHOLDER_BODY, rng)
            manifest[name] = {"status": "placeholder"}
            continue
        n = rng.randint(2, 25)
        entries[name] = _encode([["Key", "Clicks"]] + [[f"k{i}", str(rng.randint(0, 99))] for i in range(n)], rng)
        manifest[name] = {"status": "full", "rows": n}

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in entries.items():
            z.writestr(_zinfo(name), data)

    oss_used = OSS_WEIGHTS["site_health"] + OSS_WEIGHTS["cwv_pass"] + (OSS_WEIGHTS["kw_top10"] if valid else 0)
    model = {
        "manifest": manifest,
        "keywords": keywords if valid else {"top3": None, "top10": None, "top100": None},
        "errors": errors,
        "pages_total": pages_total,
        "ref_domains": n_big,
        "dr": dr,
        "oss_weight_used": oss_used,
        "lss_weight_used": sum(LSS_WEIGHTS.values()),
    }
    return buf.getvalue(), model


def _zinfo(name: str) -> zipfile.ZipInfo:
    info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
    info.compress_type = zipfile.ZIP_DEFLATED
    return info


def check_audit(result: dict, model: dict) -> list[str]:
    """Compare one `process_zip` result against its model → problems
    (empty when the audit is correct)."""
    problems = []
    manifest = result["manifest"]
    for name, want in model["manifest"].items():
        got = manifest.get(name, {})
        for key, value in want.items():
            if got.get(key) != value:
                problems.append(f"manifest[{name}].{key}: {got.get(key)!r} != {value!r}")
    doc = result["normalized_audit"]
    onsite = doc["onsite"]
    if onsite["keywords"] != model["keywords"]:
        problems.append(f"keywords: {onsite['keywords']} != {model['keywords']}")
    if onsite["errors"] != model["errors"]:
        problems.append(f"errors: {onsite['errors']} != {model['errors']}")
    if onsite["content"]["pages_total"] != model["pages_total"]:
        problems.append(f"pages_total: {onsite['content']['pages_total']} != {model['pages_total']}")
    backlinks = doc["backlinks"]
    if backlinks["ref_domains"] != model["ref_domains"]:
        problems.append(f"ref_domains: {backlinks['ref_domains']} != {model['ref_domains']}")
    if backlinks["dr"] is None or not math.isclose(backlinks["dr"], model["dr"], rel_tol=1e-9):
        problems.append(f"dr: {backlinks['dr']} != {model['dr']}")
    scores = result["scores"]
    for key in ("oss_weight_used", "lss_weight_used"):
        if scores[key] != model[key]:
            problems.append(f"{key}: {scores[key]} != {model[key]}")
    return problems
