"""Synthetic SEO-audit ZIP fixture (FIXTURES.md §B): entry names exactly as
the reference reads them, encodings chosen to exercise the sniffing matrix
(UTF-16LE+BOM, UTF-16LE bare, UTF-8), nested inner ZIP, placeholder files,
and missing entries. All values are small and hand-computable — the golden
expectations in test_pipeline_golden.py derive from this data by hand.
"""

from __future__ import annotations

import io
import zipfile


def _utf16le(text: str, bom: bool = True) -> bytes:
    body = text.encode("utf-16-le")
    return (b"\xff\xfe" + body) if bom else body


def _csv(*rows: str) -> str:
    return "\n".join(rows)


def inner_site_audit_zip() -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("Error-4XX_page.csv", _csv("URL", "/x1", "/x2"))
        z.writestr("Error-404_page.csv", _csv("URL", "/gone"))
        z.writestr("Error-5XX_page.csv", _csv("URL", "/err"))
        z.writestr("Error-Redirect_chain.csv", _csv("URL", "/r1", "/r2"))
        z.writestr("Warning-indexable-Title_tag_duplicate.csv", _csv("URL", "/dup"))
        z.writestr("Error-indexable-Orphan_page.csv", _csv("URL", "/o1", "/o2"))
        # canonical + thin files absent → those categories stay 0
    return buf.getvalue()


PLACEHOLDER = _csv("status,message", "error,login required")
# 400 digits: parses to Infinity (JS Number, Python float, Spark double)
HUGE = "9" * 400


def build_fixture_zip(
    *,
    omit: set[str] | None = None,
    corrupt_site_audit: bool = False,
    keywords_no_position_col: bool = False,
    huge_numbers: bool = False,
) -> bytes:
    """`huge_numbers` appends one row with a 400-digit number to the
    keywords (position), backlinks (DR), Screaming Frog internal (status
    code) and BrightLocal ranks (position) exports."""
    omit = omit or set()
    entries: dict[str, bytes] = {}

    kw_header = "Keyword\tVolume" if keywords_no_position_col else "Keyword\tCurrent position\tVolume"
    kw_rows = (
        ["kw%d\t%d" % (i, v) for i, v in enumerate([100] * 10)]
        if keywords_no_position_col
        else [
            "kw1\t1\t100",
            "kw2\t2\t150",
            "kw3\t3\t80",
            "kw4\t5\t60",
            "kw5\t9\t40",
            "kw6\t15\t30",
            "kw7\t50\t20",
            "kw8\t120\t10",
            "kw9\tabc\t5",
            "kw10\t-2\t5",
        ]
    )
    if huge_numbers:
        kw_rows.append(f"kw11\t{HUGE}\t5")
    entries["ahrefs_keywords.csv"] = _utf16le(_csv(kw_header, *kw_rows), bom=True)

    entries["ahrefs_top_pages.csv"] = _utf16le(
        _csv("Current URL\tTraffic", "/a\t10", "/b\t8", "/a\t7", "/c\t5"), bom=False
    )
    backlinks = ["d1.com\t50", "d2.com\t70", "d3.com\t", "d4.com\t30"]
    if huge_numbers:
        backlinks.append(f"d5.com\t{HUGE}")
    entries["ahrefs_backlinks.csv"] = _utf16le(_csv("Referring domain\tDR", *backlinks), bom=True)
    entries["ahrefs_site_audit.zip"] = (
        b"NOT A ZIP AT ALL" if corrupt_site_audit else inner_site_audit_zip()
    )

    sf_rows = [
        "/p1,200,Home",
        "/p2,200,About",
        "/p3,301,Old",
        "/p4,404,Gone",
        "/p5,404,Gone2",
        "/p6,500,Err",
        "/p7,abc,Weird",
    ]
    if huge_numbers:
        sf_rows.append(f"/p8,{HUGE},Huge")
    entries["sf_internal_all.csv"] = _csv("Address,Status Code,Title 1", *sf_rows).encode()

    entries["sf_structured_data.csv"] = _csv(
        "Address,Errors,Warnings,Total Types,Unique Types",
        "/p1,0,1,2,2",
        "/p2,1,0,1,1",
    ).encode()

    entries["sf_duplicates.csv"] = _csv("Address,Hash", "/a,1", "/b,1", "/c,2").encode()
    # sf_images.csv deliberately missing

    entries["lighthouse_home.json"] = (
        b'{"categories":{"performance":{"score":0.95}},'
        b'"audits":{"largest-contentful-paint":{"numericValue":2000},'
        b'"cumulative-layout-shift":{"numericValue":0.05},'
        b'"interactive":{"numericValue":150},'
        b'"server-response-time":{"numericValue":200}}}'
    )
    entries["lighthouse_service.json"] = (
        b'{"categories":{"performance":{"score":0.7}},'
        b'"audits":{"largest-contentful-paint":{"numericValue":3000},'
        b'"cumulative-layout-shift":{"numericValue":0.2},'
        b'"interactive":{"numericValue":300},'
        b'"server-response-time":{"numericValue":400}}}'
    )
    # lighthouse_city.json deliberately missing

    ranks = ["kw1,1", "kw2,3", "kw3,4", "kw4,20"]
    if huge_numbers:
        ranks.append(f"kw5,{HUGE}")
    entries["brightlocal_ranks.csv"] = _csv("Keyword,Position", *ranks).encode()

    entries["brightlocal_citations.csv"] = _csv(
        "Status,General Status,Citation Link",
        "Live,,",
        ",OK found,http://x",
        "Dead,,",
        ",,",
        "Pending,,http://y",
    ).encode()

    entries["brightlocal_reviews.csv"] = PLACEHOLDER.encode()

    entries["brightlocal_gbp_insights.csv"] = _csv(
        "Review count,Star rating,Photos", "120,4.4,35", "118,4.2,33"
    ).encode()

    entries["gbp_categories.csv"] = _csv(
        "category_type,category_name",
        "primary,Plumber",
        "secondary,Emergency Plumber",
        "secondary,Drainage Service",
        "secondary,",
    ).encode()

    entries["gbp_photos.csv"] = _csv(
        "photo_type,count", "owner,12", "customer,8", "total,42"
    ).encode()

    entries["surfer_page_queue.csv"] = PLACEHOLDER.encode()
    entries["gsc_queries_28d.csv"] = _csv(
        "Query,Clicks", "plumber near me,12", "emergency plumber,7"
    ).encode()
    # gsc_pages_28d.csv missing
    entries["ga4_pages.csv"] = PLACEHOLDER.encode()
    # ga4_conversions.csv / ga4_channels.csv missing
    entries["leadsnap_leads.csv"] = PLACEHOLDER.encode()
    # leadsnap_calls.csv / leadsnap_reviews.csv missing

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, data in entries.items():
            if name not in omit:
                z.writestr(name, data)
    return buf.getvalue()
