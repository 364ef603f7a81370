"""The stanzas' case fold and coercion, checked against what they replace.

- `_fold` (a `translate`) stands in for Spark's ICU-backed `lower`; a
  seeded fuzz over case-mapping edge cases (dotted and dotless i, the
  Kelvin sign, sharp s, sigma, fullwidth letters) shows the five folded
  predicates agree with `lower` row for row, and the words the stanzas
  compare with meet the fold's precondition.
- The executed plan of every stanza of a fixture audit is recorded: none
  evaluates `lower`, and the stanzas that use a coerced column in several
  aggregates coerce it once.
"""

from __future__ import annotations

import random
import re
import sys
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from seo_audit_etl_actor_spark.pipeline import stanzas
from seo_audit_etl_actor_spark.pipeline.run import JobInput, process_zip
from tests.fixtures_seo import build_fixture_zip

LIVE_WORDS = re.fullmatch(r"\(([a-z|]+)\)", stanzas.LIVE_PATTERN).group(1).split("|")
EQUAL_WORDS = (*stanzas.CATEGORY_TYPES, stanzas.PHOTO_TOTAL)
# code points whose lowercase is special, or that look like the letters
# of the words: İ ı K ß ẞ Σ σ ς, a combining dot, fullwidth letters
TRICKY = "\u0130\u0131\u212a\u00df\u1e9e\u03a3\u03c3\u03c2\u0307" + "ＫＬＩＶＥＯＰＲＳＴｋｌｉｖｅｏｐｒｓｔ"


def _fuzz_strings(n: int, seed: int) -> list[str]:
    """The stanzas' words with letters upper-cased, swapped for a tricky
    code point, or with tricky code points inserted around them."""
    rng = random.Random(seed)
    out = ["", " ", "PR\u0130MARY", "TOTAL", "o\u212a", "OK", "L\u0130VE", "l\u0131ve", "\u0130", "\u03a3"]
    for _ in range(n):
        chars = []
        for ch in rng.choice((*EQUAL_WORDS, *LIVE_WORDS)):
            r = rng.random()
            if r < 0.4:
                ch = ch.upper()
            elif r < 0.5:
                ch = rng.choice(TRICKY)
            chars.append(ch)
        for _ in range(rng.choice((0, 0, 1, 2))):
            chars.insert(rng.randint(0, len(chars)), rng.choice(TRICKY + "aZ "))
        out.append("".join(chars))
    return out


def test_fold_precondition():
    """The words are ASCII lowercase letters, none ending in 'i'; and the
    only non-ASCII code points whose lowercase holds an ASCII letter are
    the Kelvin sign (in the fold's table) and U+0130, whose 'i' is
    followed by U+0307."""
    for word in (*EQUAL_WORDS, *LIVE_WORDS):
        assert word.isascii() and word.isalpha() and word.islower(), word
        assert not word.endswith("i"), word
    ascii_letters = re.compile("[A-Za-z]")
    hits = {
        cp
        for cp in range(0x80, sys.maxunicode + 1)
        if ascii_letters.search(chr(cp).lower())
    }
    assert hits == {0x130, 0x212A}
    assert "\u0130".lower() == "i\u0307"
    assert "\u212a".lower() == "k"
    assert dict(zip(stanzas._FOLD_FROM, stanzas._FOLD_TO)) == {
        ch: ch.lower() for ch in stanzas._FOLD_FROM
    }


def test_fold_agrees_with_lower(spark):
    values = _fuzz_strings(4000, seed=20240101)
    df = spark.createDataFrame([(v,) for v in values], "s string")
    folded, lowered = stanzas._fold(F.col("s")), F.lower(F.col("s"))

    def predicates(c):
        return {
            **{f"eq_{w}": c == w for w in EQUAL_WORDS},
            "live": c.rlike(stanzas.LIVE_PATTERN),
            "non_empty": c != "",
        }

    by_fold, by_lower = predicates(folded), predicates(lowered)
    row = df.agg(
        *[F.count_if(~by_fold[k].eqNullSafe(by_lower[k])).alias(f"differ_{k}") for k in by_fold],
        *[F.count_if(by_lower[k]).alias(f"hit_{k}") for k in by_lower],
    ).first()
    for k in by_fold:
        assert row[f"differ_{k}"] == 0, k
        assert row[f"hit_{k}"] > 0, k  # the fuzz reaches every predicate's true side


# the stanzas that run a Spark aggregation over the fixture audit
SPARK_STANZAS = (
    "ahrefs_keywords",
    "ahrefs_top_pages",
    "ahrefs_backlinks",
    "sf_internal",
    "brightlocal_ranks",
    "brightlocal_citations",
    "brightlocal_gbp_insights",
    "gbp_categories",
    "gbp_photos",
)


@pytest.fixture(scope="module")
def stanza_plans(spark) -> dict[str, str]:
    """Stanza name → the executed plan of its aggregation, over the
    fixture audit. Each stanza runs in a pool thread of its own, which
    names the plan that `first` sees."""
    plans: dict[str, str] = {}
    current = threading.local()
    first = DataFrame.first

    def recording_first(self):
        row = first(self)
        if name := getattr(current, "name", None):
            plans[name] = self._jdf.queryExecution().executedPlan().toString()
        return row

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrame, "first", recording_first)
        for name in SPARK_STANZAS:

            def named(df, stanza=getattr(stanzas, name), name=name):
                current.name = name
                return stanza(df)

            mp.setattr(stanzas, name, named)
        job = JobInput(client="c", domain="d", run_date="2025-06-01", zip_url="memory://fixture")
        process_zip(spark, job, fetch_impl=lambda url: build_fixture_zip())
    assert set(plans) == set(SPARK_STANZAS)
    return plans


def test_no_stanza_plan_lowercases(stanza_plans):
    for name, plan in stanza_plans.items():
        assert "lower(" not in plan, (name, plan)


@pytest.mark.parametrize("name", ["ahrefs_keywords", "sf_internal", "brightlocal_ranks"])
def test_numeric_column_coerced_once(stanza_plans, name):
    """One `_finite` is 4 `regexp_replace` nodes. Inlined into each
    aggregate that uses it, the plans held 88 (keywords), 24 (sf_internal)
    and 64 (ranks)."""
    plan = stanza_plans[name]
    assert plan.count("regexp_replace(") <= 4, plan
