"""Numeric coercion, clamps, and null/zero-coalescing semantics.

The reference's JS semantics that differ subtly from plain SQL are each
pinned here with the exact equivalent expression:

- ``toNum`` (reference src/etl.js:75-79): strip every char except
  ``[0-9.\\-]`` then ``Number()``; failure → NaN. Spark: regexp strip +
  ``cast('double')`` (uncastable → null, the engine's NaN analogue).
- JS ``||`` (reference src/scoring.js:18-19,28,60): falls through on *zero*
  as well as null — ``coalesce(nullif(c, 0), default)``.
- JS ``??`` (reference src/etl.js:159-161,228): null-only — plain
  ``coalesce``.
- clamp to [0,1] (reference src/scoring.js:31-32,61,66):
  ``least(greatest(c, 0), 1)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC_STRIP = r"[^0-9.\-]"


def to_num(c: Column | str) -> Column:
    """Tolerant string→double coercion (reference src/etl.js:75-79).

    Accepts "1,234", "12 %", "$9.50"; empty / unparsable → null.
    Pure Catalyst expression (regexp_replace + cast) so it vectorizes and
    stays in codegen — never a Python UDF.
    """
    c = F.col(c) if isinstance(c, str) else c
    stripped = F.regexp_replace(c.cast(T.StringType()), _NUMERIC_STRIP, "")
    # try_cast, not cast: ANSI mode (Spark 4 default) makes a plain cast
    # THROW on malformed numerics; null-on-failure is the required semantic.
    # The types are DataType objects, not names: a name goes through Spark's
    # SQL parser, whose first use in a JVM costs ~0.3 s (ANTLR set-up)
    return F.nullif(stripped, F.lit("")).try_cast(T.DoubleType())


def to_num_js(c: Column | str) -> Column:
    """Bug-for-bug JS ``toNum`` (reference src/etl.js:75-79): after the
    strip, JS ``Number('') === 0`` — so a cell with NO numeric characters
    (empty, "abc", a missing field) coerces to 0, not NaN. Only genuinely
    malformed numerics ('1.2.3', '--1', '.') become NaN → null here.

    Used by the SEO pipeline stanzas for reference parity; ``to_num`` above
    (empty → null) is the engine-preferred variant used by the analytics
    catalog.
    """
    c = F.col(c) if isinstance(c, str) else c
    stripped = F.regexp_replace(F.coalesce(c.cast(T.StringType()), F.lit("")), _NUMERIC_STRIP, "")
    # try_cast: ANSI-safe null on malformed ('1.2.3', '--1'), matching NaN
    return F.when(stripped == "", F.lit(0.0)).otherwise(stripped.try_cast(T.DoubleType()))


def clamp01(c: Column) -> Column:
    """Clamp to [0, 1] (reference src/scoring.js:31-32)."""
    return F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))


def nonzero_coalesce(c: Column, default) -> Column:
    """JS ``||`` default: swallow null AND zero (reference src/scoring.js:28,60)."""
    default = default if isinstance(default, Column) else F.lit(default)
    return F.coalesce(F.nullif(c, F.lit(0)), default)

