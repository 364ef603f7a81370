"""Scalar expression library — native Column builders, zero Python UDFs.

Every helper here compiles to Catalyst expressions that stay inside
whole-stage codegen; they are the Spark re-expression of the reference's
plain-JS helpers (reference `src/etl.js:44-91`, `src/scoring.js:17-68`).
"""

from seo_audit_etl_actor_spark.functions.coercion import (
    clamp01,
    nonzero_coalesce,
    to_num,
)

__all__ = ["to_num", "clamp01", "nonzero_coalesce"]
