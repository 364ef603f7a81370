"""seo_audit_etl_actor_spark — a PySpark-native analytics engine.

Re-expresses every capability of the reference SEO-audit ETL actor
(`/root/reference`, peptidehackers/seo-audit-etl-actor) as idiomatic Spark
DataFrame operations, and extends the surface with the relational operators
(joins, windows, rollup, set ops) and LLM-data-pipeline operators (dedup,
similarity search, text analysis) required at 100 TB scale.

Layout:
  session     — SparkSession bring-up + table loading
  functions/  — scalar expression library (coercion, clamps, rescales)
  operators/  — aggregate/relational operator builders + extensions
  sources/    — ingestion (encoding-sniffing CSV, ZIP, fuzzy schema resolve)
  pipeline/   — the end-to-end SEO audit: stanzas, scoring, serialization
  plans/      — physical-plan introspection and assertions
  multimodal/ — binary blobs: image/audio/video decode (incl. T.81 JPEG)
  queries/    — the named query catalog + DuckDB oracle SQL (driver contract)
  streaming/  — Structured Streaming variants of the event operators
"""

__version__ = "0.1.0"
