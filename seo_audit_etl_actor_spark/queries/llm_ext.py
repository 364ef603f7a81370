"""LLM-data-pipeline extension queries (dedup, similarity, text analysis)
with generated DuckDB oracle SQL.

The oracle SQL for MinHash/SimHash/cosine is machine-generated (band lists,
per-bit vote expressions, explicit dot-product chains) so both engines
execute byte-identical hash math (md5-derived) and identically-ordered
floating-point folds — results hash-match exactly, no tolerance needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seo_audit_etl_actor_spark.operators import dedup, similarity
from seo_audit_etl_actor_spark.operators.text import (
    LANG_MARKERS,
    ROLL_BASE,
    ROLL_MOD,
    STOPWORDS,
    lang_id,
    quality_score_q4,
    token_count,
    tokens,
)
from seo_audit_etl_actor_spark.session import ensure_parallelism, load_table

# ------------------------------------------------------------- SQL helpers

_TOKS = r"""CASE WHEN length(trim({c})) = 0 THEN CAST([] AS VARCHAR[])
            ELSE string_split_regex(trim({c}), '\s+') END"""
_NORM = (
    "lower(trim(regexp_replace(regexp_replace({c}, ' ', ' ', 'g'),"
    " '\\s+', ' ', 'g')))"
)


def _sql_md5_long(expr: str, salt: str = "") -> str:
    salted = f"{expr} || '{salt}'" if salt else expr
    return f"CAST(('0x' || substring(md5({salted}), 1, 15)) AS BIGINT)"


def _sql_marker_hits(toks_expr: str, markers: tuple[str, ...]) -> str:
    arr = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_filter({toks_expr}, t -> list_contains({arr}, t)))"


# ------------------------------------------------------------- text stats
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: docs, whitespace-token totals, avg chars.
    Token counting is the BPE-precursor whitespace tokenizer; counts are
    integers so every aggregate is exact."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text"))).cast("long").alias("total_tokens"),
            (F.sum("n_chars").cast("long") / F.count(F.lit(1))).alias("avg_chars"),
        )
        .orderBy("lang")
    )


SQL_TEXT_STATS = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len({_TOKS.format(c='text')})) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) / COUNT(*) AS avg_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


# ------------------------------------------------------------- language ID
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (marker-word argmax) vs the labeled lang —
    confusion-matrix counts."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.col("lang").alias("actual_lang"), lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual_lang", "pred_lang")
    )


def _sql_lang_pred(text_expr: str) -> str:
    toks = _TOKS.format(c=text_expr)
    scores = {lang: _sql_marker_hits(toks, m) for lang, m in LANG_MARKERS.items()}
    best = "GREATEST(" + ", ".join(scores.values()) + ")"
    whens = " ".join(
        f"WHEN {score} = {best} THEN '{lang}'" for lang, score in scores.items()
    )
    return f"CASE WHEN {best} > 0 THEN (CASE {whens} END) ELSE 'und' END"


SQL_LANG_ID_CONFUSION = f"""
SELECT lang AS actual_lang, {_sql_lang_pred('text')} AS pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY 1, 2
ORDER BY actual_lang, pred_lang
"""


# ------------------------------------------------------------- quality
def q_doc_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (length/alpha/stopword composite, quantized to 1e-4
    integers) aggregated per source — integer sums keep the averages exact
    across any partitioning."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    q = quality_score_q4(F.col("text"))
    return (
        docs.select(F.col("source"), q.alias("q4"))
        .groupBy("source")
        .agg(
            (F.sum("q4").cast("long") / F.count(F.lit(1))).alias("avg_quality_q4"),
            F.min("q4").alias("min_quality_q4"),
            F.max("q4").alias("max_quality_q4"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("source")
    )


def _sql_quality_q4(text_expr: str) -> str:
    norm = _NORM.format(c=text_expr)
    toks = _TOKS.format(c=norm)
    hits = _sql_marker_hits(toks, STOPWORDS)
    return f"""CAST(FLOOR((
      LEAST(length({norm}) / 500.0, 1.0)
      + (CASE WHEN length({norm}) > 0
              THEN length(regexp_replace({norm}, '[^a-z ]', '', 'g')) / length({norm})
              ELSE 0.0 END)
      + LEAST((CASE WHEN len({toks}) > 0 THEN {hits} / len({toks}) ELSE 0.0 END) * 5.0, 1.0)
    ) / 3.0 * 10000) AS BIGINT)"""


SQL_DOC_QUALITY_BY_SOURCE = f"""
SELECT source,
       CAST(SUM(q4) AS BIGINT) / COUNT(*) AS avg_quality_q4,
       MIN(q4) AS min_quality_q4,
       MAX(q4) AS max_quality_q4,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM (SELECT source, {_sql_quality_q4('text')} AS q4 FROM documents)
GROUP BY source
ORDER BY source
"""


# ------------------------------------------------------------- exact dedup
def q_exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup summary per source via md5-of-normalized-text
    fingerprints (hash-groupBy — uniform key, skew-free at scale)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return dedup.exact_dedup_stats(docs)


SQL_EXACT_DEDUP_STATS = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
       CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dup_rows
FROM (SELECT source, md5({_NORM.format(c='text')}) AS fp FROM documents)
GROUP BY source
ORDER BY source
"""


# ------------------------------------------------------------- MinHash LSH
def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified at ≥0.5 on
    3-word shingle sets (dedup.minhash_near_dup_pairs). Banding is
    scale-aware (dedup.BANDING_LADDER); every driver SF sits in tier 0
    (16 hashes × 8 bands), which is what the static oracle encodes."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return dedup.minhash_near_dup_pairs(docs, threshold=0.5)


def _sql_minhash_near_dup(n_hashes: int = dedup.N_HASHES, n_bands: int = dedup.N_BANDS) -> str:
    k = dedup.SHINGLE_K
    toks = _TOKS.format(c="text")
    grams = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    sig_exprs = ",\n    ".join(
        f"list_min(list_transform(shingles, h -> ({a} * h + {b}) % {dedup.MOD32})) AS mh{i}"
        for i, (a, b) in enumerate(dedup._affine_constants(n_hashes))
    )
    r = n_hashes // n_bands
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, {key} AS band_key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(f"CAST(mh{b * r + j} AS VARCHAR)" for j in range(r)),
        )
        for b in range(n_bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - {k - 2}),
                                      i -> {_sql_md5_long(f'({grams})')} & {dedup.MASK32})) AS shingles
  FROM toks WHERE len(t) >= {k}
),
sigs AS (
  SELECT doc_id, shingles,
    {sig_exprs}
  FROM sh WHERE len(shingles) > 0
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       len(list_intersect(sa.shingles, sb.shingles))
         / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
FROM cand
JOIN sigs sa ON sa.doc_id = id_a
JOIN sigs sb ON sb.doc_id = id_b
WHERE len(list_intersect(sa.shingles, sb.shingles))
        / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.5
ORDER BY id_a, id_b
"""


SQL_MINHASH_NEAR_DUP = _sql_minhash_near_dup()


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the MinHash near-dup pair graph: every paired
    doc labeled with its cluster's canonical id (min doc_id in the
    connected component) + cluster size — the keep-one-per-CLUSTER step of
    corpus dedup (operators/components.py, iterative min-label
    propagation). Oracle: DuckDB recursive CTE over the same pair SQL."""
    from seo_audit_etl_actor_spark.operators.components import (
        near_dup_cluster_assignments,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    pairs = dedup.minhash_near_dup_pairs(docs, threshold=0.5)
    return near_dup_cluster_assignments(pairs)


def _sql_near_dup_clusters() -> str:
    pair_sql = _sql_minhash_near_dup()
    return f"""
WITH RECURSIVE pairs AS ({pair_sql}),
edges AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS t FROM pairs
),
verts AS (SELECT DISTINCT s AS v FROM edges),
reach AS (
  SELECT v, v AS r FROM verts
  UNION
  SELECT e.t AS v, reach.r AS r FROM reach JOIN edges e ON reach.v = e.s
),
labels AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM labels
ORDER BY doc_id
"""


SQL_NEAR_DUP_CLUSTERS = _sql_near_dup_clusters()


def q_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 App. C-style n-gram overlap): a
    deterministic id-slice plays the benchmark set; per-source counts of
    corpus docs sharing any hashed 3-gram with it
    (operators/contamination.py — broadcast semi-join, corpus never
    shuffled)."""
    from seo_audit_etl_actor_spark.operators.contamination import (
        contamination_by_source,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return contamination_by_source(docs)


def _sql_contamination_by_source(modulus: int = 97, k: int = dedup.SHINGLE_K) -> str:
    toks = _TOKS.format(c="text")
    grams = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return f"""
WITH toks AS (
  SELECT doc_id, source, {toks} AS t FROM documents
),
sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(range(1, len(t) - {k - 2}),
                                      i -> {_sql_md5_long(f'({grams})')} & {dedup.MASK32})) AS g
  FROM toks
),
bench AS (SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % {modulus} = 0),
corpus AS (SELECT doc_id, source, g FROM sh WHERE doc_id % {modulus} <> 0),
cg AS (SELECT doc_id, unnest(g) AS gram FROM corpus),
hits AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bench USING (gram))
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(h.doc_id) AS BIGINT) AS n_contaminated,
       ROUND(COUNT(h.doc_id) / COUNT(*), 6) AS contamination_rate
FROM corpus LEFT JOIN hits h USING (doc_id)
GROUP BY source
ORDER BY source
"""


SQL_CONTAMINATION_BY_SOURCE = _sql_contamination_by_source()


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filter: per-doc duplicate
    3-gram fraction (1 - distinct/total), quantized to ppm by INTEGER
    division so the per-source aggregate is exact in any engine/partition
    order. Entirely map-side HOFs — the only shuffle carries (source, two
    longs) per doc."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    k = dedup.SHINGLE_K
    toks = tokens(F.col("text"))
    total = F.greatest(F.size(toks) - (k - 1), F.lit(0)).cast("long")
    distinct = F.size(dedup.hashed_shingle_set(F.col("text"), k)).cast("long")
    scored = docs.select(
        F.col("source"),
        total.alias("t"),
        distinct.alias("d"),
    ).where(F.col("t") > 0)
    dup_q6 = F.expr("((t - d) * 1000000) div t")
    return (
        scored.select("source", dup_q6.alias("dup_q6"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_scored"),
            (F.sum("dup_q6").cast("long") / F.count(F.lit(1))).alias("avg_dup_q6"),
            F.max("dup_q6").alias("max_dup_q6"),
            F.sum((F.col("dup_q6") > 300000).cast("long")).alias("n_flagged"),
        )
        .orderBy("source")
    )


def _sql_repetition_stats(k: int = dedup.SHINGLE_K) -> str:
    toks = _TOKS.format(c="text")
    grams = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return f"""
WITH toks AS (
  SELECT source, {toks} AS t FROM documents
),
scored AS (
  SELECT source,
         GREATEST(len(t) - {k - 1}, 0) AS total,
         len(list_distinct(list_transform(range(1, len(t) - {k - 2}),
                                          i -> {_sql_md5_long(f'({grams})')} & {dedup.MASK32}))) AS d
  FROM toks
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_scored,
       CAST(SUM(((total - d) * 1000000) // total) AS BIGINT) / COUNT(*) AS avg_dup_q6,
       CAST(MAX(((total - d) * 1000000) // total) AS BIGINT) AS max_dup_q6,
       CAST(SUM(CASE WHEN ((total - d) * 1000000) // total > 300000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM scored
WHERE total > 0
GROUP BY source
ORDER BY source
"""


SQL_REPETITION_STATS = _sql_repetition_stats()


VOCAB_SIZE = 20  # corpus vocabulary is 31 tokens → ~30% OOV, non-vacuous both ways


def q_vocab_oov_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization prep: map tokens to ids via a frequency-ranked vocab
    (top-N by count, ties to lexicographically-first token — a total
    order), then per-source OOV statistics. The vocab side is tiny and
    BROADCAST; at 100 TB the vocab is built once offline and the mapping
    join is map-side — the corpus text is scanned once and never
    shuffled (only (source, counts) rows move)."""
    from pyspark.sql import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "token_id",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col("tok").asc())
            ),
        )
        .where(F.col("token_id") <= VOCAB_SIZE)
        .select("tok", "token_id")
    )
    mapped = toks.join(F.broadcast(vocab), "tok", "left")
    return (
        mapped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("token_id").isNull().cast("long")).alias("n_oov"),
            F.round(
                F.sum(F.col("token_id").isNull().cast("long")) / F.count(F.lit(1)), 6
            ).alias("oov_rate"),
            F.countDistinct("token_id").alias("n_vocab_ids_used"),
        )
        .orderBy("source")
    )


def _sql_vocab_oov_stats(vocab_size: int = VOCAB_SIZE) -> str:
    toks = _TOKS.format(c="text")
    return f"""
WITH tk AS (
  SELECT source, unnest({toks}) AS tok FROM documents
),
vocab AS (
  SELECT tok, token_id FROM (
    SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS INT) AS token_id
    FROM tk GROUP BY tok
  ) WHERE token_id <= {vocab_size}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ROUND(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) / COUNT(*), 6) AS oov_rate,
       CAST(COUNT(DISTINCT v.token_id) AS BIGINT) AS n_vocab_ids_used
FROM tk LEFT JOIN vocab v USING (tok)
GROUP BY source
ORDER BY source
"""


SQL_VOCAB_OOV_STATS = _sql_vocab_oov_stats()


# ------------------------------------------------------------- SimHash
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 60-bit SimHash fingerprints (tf-weighted bit votes over
    md5-hashed tokens) — the whole per-doc state is one BIGINT."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    fps = dedup.simhash_fingerprints(docs)
    return fps.select("doc_id", F.col("fp_w0").alias("simhash")).orderBy("doc_id")


def _sql_md5_word(expr: str, word: int) -> str:
    return f"CAST(('0x' || substring(md5({expr}), {1 + 15 * word}, 15)) AS BIGINT)"


def _sql_simhash(bits: int) -> str:
    """(doc_id, fp_w0[, fp_w1]) from unpacked ±1 votes, so the oracle does
    not share the operator's lane packing. No ORDER BY: it is also a CTE."""
    toks = _TOKS.format(c="text")
    wb = 60
    n_words = bits // wb
    hashes = ",\n         ".join(f"{_sql_md5_word('s', w)} AS h{w}" for w in range(n_words))
    votes = ",\n    ".join(
        f"SUM((((h{i // wb} >> {i % wb}) & 1) * 2) - 1) AS v{i}" for i in range(bits)
    )
    words = []
    for w in range(n_words):
        fp = " + ".join(
            f"(CASE WHEN v{w * wb + j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
            for j in range(wb)
        )
        words.append(f"CAST({fp} AS BIGINT) AS fp_w{w}")
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS t FROM documents
),
th AS (
  SELECT doc_id,
         {hashes}
  FROM (SELECT doc_id, unnest(t) AS s FROM toks WHERE len(t) > 0)
),
votes AS (
  SELECT doc_id,
    {votes}
  FROM th GROUP BY doc_id
)
SELECT doc_id, {', '.join(words)}
FROM votes"""


SQL_SIMHASH_FINGERPRINTS = f"""
SELECT doc_id, fp_w0 AS simhash
FROM ({_sql_simhash(dedup.SIMHASH_BITS)})
ORDER BY doc_id
"""


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4-band pigeonhole candidates, verified at
    hamming ≤ 3 over the 60-bit fingerprints."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return dedup.simhash_near_dup_pairs(docs)


def _sql_simhash_near_dup(bits: int, n_bands: int = 4, max_hamming: int = 3) -> str:
    width = bits // n_bands
    wb = 60
    n_words = bits // wb
    bands_per_word = wb // width
    mask = (1 << width) - 1
    fp_cols = ", ".join(f"fp_w{w}" for w in range(n_words))
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {fp_cols}, {b} AS band_idx,"
        f" (fp_w{b // bands_per_word} >> {(b % bands_per_word) * width}) & {mask} AS band_key FROM fps"
        for b in range(n_bands)
    )
    fp_pairs = ", ".join(f"a.fp_w{w} AS a_w{w}, b.fp_w{w} AS b_w{w}" for w in range(n_words))
    ham = " + ".join(f"bit_count(xor(a_w{w}, b_w{w}))" for w in range(n_words))
    return f"""
WITH fps AS (
  {_sql_simhash(bits)}
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, {fp_pairs}
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST({ham} AS INT) AS hamming
FROM cand
WHERE {ham} <= {max_hamming}
ORDER BY id_a, id_b
"""


SQL_SIMHASH_NEAR_DUP = _sql_simhash_near_dup(dedup.SIMHASH_BITS)


def q_simhash_auto_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Width-routed simhash near-dup (`choose_simhash_width`, r12): the
    cached corpus-count probe selects the 60-bit operator below 100k docs
    and the 120-bit wide operator above — closing the last scale-unsafe
    default in the dedup family (VERDICT r11 gap #2: narrow's 15-bit band
    keyspace is 69.5% occupied at 15.8M docs). At the driver SFs
    (<=5k docs) the probe lands in the narrow tier, so the result — and
    the oracle — are exactly simhash_near_dup's; the wide route is pinned
    by the tier tests in tests/test_hot_bucket.py."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return dedup.simhash_near_dup_pairs_auto(docs)


SQL_SIMHASH_AUTO_NEAR_DUP = SQL_SIMHASH_NEAR_DUP


def q_simhash_wide_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 120-bit SimHash as two 60-bit BIGINT words (both from ONE
    md5 per token — hex chars 1-15 / 16-30). The r11 fix for the measured
    60-bit scale boundary (band-keyspace saturation + n² chance
    collisions, SCALE_STUDY_r10 simhash_decomposition); word 0 is
    bit-identical to the 60-bit `simhash_fingerprints`."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return dedup.simhash_fingerprints(docs, bits=dedup.SIMHASH_WIDE_BITS).orderBy("doc_id")


SQL_SIMHASH_WIDE_FINGERPRINTS = _sql_simhash(dedup.SIMHASH_WIDE_BITS) + "\nORDER BY doc_id\n"


def q_simhash_wide_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over the 120-bit fingerprint: 4-band pigeonhole with
    30-bit band keys (keyspace 2^30 — no saturation below ~1e9 docs),
    verified at hamming <= 3 summed across both words. Its output is
    provably a SUBSET of the 60-bit pairs on any corpus (extra bits only
    ADD hamming), with the difference being exactly the chance collisions
    the width is there to kill."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return dedup.simhash_near_dup_pairs(docs, bits=dedup.SIMHASH_WIDE_BITS)


SQL_SIMHASH_WIDE_NEAR_DUP = _sql_simhash_near_dup(dedup.SIMHASH_WIDE_BITS)


# ------------------------------------------------------------- n-gram Jaccard
def q_ngram_jaccard_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram Jaccard over the deterministic id-sample —
    verification baseline for the LSH pipelines."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return dedup.ngram_jaccard_sample_pairs(docs)


def _sql_ngram_jaccard(modulus: int = 10, min_j: float = 0.02) -> str:
    k = dedup.SHINGLE_K
    toks = _TOKS.format(c="text")
    grams = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS t FROM documents WHERE doc_id % {modulus} = 0
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - {k - 2}), i -> {grams})) AS sh
  FROM toks WHERE len(t) >= {k}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(a.sh) > 0 AND len(b.sh) > 0
  AND len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= {min_j}
ORDER BY id_a, id_b
"""


SQL_NGRAM_JACCARD_SAMPLE = _sql_ngram_jaccard()


# ------------------------------------------------------------- BPE tokens
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counts vs whitespace tokens per language — the
    pre-tokenizer pass of an LLM data pipeline (text.bpe_token_count)."""
    from seo_audit_etl_actor_spark.operators.text import bpe_token_count

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        docs.groupBy("lang")
        .agg(
            F.sum(bpe_token_count(F.col("text"))).cast("long").alias("bpe_tokens"),
            F.sum(token_count(F.col("text"))).cast("long").alias("ws_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("lang")
    )


def _sql_bpe_token_stats() -> str:
    from seo_audit_etl_actor_spark.operators.text import BPE_PATTERN

    pat = BPE_PATTERN.replace("'", "''")
    bpe = (
        f"len(list_filter(regexp_extract_all(text, '{pat}'),"
        " p -> NOT regexp_matches(p, '^\\s+$')))"
    )
    return f"""
SELECT lang,
       CAST(SUM({bpe}) AS BIGINT) AS bpe_tokens,
       CAST(SUM(len({_TOKS.format(c='text')})) AS BIGINT) AS ws_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY lang
ORDER BY lang
"""


SQL_BPE_TOKEN_STATS = _sql_bpe_token_stats()


# ------------------------------------------------------------- fingerprints
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints (order-sensitive polynomial hash
    over token hashes) — distinct-fingerprint count per source, plus the
    min fingerprint as a spot-checkable value."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    from seo_audit_etl_actor_spark.operators.text import rolling_hash_fingerprint

    fp = rolling_hash_fingerprint(F.col("text"))
    return (
        docs.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.countDistinct("fp").alias("n_unique_fp"),
            F.min("fp").alias("min_fp"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("source")
    )


SQL_DOC_FINGERPRINTS = f"""
WITH toks AS (
  SELECT source, {_TOKS.format(c='text')} AS t FROM documents
),
fp AS (
  SELECT source,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_transform(t, s -> {_sql_md5_long('s')} % {ROLL_MOD})),
           (acc, h) -> (acc * {ROLL_BASE} + h) % {ROLL_MOD}) AS fp
  FROM toks
)
SELECT source,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_fp,
       MIN(fp) AS min_fp,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM fp
GROUP BY source
ORDER BY source
"""


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens by frequency (explode → groupBy → distributed
    top-k via TakeOrderedAndProject; count desc, token asc tiebreak)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


SQL_TOKEN_HISTOGRAM = f"""
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest({_TOKS.format(c='text')}) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""


def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the lowest-id row per fingerprint (H2
    deterministic canonical choice) — survivors' ids + source."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        dedup.exact_dedup_keep_first(docs)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


SQL_DEDUP_KEEP_FIRST = f"""
SELECT doc_id, source
FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY md5({_NORM.format(c='text')}) ORDER BY doc_id) AS rn
  FROM documents
)
WHERE rn = 1
ORDER BY doc_id
"""


# ------------------------------------------------------------- similarity
EMB_DIM = 64
_QUERY_VEC_ID = 0


def q_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id=0 (sequential double
    fold — bit-identical to the oracle's explicit sum chain)."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    return similarity.cosine_topk(emb, _QUERY_VEC_ID, k=10)


def _dot_sql(a: str, b: str, dim: int) -> str:
    """DuckDB dot product of two `dim`-wide embedding arrays as an
    unrolled left-associative sum — the operators' dimension-sequential
    double accumulation, bit for bit."""
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(1, dim + 1)
    )


def _cos_sql(a: str, b: str, dim: int) -> str:
    """DuckDB cosine similarity over `_dot_sql`."""
    return f"({_dot_sql(a, b, dim)}) / (sqrt({_dot_sql(a, a, dim)}) * sqrt({_dot_sql(b, b, dim)}))"


def _sql_cosine_topk(dim: int = EMB_DIM, qid: int = _QUERY_VEC_ID, k: int = 10) -> str:
    return f"""
WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = {qid})
SELECT vec_id,
       ({_dot_sql('embedding', 'e', dim)})
       / (sqrt({_dot_sql('embedding', 'embedding', dim)}) * sqrt({_dot_sql('e', 'e', dim)})) AS cosine_sim
FROM embeddings, q
WHERE vec_id != {qid}
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT {k}
"""


SQL_COSINE_TOPK = _sql_cosine_topk()


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact, deterministic REP-id sample
    — r12 rep-level redesign, see similarity.embedding_near_dup_pairs) —
    the vector-space member of the dedup family. The synthetic embeddings
    top out near cosine 0.46, so 0.35 plays the role a ~0.95 threshold
    plays on a real near-dup-bearing corpus (top ~0.1% of pairs). Each
    row carries n_pairs, the count of underlying copy pairs (always 1 on
    an all-distinct corpus)."""
    # RAW frame: rep groupBy first — see q_embedding_near_dup_ivf
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(emb, threshold=EMB_NEAR_DUP_T)


EMB_NEAR_DUP_T = 0.35


def _sql_embedding_near_dup(dim: int = EMB_DIM, modulus: int = 5) -> str:
    sim = _cos_sql("a.embedding", "b.embedding", dim)
    selfsim = _cos_sql("s.embedding", "s.embedding", dim)
    return f"""
WITH reps AS (
  SELECT embedding, MIN(vec_id) AS rep_id, COUNT(*) AS n_copies
  FROM embeddings GROUP BY embedding
),
sample AS (SELECT * FROM reps WHERE rep_id % {modulus} = 0)
SELECT * FROM (
  SELECT a.rep_id AS id_a, b.rep_id AS id_b, {sim} AS cosine_sim,
         CAST(a.n_copies * b.n_copies AS BIGINT) AS n_pairs
  FROM sample a JOIN sample b ON a.rep_id < b.rep_id
  WHERE {sim} >= {EMB_NEAR_DUP_T}
  UNION ALL
  SELECT s.rep_id, s.rep_id, {selfsim},
         CAST(s.n_copies * (s.n_copies - 1) // 2 AS BIGINT)
  FROM sample s
  WHERE s.n_copies > 1 AND {selfsim} >= {EMB_NEAR_DUP_T}
)
ORDER BY id_a, id_b
"""


SQL_EMBEDDING_NEAR_DUP = _sql_embedding_near_dup()


def q_embedding_near_dup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-CORPUS embedding near-dup — the production shape of
    `embedding_near_dup`'s sample-bounded baseline: vectors are IVF-cell
    assigned (quantized-argmax contract, deterministic codebook), and the
    quadratic pair predicate runs only WITHIN cells — the vector-space
    analog of the MinHash/SimHash bucketed candidate generation.

    Scale: pair candidates shrink from |V|² to Σ|cell|²; the self-join
    shuffles on the cell key, and a skewed (hot) cell is handled the same
    way as dedup's hot buckets — AQE skew split on the join, or a finer
    codebook. The cosine is the same left-assoc HOF fold as the baseline,
    so the query has an exact oracle (argmax CTE + within-cell self-join).
    A real near-dup pair whose members quantize into different cells is
    missed BY DESIGN (that is IVF's recall trade-off — measured for the
    top-k variant in test_ann_recall).

    The codebook size is SCALE-AWARE (round 5): the operator's count()
    probe picks n_cells via similarity.choose_ivf_cells, pinning the
    average cell near a constant membership so Σ|cell|² grows linearly —
    the r5 ANN ladder measured the fixed-16-cell form at b=1.69 (311 s at
    31.6× sf0.1), the quadratic cliff this removes. Driver correctness SFs
    land in tier 0 (16 cells), matching the static oracle exactly.

    r12: output is REP-level (one row per distinct-vector pair + a self
    row per duplicated vector, each carrying n_pairs — see
    similarity.embedding_near_dup_ivf_pairs); on an all-distinct corpus
    this is the old copy-level output with n_pairs=1."""
    # RAW frame: the first thing the operator does is a map-side-combining
    # rep groupBy, so ensure_parallelism's round-robin exchange would just
    # move 600 MB to reach the same aggregate
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_ivf_pairs(emb, threshold=EMB_NEAR_DUP_T)


def _sql_embedding_near_dup_ivf(dim: int = 64, n_cells: int = 16) -> str:
    sim = _cos_sql("a.embedding", "b.embedding", dim)
    selfsim = _cos_sql("s.embedding", "s.embedding", dim)
    return f"""
WITH reps AS (
  SELECT embedding, MIN(vec_id) AS rep_id, COUNT(*) AS n_copies
  FROM embeddings GROUP BY embedding
),
cent AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {n_cells}
),
cell_sims AS (
  SELECT r.rep_id, r.embedding, r.n_copies, c.cid,
         {_cos_sql('r.embedding', 'c.cv', dim)} AS sim
  FROM reps r CROSS JOIN cent c
),
assigned AS (
  SELECT rep_id, embedding, n_copies, cid AS cell
  FROM (SELECT rep_id, embedding, n_copies, cid,
               ROW_NUMBER() OVER (PARTITION BY rep_id
                                  ORDER BY round(sim, 6) DESC, cid ASC) AS rn
        FROM cell_sims)
  WHERE rn = 1
)
SELECT * FROM (
  SELECT a.cell AS cell, a.rep_id AS id_a, b.rep_id AS id_b, {sim} AS cosine_sim,
         CAST(a.n_copies * b.n_copies AS BIGINT) AS n_pairs
  FROM assigned a
  JOIN assigned b ON a.cell = b.cell AND a.rep_id < b.rep_id
  WHERE {sim} >= {EMB_NEAR_DUP_T}
  UNION ALL
  SELECT s.cell, s.rep_id, s.rep_id, {selfsim},
         CAST(s.n_copies * (s.n_copies - 1) // 2 AS BIGINT)
  FROM assigned s
  WHERE s.n_copies > 1 AND {selfsim} >= {EMB_NEAR_DUP_T}
)
ORDER BY id_a, id_b
"""


SQL_EMBEDDING_NEAR_DUP_IVF = _sql_embedding_near_dup_ivf()


def q_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN variant: deterministic coarse centroids, nprobe cell pruning,
    exact cosine inside probed cells. The probe choice is deterministic
    given the fixed codebook and the cell assignment follows the
    quantized-argmax contract (round(sim, 6) then first-max), so — like the
    LSH variant — it HAS an exact DuckDB oracle that replays centroid
    argmax + nprobe pruning + cosine scoring. Recall vs brute force is
    additionally asserted in tests."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    return similarity.cosine_topk_ivf(emb, _QUERY_VEC_ID, k=10)


def _sql_cosine_topk_ivf(
    dim: int = EMB_DIM,
    qid: int = _QUERY_VEC_ID,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
) -> str:
    """DuckDB twin of similarity.cosine_topk_ivf, machine-generated the same
    way as the LSH oracle: unrolled left-assoc multiply-add chains (bit-equal
    to the Spark HOF fold / Python sum), ROW_NUMBER first-max over
    round(sim, 6) for cell assignment, ORDER BY exact sim for the probe
    choice — every tie broken by ascending cid exactly as the operator does.
    """

    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {n_cells}
),
cell_sims AS (
  SELECT e.vec_id, c.cid, {_cos_sql('e.embedding', 'c.cv', dim)} AS sim
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cid AS cell
  FROM (SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY round(sim, 6) DESC, cid ASC) AS rn
        FROM cell_sims)
  WHERE rn = 1
),
q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = {qid}),
probe AS (
  SELECT c.cid
  FROM cent c CROSS JOIN q
  ORDER BY {_cos_sql('c.cv', 'q.e', dim)} DESC, c.cid ASC
  LIMIT {nprobe}
)
SELECT e.vec_id AS vec_id, {_cos_sql('e.embedding', 'q.e', dim)} AS cosine_sim
FROM embeddings e
JOIN assigned a ON e.vec_id = a.vec_id
CROSS JOIN q
WHERE a.cell IN (SELECT cid FROM probe) AND e.vec_id != {qid}
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT {k}
"""


SQL_COSINE_TOPK_IVF = _sql_cosine_topk_ivf()


def q_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN variant: random-hyperplane LSH bucket pruning then exact cosine —
    the 100 TB scale path. Fully deterministic (literal plane weights,
    IEEE-identical sign tests), so unlike most ANN it HAS an exact oracle:
    the SQL replays the same bucket assignment + hamming gate + cosine.
    Recall vs brute force is additionally asserted in tests."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    return similarity.cosine_topk_lsh(emb, _QUERY_VEC_ID, k=10)


def _sql_lsh_bucket(vec: str, dim: int, n_planes: int = 8) -> str:
    """DuckDB LSH bucket of a `dim`-wide embedding column: per plane, the
    unrolled left-assoc multiply-add chain over similarity.plane_weight's
    literal weights, 0.0-seeded. similarity.lsh_buckets takes the same
    sign (exact chain recompute near zero), so the buckets agree
    bit-for-bit."""
    bits = []
    for i in range(n_planes):
        terms = " + ".join(
            f"CAST({vec}[{j + 1}] AS DOUBLE)*CAST({similarity.plane_weight(i, j)!r} AS DOUBLE)"
            for j in range(dim)
        )
        bits.append(f"(CASE WHEN (0.0 + {terms}) > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _sql_cosine_topk_lsh(
    dim: int = EMB_DIM, qid: int = _QUERY_VEC_ID, k: int = 10, max_hamming: int = 2
) -> str:
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_sql_lsh_bucket('embedding', dim)} AS bucket
  FROM embeddings
),
q AS (SELECT embedding AS e, bucket AS qb FROM bucketed WHERE vec_id = {qid})
SELECT vec_id,
       ({_dot_sql('embedding', 'e', dim)})
       / (sqrt({_dot_sql('embedding', 'embedding', dim)}) * sqrt({_dot_sql('e', 'e', dim)})) AS cosine_sim
FROM bucketed, q
WHERE vec_id != {qid}
  AND bit_count(CAST(xor(bucket, qb) AS BIGINT)) <= {max_hamming}
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT {k}
"""


SQL_COSINE_TOPK_LSH = _sql_cosine_topk_lsh()


def q_cosine_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieve-then-rerank (operators/similarity.py
    cosine_topk_rerank): LSH hamming-ball candidates → coarse cosine top-50
    → Arrow-batched soft-sign rerank → top-10. The rerank stand-in is
    left-assoc rational arithmetic, so the whole pipeline — including the
    nonlinear second stage — has an exact DuckDB oracle."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    return similarity.cosine_topk_rerank(emb, _QUERY_VEC_ID, k=10, n_candidates=50)


def _sql_cosine_topk_rerank(
    dim: int = EMB_DIM,
    qid: int = _QUERY_VEC_ID,
    k: int = 10,
    n_cand: int = 50,
    max_hamming: int = 2,
) -> str:
    """DuckDB twin of similarity.cosine_topk_rerank: same bucketed candidate
    set and coarse top-N as the LSH oracle, then the soft-sign interaction
    sum_j t/(1+|t|) with t = c_j*q_j as an unrolled left-assoc chain —
    bit-equal to the pandas_udf's dimension-sequential accumulation."""

    def ss_term(j: int) -> str:
        t = f"(CAST(embedding[{j}] AS DOUBLE) * CAST(e[{j}] AS DOUBLE))"
        return f"({t} / (1.0 + abs({t})))"

    rr = "0.0 + " + " + ".join(ss_term(j) for j in range(1, dim + 1))
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_sql_lsh_bucket('embedding', dim)} AS bucket
  FROM embeddings
),
q AS (SELECT embedding AS e, bucket AS qb FROM bucketed WHERE vec_id = {qid}),
coarse AS (
  SELECT vec_id, embedding, e,
         ({_dot_sql('embedding', 'e', dim)})
         / (sqrt({_dot_sql('embedding', 'embedding', dim)}) * sqrt({_dot_sql('e', 'e', dim)})) AS coarse_sim
  FROM bucketed, q
  WHERE vec_id != {qid}
    AND bit_count(CAST(xor(bucket, qb) AS BIGINT)) <= {max_hamming}
  ORDER BY coarse_sim DESC, vec_id ASC
  LIMIT {n_cand}
)
SELECT vec_id, coarse_sim, ({rr}) AS rerank_score
FROM coarse
ORDER BY rerank_score DESC, vec_id ASC
LIMIT {k}
"""


SQL_COSINE_TOPK_RERANK = _sql_cosine_topk_rerank()


# --------------------------------------------- recall-targeting probe policy
_POLICY_TARGET_RECALL = 0.9
_POLICY_NEIGHBOR_COS = 0.8


def q_ann_probe_policy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible audit for the r11 recall-targeting probe policy
    (similarity.choose_probes): the policy picks (n_planes, max_hamming,
    n_cells, nprobe) from a recall target the way choose_banding picks LSH
    tiers, and this row pins (a) the chosen knobs + the model's expected
    recall/scan fraction as exact x1e6 integers, (b) the MEASURED scanned
    candidate count and fraction as oracled columns, and (c) exact top-k
    equality on the scanned candidate set via two independent Spark
    candidate enumerations (bit_count-XOR gate vs driver-enumerated
    hamming-ball IN list — the recompute and prebucketed production paths).
    The DuckDB oracle replays bucket assignment, the candidate count, and
    the top-k list; `paths_agree` is pinned TRUE, so any divergence between
    the two Spark paths hash-fails the row.

    At every driver SF (20 / 200 / 2000 vectors) the policy floors at
    8 planes, and target 0.9 at neighbor cosine 0.8 gives max_hamming=3
    and — under the r12 v2 DECONTAMINATED ranked-probing IVF model
    (ranked_probe_recall; v1's calibration curves were inflated by
    in-codebook queries, and the r11 binomial-ball bound before it was
    ~8-16x conservative) — 16 cells probed exhaustively (nprobe=16,
    recall exactly 1: the v2 crossing exceeds the tiny tier-0 codebook,
    and probing every cell is brute force). Static, so the oracle
    hard-codes them (the banding-ladder tier-0 idiom). Because the
    driver-SF knob is the degenerate case, the row ALSO pins the model at
    the two measured production rungs — choose_probes(200k) and
    choose_probes(2M) evaluated in-query, so the MODEL code (not just
    this row's constants) hash-fails if it drifts: nprobe 32/512 cells =
    6.25% modeled scan at 200k and 53/4096 = 1.29% at 2M (vs the r11
    ball's 130/512 = 25.4%), modeled recall exactly the 0.9 target at
    both (the v2 law sits ON its decontaminated calibration crossings,
    measured 0.9309 and 0.9141 — SCALE_STUDY_r12 ann_recall)."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    # count the RAW table: Spark serves it from parquet row-group counts;
    # counting the repartitioned frame would pay the exchange for nothing
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    pol = similarity.choose_probes(
        n_vecs, _POLICY_TARGET_RECALL, _POLICY_NEIGHBOR_COS
    )
    pl, h = pol["n_planes"], pol["max_hamming"]
    # production-rung model pins (pure model evaluation — deterministic
    # in the literals, so the oracle can hard-code the outputs)
    pol200k = similarity.choose_probes(
        200_000, _POLICY_TARGET_RECALL, _POLICY_NEIGHBOR_COS
    )
    pol2m = similarity.choose_probes(
        2_000_000, _POLICY_TARGET_RECALL, _POLICY_NEIGHBOR_COS
    )

    # r12 cost shape: ONE full-corpus pass computes the bucket via the
    # Arrow path (similarity.lsh_candidates — the planes × dim expression
    # form crosses the JIT huge-method ceiling at production plane counts
    # and drops the whole stage to interpreted eval) and materializes ONLY
    # the hamming-ball candidates (localCheckpoint of ~scan_frac·n rows,
    # not the corpus). The query row's bucket + vector are inlined as
    # LITERALS so every pass is a map-only codegen scan with no broadcast
    # join (see cosine_query_cols). The two candidate predicates select
    # the same rows BY CONSTRUCTION (bit_count(xor) <= h ⟺ bucket ∈ ball);
    # both forms are kept live over the materialized set so `paths_agree`
    # still cross-checks the recompute and prebucketed production paths.
    qv = similarity.query_vector(emb, _QUERY_VEC_ID)
    bucketed, xor_gate, qb = similarity.lsh_candidates(emb, qv, _QUERY_VEC_ID, pl, h)
    ball = similarity.hamming_ball(qb, pl, h)

    # ball membership as a BROADCAST HASH JOIN, not an IN list: at
    # production plane counts the ball has thousands of ids (4,944 at 15
    # planes / h=5) and a literal IN degenerates to a per-row linear
    # membership scan (~20 s over the 2M corpus measured); the hash join
    # is O(1) per row and is the same lookup a partition-pruned scan does
    # at planning time. Both path predicates are evaluated independently
    # over the materialized candidates, so paths_agree still cross-checks
    # the XOR arithmetic against the driver-enumerated ball.
    ball_df = spark.createDataFrame([(int(b),) for b in ball], "ball_b int")
    cand = (
        bucketed.withColumn("in_a", xor_gate)
        .join(F.broadcast(ball_df), F.col("__bucket") == F.col("ball_b"), "left")
        .withColumn("in_b", F.col("ball_b").isNotNull())
        .where(F.col("in_a") | F.col("in_b"))
        .select("vec_id", "embedding", "__bucket", "in_a", "in_b")
        .localCheckpoint(eager=True)
    )
    # path A: bit_count-XOR hamming gate (cosine_topk_lsh's form)
    cand_a = cand.where("in_a")
    # path B: driver-enumerated hamming-ball lookup (the prebucketed
    # production path — cosine_topk_lsh_prebucketed's PartitionFilters form)
    cand_b = cand.where("in_b")

    def topk_ids(cand: DataFrame) -> DataFrame:
        return similarity.rank_by_cosine(cand, qv, 10).agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (-F.col("cosine_sim")).alias("s"),
                                F.col("vec_id").alias("i"),
                            )
                        )
                    ),
                    lambda x: x["i"].cast("string"),
                ),
                ",",
            ).alias("ids")
        )

    scanned = cand_a.agg(F.count(F.lit(1)).alias("scanned_rows"))
    a = topk_ids(cand_a).select(F.col("ids").alias("__ids_a"))
    b = topk_ids(cand_b).select(F.col("ids").alias("__ids_b"))
    return (
        scanned.crossJoin(F.broadcast(a))
        .crossJoin(F.broadcast(b))
        .select(
            F.lit(n_vecs).cast("long").alias("n_vecs"),
            F.lit(pl).cast("int").alias("n_planes"),
            F.lit(h).cast("int").alias("max_hamming"),
            F.lit(pol["n_cells"]).cast("int").alias("n_cells"),
            F.lit(pol["nprobe"]).cast("int").alias("nprobe"),
            F.lit(pol["ivf_expected_recall_x1e6"])
            .cast("long")
            .alias("ivf_recall_x1e6"),
            F.lit(pol200k["n_cells"]).cast("int").alias("n_cells_200k"),
            F.lit(pol200k["nprobe"]).cast("int").alias("nprobe_200k"),
            F.lit(pol200k["ivf_expected_recall_x1e6"])
            .cast("long")
            .alias("ivf_recall_x1e6_200k"),
            F.lit(pol200k["ivf_expected_scan_frac_x1e6"])
            .cast("long")
            .alias("ivf_scan_frac_x1e6_200k"),
            F.lit(pol2m["n_cells"]).cast("int").alias("n_cells_2m"),
            F.lit(pol2m["nprobe"]).cast("int").alias("nprobe_2m"),
            F.lit(pol2m["ivf_expected_scan_frac_x1e6"])
            .cast("long")
            .alias("ivf_scan_frac_x1e6_2m"),
            F.lit(pol["lsh_expected_recall_x1e6"])
            .cast("long")
            .alias("expected_recall_x1e6"),
            F.lit(pol["lsh_expected_scan_frac_x1e6"])
            .cast("long")
            .alias("expected_scan_frac_x1e6"),
            F.col("scanned_rows").cast("long").alias("scanned_rows"),
            F.expr("CAST(scanned_rows * 1000000 DIV " + str(n_vecs) + " AS BIGINT)").alias(
                "scan_frac_x1e6"
            ),
            F.col("__ids_a").alias("topk_ids"),
            (F.col("__ids_a") == F.col("__ids_b")).alias("paths_agree"),
        )
    )


def _sql_ann_probe_policy_audit(
    dim: int = EMB_DIM, qid: int = _QUERY_VEC_ID, max_hamming: int = 3
) -> str:
    # policy constants for every driver SF (choose_probes floors at 8
    # planes; target 0.9 @ cosine 0.8 -> h=3; the r12 v2 decontaminated
    # ranked-probing IVF leg caps at the 16-cell tier-0 codebook ->
    # nprobe 16, recall 1) and the production-rung model pins
    # (200k -> 32/512, 2M -> 53/4096, modeled recall 900000 x1e6 — the
    # v2 law sits on its calibration crossings): pinned as literals,
    # like the banding ladder's tier-0 oracle
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_sql_lsh_bucket('embedding', dim)} AS bucket
  FROM embeddings
),
q AS (SELECT embedding AS e, bucket AS qb FROM bucketed WHERE vec_id = {qid}),
cand AS (
  SELECT b.vec_id,
         ({_dot_sql('b.embedding', 'e', dim)})
         / (sqrt({_dot_sql('b.embedding', 'b.embedding', dim)}) * sqrt({_dot_sql('e', 'e', dim)})) AS cosine_sim
  FROM bucketed b, q
  WHERE b.vec_id != {qid}
    AND bit_count(CAST(xor(b.bucket, qb) AS BIGINT)) <= {max_hamming}
),
topk AS (SELECT vec_id, cosine_sim FROM cand ORDER BY cosine_sim DESC, vec_id LIMIT 10),
n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
s AS (SELECT COUNT(*) AS scanned_rows FROM cand)
SELECT CAST(n.n_vecs AS BIGINT) AS n_vecs,
       8 AS n_planes,
       {max_hamming} AS max_hamming,
       16 AS n_cells,
       16 AS nprobe,
       CAST(1000000 AS BIGINT) AS ivf_recall_x1e6,
       512 AS n_cells_200k,
       32 AS nprobe_200k,
       CAST(900000 AS BIGINT) AS ivf_recall_x1e6_200k,
       CAST(62500 AS BIGINT) AS ivf_scan_frac_x1e6_200k,
       4096 AS n_cells_2m,
       53 AS nprobe_2m,
       CAST(12939 AS BIGINT) AS ivf_scan_frac_x1e6_2m,
       CAST(939177 AS BIGINT) AS expected_recall_x1e6,
       CAST(363281 AS BIGINT) AS expected_scan_frac_x1e6,
       CAST(s.scanned_rows AS BIGINT) AS scanned_rows,
       CAST(s.scanned_rows * 1000000 // n.n_vecs AS BIGINT) AS scan_frac_x1e6,
       (SELECT string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY cosine_sim DESC, vec_id) FROM topk) AS topk_ids,
       TRUE AS paths_agree
FROM n, s
"""


SQL_ANN_PROBE_POLICY_AUDIT = _sql_ann_probe_policy_audit()


# ------------------------------------------------------------- skew-safe distinct
def q_skewsafe_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via the salted two-phase form
    (operators/skew.py): value-space partitioned so hot keys spread across
    tasks; result is EXACTLY the naive COUNT(DISTINCT) — which is the
    oracle."""
    from seo_audit_etl_actor_spark.operators.skew import salted_count_distinct

    ev = load_table(spark, sf_dir, "events")
    return salted_count_distinct(ev, ["event_type"], "user_id").orderBy("event_type")


SQL_SKEWSAFE_DISTINCT_USERS = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ------------------------------------------------------------- approx distinct
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct (A2's 100 TB variant — SURVEY §2.3 A2).

    The HLL estimate itself is implementation-defined (DuckDB's sketch
    differs from Spark's), so the hashable contract is the EXACT count plus
    a boolean asserting the estimate landed within the configured relative
    error: the oracle emits the same exact count and a literal TRUE. A
    drifting HLL implementation flips `within_bound` and fails the hash.
    Both sides come out of one aggregate over one scan — at 100 TB the
    exact COUNT(DISTINCT) is the expensive half; production callers drop it
    and keep only the estimate (this query is the calibration harness).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
    ).select(
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= F.lit(0.02)
        ).alias("within_bound"),
    )


SQL_APPROX_DISTINCT_USERS = """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events
"""


def q_approx_distinct_users_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION form of A2's 100 TB variant: HLL estimate ONLY.

    `approx_distinct_users` (above) is the CALIBRATION/AUDIT form — it
    carries the exact COUNT(DISTINCT) alongside the sketch so the driver
    can hash-verify the 2% bound, at the price of an exact-distinct
    Expand+double-exchange that would dominate at 100 TB. This form is
    what production ships: one scan, partial HLL sketches merged in a
    single exchange, no Expand, no exact distinct anywhere in the plan
    (asserted by tests/test_plans.py::test_approx_distinct_prod_plan).
    The estimate is implementation-defined (Spark's sketch != DuckDB's),
    so no value-hash oracle is possible — the driver records the weaker
    rows-only check, and the audit form retains the hashed bound.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    ).orderBy("event_type")


# ------------------------------------------------------------- curation funnel
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation funnel (operators/curation.py):
    keep-first exact dedup → language gate → length gate → quality gate,
    reported as per-(source, stage) doc/token counts. One scan, one
    fingerprint shuffle; the oracle SQL replays the identical priority
    CASE over the same md5/marker/quantized-quality expressions."""
    from seo_audit_etl_actor_spark.operators.curation import curation_funnel

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return curation_funnel(docs)


def _sql_curation_funnel() -> str:
    from seo_audit_etl_actor_spark.operators.curation import (
        KEEP_LANGS,
        MIN_QUALITY_Q4,
        MIN_TOKENS,
    )

    langs = ", ".join(f"'{l}'" for l in KEEP_LANGS)
    toks = _TOKS.format(c="text")
    return f"""
WITH enriched AS (
  SELECT source,
         ROW_NUMBER() OVER (PARTITION BY md5({_NORM.format(c='text')})
                            ORDER BY doc_id) AS rn,
         {_sql_lang_pred('text')} AS pred_lang,
         len({toks}) AS n_tokens,
         {_sql_quality_q4('text')} AS q4
  FROM documents
),
staged AS (
  SELECT source, n_tokens,
         CASE WHEN rn > 1 THEN 'duplicate'
              WHEN pred_lang NOT IN ({langs}) THEN 'lang_filter'
              WHEN n_tokens < {MIN_TOKENS} THEN 'too_short'
              WHEN q4 < {MIN_QUALITY_Q4} THEN 'low_quality'
              ELSE 'kept' END AS stage
  FROM enriched
)
SELECT source, stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM staged
GROUP BY source, stage
ORDER BY source, stage
"""


SQL_CURATION_FUNNEL = _sql_curation_funnel()


# ------------------------------------------------- deterministic splits
def q_hash_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: md5(doc_id) mod 100 →
    80/10/10 buckets. Hash-gated (not RNG) so the split is reproducible
    across engines, runs, and repartitioning — the property a training
    pipeline needs for leak-free evaluation sets. Reported per (lang,
    split) with token totals.

    Scale: pure map-side arithmetic on the id (no text hashing), one
    aggregate shuffle of n_langs x 3 rows.
    """
    from seo_audit_etl_actor_spark.operators.text import md5_long, token_count

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    bucket = md5_long(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(
            "lang", split.alias("split"), token_count(F.col("text")).alias("n_tok")
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
        .orderBy("lang", "split")
    )


SQL_HASH_SPLIT_STATS = f"""
WITH assigned AS (
  SELECT lang,
         CASE WHEN {_sql_md5_long("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
              WHEN {_sql_md5_long("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         len({_TOKS.format(c='text')}) AS n_tok
  FROM documents
)
SELECT lang, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens
FROM assigned
GROUP BY lang, split
ORDER BY lang, split
"""


# ------------------------------------------------- stratified hash sample
# per-stratum sampling rates (percent) — the domain-mixing knob of a
# pretraining data recipe: oversample scarce langs, downsample dominant
STRATA_RATES = {"en": 30, "es": 60, "fr": 60, "de": 90, "zh": 90}


def q_stratified_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a doc iff
    md5(doc_id) % 100 < rate(lang). Unlike df.sampleBy (RNG-seeded,
    engine-specific) the hash gate is exactly reproducible anywhere —
    the oracle runs the identical predicate. Reports kept/total per lang.
    """
    from seo_audit_etl_actor_spark.operators.text import md5_long

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    rate = F.lit(10)
    for lang, r in STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    keep = (md5_long(F.col("doc_id").cast("string")) % 100) < rate
    return (
        docs.select("lang", keep.cast("int").alias("kept"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("long").alias("n_sampled"),
        )
        .orderBy("lang")
    )


def _sql_stratified_sample() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {r}" for lang, r in STRATA_RATES.items()
    )
    return f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN {_sql_md5_long("CAST(doc_id AS VARCHAR)")} % 100
                          < (CASE {whens} ELSE 10 END)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents
GROUP BY lang
ORDER BY lang
"""


SQL_STRATIFIED_SAMPLE_STATS = _sql_stratified_sample()


# ------------------------------------------------------------- chunking
CHUNK_TOKENS = 64
CHUNK_OVERLAP = 8


def q_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for a fixed context window: docs split into
    CHUNK_TOKENS-token windows with CHUNK_OVERLAP-token overlap (stride =
    chunk - overlap), the standard pretraining tokenize-and-slice step.
    Chunks are generated map-side with explode(sequence(...)) — no UDF, no
    shuffle until the per-source aggregate; chunk token counts are pure
    integer arithmetic so the oracle matches exactly.

    n_chunks(d) = 1 + ceil(max(0, n_tok - chunk) / stride); the last chunk
    is short (n_tok - start) — per-source totals report both.
    """
    from seo_audit_etl_actor_spark.operators.text import token_count

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    n_tok = token_count(F.col("text"))
    base = docs.select("doc_id", "source", n_tok.alias("n_tok")).where(
        F.col("n_tok") > 0
    )
    n_chunks = 1 + F.ceil(
        F.greatest(F.col("n_tok") - CHUNK_TOKENS, F.lit(0)) / F.lit(stride)
    ).cast("long")
    chunked = base.withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1))
    ).select(
        "source",
        F.least(
            F.lit(CHUNK_TOKENS), F.col("n_tok") - F.col("chunk_idx") * stride
        ).alias("chunk_tok"),
    )
    return (
        chunked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_tok").cast("long").alias("chunk_tokens"),
            F.min("chunk_tok").alias("min_chunk_tok"),
        )
        .orderBy("source")
    )


def _sql_chunk_stats() -> str:
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    return f"""
WITH sized AS (
  SELECT doc_id, source, len({_TOKS.format(c='text')}) AS n_tok
  FROM documents
),
chunked AS (
  SELECT source,
         LEAST({CHUNK_TOKENS}, n_tok - chunk_idx * {stride}) AS chunk_tok
  FROM sized,
       UNNEST(range(0, CAST(1 + CEIL(GREATEST(n_tok - {CHUNK_TOKENS}, 0)
                                     / {stride}.0) AS BIGINT))) AS t(chunk_idx)
  WHERE n_tok > 0
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(chunk_tok) AS BIGINT) AS chunk_tokens,
       CAST(MIN(chunk_tok) AS BIGINT) AS min_chunk_tok
FROM chunked
GROUP BY source
ORDER BY source
"""


SQL_CHUNK_STATS = _sql_chunk_stats()


# ------------------------------------------------------------- packing
CTX_WINDOW = 128


def q_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency per language: one-doc-per-window padding
    waste vs the packed lower bound. naive_windows = Σ ceil(tok/ctx);
    ideal_windows = ceil(Σ tok / ctx); efficiency_pct = quantized integer
    (Σ tok) * 100 / (naive * ctx). All integer math — exact oracle."""
    from seo_audit_etl_actor_spark.operators.text import token_count

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    n_tok = token_count(F.col("text"))
    base = docs.select("lang", n_tok.alias("n_tok")).where(F.col("n_tok") > 0)
    per_doc_windows = F.ceil(F.col("n_tok") / F.lit(CTX_WINDOW)).cast("long")
    return (
        base.groupBy("lang")
        .agg(
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(per_doc_windows).cast("long").alias("naive_windows"),
        )
        .withColumn(
            "ideal_windows",
            F.ceil(F.col("total_tokens") / F.lit(CTX_WINDOW)).cast("long"),
        )
        .withColumn(
            # explicit FLOOR: Spark's double->long cast truncates while
            # DuckDB's CAST rounds — floor in both makes them agree
            "naive_fill_pct",
            F.floor(
                F.col("total_tokens") * 100 / (F.col("naive_windows") * CTX_WINDOW)
            ).cast("long"),
        )
        .orderBy("lang")
    )


SQL_PACKING_STATS = f"""
WITH sized AS (
  SELECT lang, len({_TOKS.format(c='text')}) AS n_tok FROM documents
)
SELECT lang,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(CEIL(n_tok / {CTX_WINDOW}.0) AS BIGINT)) AS BIGINT) AS naive_windows,
       CAST(CEIL(SUM(n_tok) / {CTX_WINDOW}.0) AS BIGINT) AS ideal_windows,
       CAST(FLOOR(SUM(n_tok) * 100 / (SUM(CAST(CEIL(n_tok / {CTX_WINDOW}.0) AS BIGINT)) * {CTX_WINDOW})) AS BIGINT) AS naive_fill_pct
FROM sized
WHERE n_tok > 0
GROUP BY lang
ORDER BY lang
"""

# --------------------------------------------------- TF-IDF top terms

TFIDF_TERM_RE = "[a-z]{2,}"
TFIDF_TOP_K = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide TF-IDF: the top-K most characteristic terms per source.

    The classic text-analysis reduction the reference's per-column scalar
    model cannot express (no reference analogue; engine surface per SURVEY
    §2.11): term frequency per doc, document frequency per term, idf
    weighting, then a per-group top-k.

    Scale shape (100 TB): explode is map-side; tf and df are two shuffles
    keyed on (doc_id, term) and term — both partial-aggregated map-side, so
    the hot stopword keys ship one row per map partition, not one per
    occurrence (the same reason simhash_near_dup needs no salting). The
    doc-count side is a 1-row broadcast; the df join shuffles on term
    (dictionary-sized, far smaller than the corpus). Final top-k is a
    window over source — group-count rows only.

    Oracle parity: idf is quantized to an integer (round(ln*1e6)) BEFORE
    multiplying by tf and summing, so the aggregation is integer math —
    fold-order immune, and a last-ulp ln() difference between JVM and
    libm cannot survive the quantization (memory: oracle-parity-recipes).
    """
    from pyspark.sql import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TFIDF_TERM_RE}', 0)")
        ).alias("term"),
    )
    tf = tok.groupBy("doc_id", "source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df_docs"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    idf_q = F.round(
        F.log(
            (F.col("__n") + F.lit(1)).cast("double")
            / (F.col("df_docs") + F.lit(1)).cast("double")
        )
        * F.lit(1_000_000.0)
    ).cast("long")
    per_source = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("source", "term")
        .agg(
            F.sum(F.col("tf") * idf_q).cast("long").alias("score_q"),
            F.sum("tf").cast("long").alias("term_freq"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score_q").desc(), F.col("term").asc()
    )
    return (
        per_source.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TFIDF_TOP_K)
        .select(
            "source",
            F.col("rnk").cast("int").alias("rnk"),
            "term",
            "term_freq",
            (F.col("score_q") / F.lit(1_000_000.0)).alias("tfidf"),
        )
        .orderBy("source", "rnk")
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH tok AS (
  SELECT doc_id, source,
         unnest(regexp_extract_all(lower(text), '{TFIDF_TERM_RE}')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, source, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2, 3
),
dfr AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_docs FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.source, tf.term, tf.tf,
         CAST(ROUND(ln(CAST(n.n_docs + 1 AS DOUBLE) / CAST(dfr.df_docs + 1 AS DOUBLE)) * 1000000.0) AS BIGINT) AS idf_q
  FROM tf JOIN dfr ON tf.term = dfr.term CROSS JOIN n
),
agg AS (
  SELECT source, term,
         CAST(SUM(tf * idf_q) AS BIGINT) AS score_q,
         CAST(SUM(tf) AS BIGINT) AS term_freq
  FROM scored GROUP BY 1, 2
),
ranked AS (
  SELECT source, term, score_q, term_freq,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY score_q DESC, term) AS rnk
  FROM agg
)
SELECT source, CAST(rnk AS INT) AS rnk, term, term_freq,
       CAST(score_q / 1000000.0 AS DOUBLE) AS tfidf
FROM ranked
WHERE rnk <= {TFIDF_TOP_K}
ORDER BY source, rnk
"""


# ------------------------------------------------- SemDeDup-style dedup
def q_semantic_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup retention report (SemDeDup, Abbas et al. 2023):
    cluster the corpus into IVF cells, call any vector whose cosine to a
    LOWER-id cell-mate exceeds the threshold a semantic duplicate, keep
    the rest. This composes the full-corpus IVF pair generation
    (embedding_near_dup_ivf) into a DEDUP DECISION + per-label retention
    stats — the pair queries report candidate pairs; this reports what a
    curation pass would actually drop.

    Keep-lowest-id against ALL lower-id cell-mates (not just previously
    KEPT ones) slightly over-drops versus the greedy chain — A~B, B~C,
    A!~C drops both B and C where greedy keeps C — but is one join
    instead of an iterative fixpoint, and it is the standard one-pass
    approximation. Documented trade-off, identical in the oracle.

    Scale (r12): the drop decision is computed by
    similarity.semantic_dedup_flags — rep-collapsed (one unit of pair
    work per DISTINCT vector, bit-exact to the copy-level rule; see its
    docstring for the two-leg proof) with the scale-aware codebook
    pinning mean cell membership so rep-pair work stays linear. Per-copy
    flags come back through one broadcast join on the embedding key; the
    only shuffles over the full corpus are the rep groupBy and the label
    aggregation. The 2M-row 1000×-replica bench corpus (whose copy-level
    pair set is ~10⁹ rows) runs in seconds with byte-identical output.
    """
    # RAW frame: the flags operator's full-corpus passes are a map-side-
    # combining rep groupBy and a broadcast-join scan — ensure_parallelism's
    # round-robin exchange would add a 600 MB shuffle to reach the same
    # aggregates
    emb = load_table(spark, sf_dir, "embeddings")
    flagged = similarity.semantic_dedup_flags(emb, threshold=EMB_NEAR_DUP_T)
    return (
        flagged.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("is_dropped").cast("long")).alias("n_dropped"),
        )
        .withColumn("n_kept", F.col("n_vecs") - F.col("n_dropped"))
        .orderBy("label")
    )


def _sql_semantic_dedup_stats(dim: int = EMB_DIM, n_cells: int = 16) -> str:
    sim = _cos_sql("a.embedding", "b.embedding", dim)
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {n_cells}
),
cell_sims AS (
  SELECT e.vec_id, c.cid, {_cos_sql('e.embedding', 'c.cv', dim)} AS sim
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cid AS cell
  FROM (SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY round(sim, 6) DESC, cid ASC) AS rn
        FROM cell_sims)
  WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT ab.vec_id
  FROM assigned aa
  JOIN assigned ab ON aa.cell = ab.cell AND aa.vec_id < ab.vec_id
  JOIN embeddings a ON a.vec_id = aa.vec_id
  JOIN embeddings b ON b.vec_id = ab.vec_id
  WHERE {sim} >= {EMB_NEAR_DUP_T}
)
SELECT e.label AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_id
GROUP BY e.label
ORDER BY label
"""


SQL_SEMANTIC_DEDUP_STATS = _sql_semantic_dedup_stats()


# -------------------------------------------- Count-Min Sketch audit (r9)


def q_cms_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the Count-Min Sketch (operators/cms.py — the
    point-frequency sketch next to MG/HLL/Bloom/MinHash/SimHash): build a
    deliberately LOSSY sketch (width 16 vs a ~31-token vocabulary, so
    collisions are real and the min-over-rows matters), point-query the
    top-20 exact tokens, and pin the two CMS contracts as flags —
    est ≥ exact (counters only overcount; unconditional) and
    est − exact ≤ ceil(e·N/width) (the ε-bound; probabilistic over the
    hash draw but DETERMINISTIC for the fixed xxhash64 family and this
    corpus — the approx_distinct / heavy-hitters bound-contract
    discipline). The estimate itself is sketch-internal and stays out of
    the row; the oracle recomputes the exact top-20 and pins the flags.

    Scale: one explode-shuffle to build (map-side partial agg caps state
    at depth × width per partition), one broadcast join to probe.
    """
    from seo_audit_etl_actor_spark.operators.cms import (
        CMS_WIDTH,
        build_cms,
        cms_estimate,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token")).persist()
    try:
        cms = build_cms(toks)
        exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        top = exact.orderBy(F.col("n").desc(), F.col("token").asc()).limit(20)
        n_total = toks.count()
        bound = -(-2718282 * n_total // (1_000_000 * CMS_WIDTH))  # ceil(e*N/w)
        est = cms_estimate(cms, top.select("token"))
        return (
            top.join(est, "token")
            .select(
                "token",
                "n",
                (F.col("cms_estimate") >= F.col("n")).cast("long").alias("est_ge_exact"),
                (F.col("cms_estimate") - F.col("n") <= F.lit(bound))
                .cast("long")
                .alias("within_bound"),
            )
            .orderBy(F.col("n").desc(), F.col("token").asc())
        )
    finally:
        toks.unpersist()


SQL_CMS_ERROR_AUDIT = f"""
WITH tok AS (SELECT unnest({_TOKS.format(c='text')}) AS token FROM documents)
SELECT token, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(1 AS BIGINT) AS est_ge_exact,
       CAST(1 AS BIGINT) AS within_bound
FROM tok
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""
