"""Driver-visible audit queries: each upgrades a surface that otherwise
has only local pytest evidence — the chunker, profiler and FFD packer,
the versioned lake and incremental MV, the media decoders, the ZIP
sources, the sink/source round trips, and the bucketing, pruning,
broadcast and pushdown plans — to an externally-oracled catalog row.

Engine extension surface beyond the reference (whose only profiling is
per-row predicates, src/etl.js:183-222). Each query keeps the repo's
exact-arithmetic discipline so DuckDB hash-matches bit-for-bit: chunk
text compares by md5, profiler lengths are integer SUMs (not float
averages), packer invariants are integer flags provable without
re-running FFD oracle-side, money is an exact DECIMAL sum rounded to
cents.

No result is a frame built from a Python list (that plans `Scan
ExistingRDD` over a PythonRDD, and every job over it starts a Python
worker). An audit hands its result back in one of three shapes:

- one-row scalars read on the driver go through
  `session.summary_frame`, an int64 Arrow table;
- a bounded multi-row result that must exist before its temp dir is
  removed is returned as `spark.createDataFrame(agg.toArrow())`;
- an audit that needs no temp dir returns a lazy aggregate, with any
  flag read from the plan attached as `F.lit(flag).cast("long")`.

The first two are JVM LocalRelations. The decode fixtures enter Spark the
same way, through `_blob_frame`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from seo_audit_etl_actor_spark.operators.chunking import chunk_documents
from seo_audit_etl_actor_spark.operators.packing import pack_sequences
from seo_audit_etl_actor_spark.operators.text import token_count
from seo_audit_etl_actor_spark.queries.llm_ext import (
    CHUNK_OVERLAP,
    CHUNK_TOKENS,
    _TOKS,
)
from seo_audit_etl_actor_spark.session import (
    ensure_parallelism,
    load_table,
    summary_frame,
)

# ------------------------------------------------------ chunk extraction


def q_chunk_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunker's actual output text, hashed: (doc_id, chunk_idx,
    n_chunk_tokens, chunk_hash). Geometry is shared with `chunk_stats`
    (same CHUNK_TOKENS/CHUNK_OVERLAP); hashing the text keeps the driver
    payload small while still pinning every produced byte.

    Scale: chunk_documents is map-only (explode + slice + concat_ws in
    whole-stage codegen, zero shuffles); md5 is a native expression. The
    only exchange is the final presentation sort."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    chunks = chunk_documents(docs, CHUNK_TOKENS, CHUNK_OVERLAP)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_idx")


def _sql_chunk_text_extraction() -> str:
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    toks = _TOKS.format(c="text")
    return f"""
WITH sized AS (
  SELECT doc_id, {toks} AS toks, len({toks}) AS n
  FROM documents
  WHERE len({toks}) > 0
),
chunked AS (
  SELECT doc_id,
         chunk_idx,
         LEAST({CHUNK_TOKENS}, n - chunk_idx * {stride}) AS n_chunk_tokens,
         array_to_string(
           list_slice(toks,
                      chunk_idx * {stride} + 1,
                      chunk_idx * {stride} + LEAST({CHUNK_TOKENS}, n - chunk_idx * {stride})),
           ' ') AS chunk_text
  FROM sized,
       UNNEST(range(0, CAST(1 + CEIL(GREATEST(n - {CHUNK_TOKENS}, 0)
                                     / {stride}.0) AS BIGINT))) AS t(chunk_idx)
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(n_chunk_tokens AS BIGINT) AS n_chunk_tokens,
       md5(chunk_text) AS chunk_hash
FROM chunked
ORDER BY doc_id, chunk_idx
"""


SQL_CHUNK_TEXT_EXTRACTION = _sql_chunk_text_extraction()

# ------------------------------------------------------- table profiler

_PROFILE_COLS: list[tuple[str, str]] = [
    # (column, string-representation SQL over a documents row) — identical
    # text in Spark and DuckDB, so reprs agree byte-for-byte.
    ("doc_id", "CAST(doc_id AS STRING)"),
    ("lang", "lang"),
    ("n_chars", "CAST(n_chars AS STRING)"),
    ("source", "source"),
    ("text", "text"),
]


def q_table_profile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-stats audit twin of `operators/profiling.profile_table`
    (the audit/prod split of approx_distinct_users): per column of
    `documents` — row count, null count, EXACT distinct count, min/max
    string representation, and total representation length.

    One scan: the table unpivots via `stack` (map-side, no Expand), then
    a single groupBy on the column name computes every stat. Exact
    distinct here costs a per-(column,value) partial dedup — acceptable
    for an audit; the production profiler keeps the one-row HLL pass."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    n = len(_PROFILE_COLS)
    stack_args = ", ".join(f"'{name}', {repr_sql}" for name, repr_sql in _PROFILE_COLS)
    stacked = docs.select(
        F.expr(f"stack({n}, {stack_args}) AS (col_name, value)")
    )
    return (
        stacked.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_nulls"),
            F.countDistinct("value").alias("n_distinct"),
            F.min("value").alias("min_repr"),
            F.max("value").alias("max_repr"),
            F.coalesce(F.sum(F.length("value")), F.lit(0))
            .cast("long")
            .alias("sum_len"),
        )
        .orderBy("col_name")
    )


def _sql_table_profile_audit() -> str:
    legs = []
    for name, repr_sql in _PROFILE_COLS:
        rep = repr_sql.replace("AS STRING", "AS VARCHAR")
        legs.append(
            f"""
SELECT '{name}' AS col_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({rep}) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {rep}) AS BIGINT) AS n_distinct,
       MIN({rep}) AS min_repr,
       MAX({rep}) AS max_repr,
       CAST(COALESCE(SUM(length({rep})), 0) AS BIGINT) AS sum_len
FROM documents"""
        )
    return " UNION ALL ".join(legs) + " ORDER BY col_name"


SQL_TABLE_PROFILE_AUDIT = _sql_table_profile_audit()

# ------------------------------------------------------- packer invariants

PACK_MAX_TOKENS = 512


def q_ffd_packing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-checkable invariants of `pack_sequences` over the documents
    corpus, as a one-row summary the oracle can predict WITHOUT running
    FFD: the assignment itself is not SQL-expressible, but its contract
    is — every doc packed exactly once, no multi-doc sequence over
    capacity, reported seq_fill consistent with the actual per-sequence
    sum, and the sequence count inside its provable bounds
    (ceil(sum(min(n_tok, max))/max) <= n_seqs <= n_docs; the capped
    numerator keeps the pigeonhole bound valid for single-doc overflow
    sequences).

    Scale: pack_sequences is hash-bucketed applyInPandas with per-bucket
    bounded state (operators/packing.py); the audit adds one seq_id
    shuffle and a scalar aggregate."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sized = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    ).where(F.col("n_tokens") > 0)
    packed = pack_sequences(sized, PACK_MAX_TOKENS)
    per_seq = packed.groupBy("seq_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.count(F.lit(1)).alias("n_in_seq"),
        F.countDistinct("doc_id").alias("n_distinct_docs"),
        F.min("seq_fill").alias("rep_min"),
        F.max("seq_fill").alias("rep_max"),
    )
    m = F.lit(PACK_MAX_TOKENS)
    summary = per_seq.agg(
        F.sum("n_in_seq").cast("long").alias("n_docs"),
        F.sum("fill").cast("long").alias("total_tokens"),
        # duplicates would make n_in_seq > n_distinct_docs somewhere, and a
        # doc packed into two sequences would make n_docs exceed the
        # oracle's corpus count (caught by the n_docs value itself).
        F.min(
            (F.col("n_in_seq") == F.col("n_distinct_docs")).cast("long")
        ).alias("exact_once"),
        F.min(
            ((F.col("fill") <= m) | (F.col("n_in_seq") == 1)).cast("long")
        ).alias("capacity_ok"),
        F.min(
            ((F.col("rep_min") == F.col("fill")) & (F.col("rep_max") == F.col("fill"))).cast("long")
        ).alias("fill_reported_ok"),
        F.count(F.lit(1)).alias("__n_seqs"),
        F.sum(F.least(F.col("fill"), m)).alias("__capped"),
    )
    return summary.select(
        "n_docs",
        "total_tokens",
        "exact_once",
        "capacity_ok",
        "fill_reported_ok",
        (F.col("__n_seqs") >= F.ceil(F.col("__capped") / m))
        .cast("long")
        .alias("seqs_lower_ok"),
        (F.col("__n_seqs") <= F.col("n_docs")).cast("long").alias("seqs_upper_ok"),
    )


def _sql_ffd_packing_audit() -> str:
    toks = _TOKS.format(c="text")
    return f"""
WITH sized AS (
  SELECT doc_id, len({toks}) AS n_tokens
  FROM documents
  WHERE len({toks}) > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(1 AS BIGINT) AS exact_once,
       CAST(1 AS BIGINT) AS capacity_ok,
       CAST(1 AS BIGINT) AS fill_reported_ok,
       CAST(1 AS BIGINT) AS seqs_lower_ok,
       CAST(1 AS BIGINT) AS seqs_upper_ok
FROM sized
"""


SQL_FFD_PACKING_AUDIT = _sql_ffd_packing_audit()

# ------------------------------------------------- lake / MV merge audit

# Exact-integer measures (merge ≡ recompute holds bit-for-bit; see
# operators/mv.py). The CASE/literal measure deliberately exercises the
# r5 _prefix_expr fix ('F' must stay an unqualified string literal).
MV_MEASURES = {
    "sum_cust": "CAST(o_custkey AS BIGINT)",
    "n_f_status": "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END",
}
_MV_ADD_OFFSET = 100_000_000  # synthetic keys far above any real o_orderkey


def q_mv_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible oracle for the versioned-lake + incremental-MV
    surface (VERDICT r5 task 3): publish orders as lake v1, publish a
    DETERMINISTIC mutation as v2 (keys %7==0 removed, %7==1 moved to a
    synthetic priority group, %7==3 cloned under offset keys), read the
    CDC diff between the versions, apply it to the v1 grouped view with
    `apply_cdc_to_view`, and emit a one-row summary: the CDC class
    counts, the MERGED view's own aggregates, and a merge≡recompute
    equality flag. The oracle predicts every value from the mutation
    rules alone — if snapshot publish, time travel, the diff classifier,
    or the delta merge drifted, some BIGINT here moves.

    The result is computed eagerly, in one `.first()` over the cross join
    of three one-row aggregates (CDC class counts, the merged view's sums,
    the merge-vs-recompute mismatch count), so the temp lake can be
    removed before returning — the returned frame is a `summary_frame`
    with no disk dependency.

    Scale: publish is two parquet writes; the diff is ONE full-outer
    shuffle on the key; the view delta touches only changed rows
    (operators/mv.py) — the 100 TB shape, exercised here end-to-end."""
    import shutil
    import tempfile

    from seo_audit_etl_actor_spark.operators import lake_maintenance as lm
    from seo_audit_etl_actor_spark.operators.mv import apply_cdc_to_view, grouped_sum_view

    # Publish only the columns the audit consumes (guide §2.3/§6 — the
    # oracle's v2 CTE projects exactly this set): the snapshot writes, the
    # time-travel reads, and the CDC full-outer's value structs all shrink
    # by the 5 unused columns (o_comment alone is ~half the row bytes).
    # Every declared value is unchanged — between versions only
    # o_orderpriority ever differs for a surviving key, so 'changed' vs
    # 'unchanged' classification over the 4-column struct is identical to
    # the full-row struct, and the view reads nothing else.
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey", "o_orderstatus"
    )
    lake_dir = tempfile.mkdtemp(prefix="spark_graft_mv_audit_")
    try:
        lm.publish_version(orders, lake_dir)
        key7 = F.col("o_orderkey") % 7
        v2 = (
            orders.where(key7 != 0)
            .withColumn(
                "o_orderpriority",
                F.when(key7 == 1, F.lit("9-SYNTH")).otherwise(F.col("o_orderpriority")),
            )
            .unionByName(
                orders.where(key7 == 3).withColumn(
                    "o_orderkey", F.col("o_orderkey") + F.lit(_MV_ADD_OFFSET)
                )
            )
        )
        lm.publish_version(v2, lake_dir)
        cdc = lm.diff_versions(
            spark, lake_dir, 1, 2, keys=["o_orderkey"], include_values=True
        )
        view_v1 = grouped_sum_view(
            lm.read_lake(spark, lake_dir, 1), "o_orderpriority", MV_MEASURES
        )
        merged = apply_cdc_to_view(view_v1, cdc, "o_orderpriority", MV_MEASURES)
        recomputed = grouped_sum_view(
            lm.read_lake(spark, lake_dir, 2), "o_orderpriority", MV_MEASURES
        )
        classes = cdc.agg(
            *(
                F.count(F.when(F.col("change") == c, 1)).alias(f"n_{c}")
                for c in ("added", "removed", "changed", "unchanged")
            )
        )
        view = merged.agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n_rows").alias("view_rows"),
            F.sum("sum_cust").alias("view_sum_cust"),
            F.sum("n_f_status").alias("view_n_f_status"),
        )
        eq = merged.alias("m").join(recomputed.alias("r"), "o_orderpriority", "full_outer")
        same = F.lit(True)
        for c in ["n_rows", *MV_MEASURES]:
            same = same & F.col(f"m.{c}").eqNullSafe(F.col(f"r.{c}"))
        mismatch = eq.agg(F.count(F.when(~same, 1)).alias("n_mismatch"))
        row = classes.crossJoin(view).crossJoin(mismatch).first().asDict()
        row["merge_equals_recompute"] = row.pop("n_mismatch") == 0
        return summary_frame(spark, row)
    finally:
        shutil.rmtree(lake_dir, ignore_errors=True)


SQL_MV_MERGE_AUDIT = f"""
WITH v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 1 THEN '9-SYNTH' ELSE o_orderpriority END AS o_orderpriority,
         o_custkey, o_orderstatus
  FROM orders WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT o_orderkey + {_MV_ADD_OFFSET}, o_orderpriority, o_custkey, o_orderstatus
  FROM orders WHERE o_orderkey % 7 = 3
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 7 = 3) AS n_added,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 7 = 0) AS n_removed,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 7 = 1) AS n_changed,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 7 NOT IN (0, 1)) AS n_unchanged,
       (SELECT CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM v2) AS n_groups,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM v2) AS view_rows,
       (SELECT CAST(SUM(o_custkey) AS BIGINT) FROM v2) AS view_sum_cust,
       (SELECT CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) FROM v2) AS view_n_f_status,
       CAST(1 AS BIGINT) AS merge_equals_recompute
"""


# ----------------------------------------------- media decode audit (r7)


def _blob_frame(spark: SparkSession, blobs: list[tuple[str, bytes]]) -> DataFrame:
    """`(path string, content binary)` rows — the shape of a `binaryFile`
    scan — handed to Spark as an Arrow table."""
    import pyarrow as pa

    paths, contents = zip(*blobs)
    return spark.createDataFrame(
        pa.table(
            {
                "path": pa.array(paths, pa.string()),
                "content": pa.array(contents, pa.binary()),
            }
        )
    )


def _thumb_audit(spark: SparkSession, blobs: list[tuple[str, bytes]]) -> DataFrame:
    """Decode image `blobs` through the real thumbnail path and summarize
    them in one row: `n_blobs`, `n_real` (real decodes), `thumb_checksum`
    = sum over real decodes of weight * sum(thumb), and `dims_checksum` =
    sum over ALL blobs of weight * (width*1000 + height). A blob's weight
    is the number its path starts with."""
    from seo_audit_etl_actor_spark.multimodal import binary_ops as B

    thumbs = B.decode_image_thumbs(_blob_frame(spark, blobs))
    weight = F.regexp_extract("path", r"^(\d+)_", 1).cast("long")
    return thumbs.agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.sum(F.col("real_decode").cast("long")).alias("n_real"),
        F.sum(
            F.when(
                F.col("real_decode"),
                weight * F.aggregate("thumb", F.lit(0).cast("long"), lambda a, x: a + x),
            ).otherwise(F.lit(0))
        ).alias("thumb_checksum"),
        F.sum(weight * (F.col("width").cast("long") * 1000 + F.col("height"))).alias(
            "dims_checksum"
        ),
    )


def q_media_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible oracle for the multimodal decode surface (VERDICT
    r6 task 1): build a deterministic in-query fixture corpus with the
    spec-side encoders (`multimodal/fixtures.py`), decode it through the
    REAL Spark path (binary rows -> mapInPandas decoders in
    `multimodal/binary_ops.py`), and emit a one-row BIGINT summary whose
    every value the DuckDB oracle states as a spec-predicted constant.
    If any decoder drifts — PNG unfiltering, palette lookup, 16-bit
    reduction, Adam7 reassembly, JPEG Huffman/IDCT, BT.601 luma, WAV
    PCM math, the MP4 box walk — some integer here moves and the driver
    hash-mismatches.

    Image fixtures (id = weight in the checksum; thumb is the exact
    8x8 integer area-mean from `_area_mean_thumb`, so each thumb sum is
    derivable by hand):

      1 bmp_flat   16x16 BGR(100,150,200): luma=(200*299+150*587+100*114)
                   //1000 = 159 -> thumb sum 64*159      = 10176
      2 pgm_grad   8x8 pixel=y*8+x: thumb = pixels       ->  2016
      3 ppm_flat   4x4 RGB(10,20,30): luma=18            ->  64*18 = 1152
      4 png_g8     8x8 gray8 pixel=(y*8+x)*2             ->  4032
      5 png_pal4   8x8 palette(4-bit) all idx 3, PLTE[3]=(60,120,180):
                   luma=108                              ->  64*108 = 6912
      6 png_16b    8x8 gray16 value 0xAB12 -> high byte 171 -> 10944
      7 png_adam7  8x8 gray8 Adam7 pixel=(y+x)*4         ->  1792
      8 jpeg_flat  16x16 baseline flat 77 (q=1: DC-only, exact) -> 4928
      9 png_trunc  fixture 4 minus its last 30 bytes: structurally
                   corrupt -> real_decode=false, excluded from checksum
     10 jpeg_prog  16x16 PROGRESSIVE (SOF2, r7): four flat 8x8 quadrants
                   40/80/120/200 — DC-only spectrum so q=1 reconstruction
                   is exact; thumb = 4x4 cells per quadrant
                   -> 16*(40+80+120+200) = 7040

      thumb_checksum = sum(id * thumb_sum over real decodes)
                     = 1*10176 + 2*2016 + 3*1152 + 4*4032 + 5*6912
                       + 6*10944 + 7*1792 + 8*4928 + 10*7040 = 256384

    Audio fixture: 16-bit PCM WAV, 8000 Hz mono, 8000 samples
    alternating +1000/-1000: rms_q = isqrt(8000*1000^2 // 8000) = 1000,
    zero_crossings = 7999, duration = 1000 ms.

    Video fixture: ISO-BMFF with mvhd v1 + largesize moov (the 64-bit
    layouts), timescale 90000, duration 315000 -> 3500 ms, two traks
    (avc1 640x360 video + mp4a audio).

    Scale: the fixtures are a 12-blob (10 images + WAV + MP4) local
    relation by construction —
    the exercised path (binaryFile-shaped rows -> Arrow-batched
    mapInPandas -> fixed-width typed columns) is exactly the 100 TB
    plan of decode_image_thumbs/decode_audio_meta/decode_video_meta.
    """
    import numpy as np

    from seo_audit_etl_actor_spark.multimodal import binary_ops as B
    from seo_audit_etl_actor_spark.multimodal import fixtures as FX

    grad8 = np.add.outer(np.arange(8) * 8, np.arange(8))  # y*8+x
    quad = np.zeros((16, 16), dtype=np.uint8)  # four flat 8x8 quadrants
    quad[:8, :8], quad[:8, 8:], quad[8:, :8], quad[8:, 8:] = 40, 80, 120, 200
    png_g8 = FX.encode_png((grad8 * 2)[:, :, None], color_type=0)
    palette = bytes(v for i in range(4) for v in (i * 20, i * 40, i * 60))
    if palette[9:12] != bytes((60, 120, 180)):  # PLTE[3] backs the 6912 oracle
        # explicit raise, not assert: must survive `python -O`
        raise ValueError("media_decode_audit fixture drift: PLTE[3] != (60,120,180)")
    images = [
        ("1_bmp_flat.bmp", FX.encode_bmp24(16, 16, [bytes([100, 150, 200]) * 16] * 16)),
        ("2_pgm_grad.pgm", FX.encode_pgm(8, 8, grad8.astype(np.uint8).tobytes())),
        ("3_ppm_flat.ppm", FX.encode_ppm(4, 4, bytes([10, 20, 30]) * 16)),
        ("4_png_g8.png", png_g8),
        (
            "5_png_pal4.png",
            FX.encode_png(
                np.full((8, 8, 1), 3), color_type=3, bit_depth=4, palette=palette
            ),
        ),
        ("6_png_16b.png", FX.encode_png(np.full((8, 8, 1), 0xAB12), color_type=0, bit_depth=16)),
        (
            "7_png_adam7.png",
            FX.encode_png(
                (np.add.outer(np.arange(8), np.arange(8)) * 4)[:, :, None],
                color_type=0,
                interlace=1,
            ),
        ),
        ("8_jpeg_flat.jpg", FX.encode_jpeg(np.full((16, 16), 77, dtype=np.uint8))[0]),
        ("9_png_trunc.png", png_g8[:-30]),
        ("10_jpeg_prog.jpg", FX.encode_jpeg_progressive(quad)[0]),
    ]
    img = _thumb_audit(spark, images).first()

    samples = np.where(np.arange(8000) % 2 == 0, 1000, -1000).astype("<i2")
    wav_df = _blob_frame(spark, [("a.wav", FX.encode_wav(8000, 1, samples))])
    wav = B.decode_audio_meta(wav_df).first()

    mp4 = FX.encode_mp4(timescale=90000, duration=315000, mvhd_version=1, largesize_moov=True)
    vid = B.decode_video_meta(_blob_frame(spark, [("v.mp4", mp4)])).first()

    return summary_frame(
        spark,
        {
            "n_images": img["n_blobs"],
            "n_image_real": img["n_real"],
            "thumb_checksum": img["thumb_checksum"],
            "wav_rms_q": wav["rms_q"],
            "wav_zero_crossings": wav["zero_crossings"],
            "wav_duration_ms": wav["duration_ms"],
            "wav_n_samples": wav["n_samples"],
            "wav_real": bool(wav["real_decode"]),
            "mp4_duration_ms": vid["duration_ms"],
            "mp4_n_tracks": vid["n_tracks"],
            "mp4_dims": vid["width"] * 100000 + vid["height"],
            "mp4_real": bool(vid["real_decode"]),
        },
    )


SQL_MEDIA_DECODE_AUDIT = """
SELECT CAST(10 AS BIGINT)     AS n_images,
       CAST(9 AS BIGINT)      AS n_image_real,
       CAST(256384 AS BIGINT) AS thumb_checksum,
       CAST(1000 AS BIGINT)   AS wav_rms_q,
       CAST(7999 AS BIGINT)   AS wav_zero_crossings,
       CAST(1000 AS BIGINT)   AS wav_duration_ms,
       CAST(8000 AS BIGINT)   AS wav_n_samples,
       CAST(1 AS BIGINT)      AS wav_real,
       CAST(3500 AS BIGINT)   AS mp4_duration_ms,
       CAST(2 AS BIGINT)      AS mp4_n_tracks,
       CAST(64000360 AS BIGINT) AS mp4_dims,
       CAST(1 AS BIGINT)      AS mp4_real
"""


# ------------------------------------------------- ZIP source audit (r7)

def q_zip_source_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible oracle for the at-scale ZIP surface (VERDICT r6
    task 5): build a deterministic 4-archive corpus on temp disk covering
    every degrade status the walker emits (reference semantics
    src/etl.js:81-87,102-108,184-213), explode it BOTH ways — the
    binaryFile+mapInPandas path (`sources/zip_distributed.py`) AND the
    Spark 4 `zipentries` DataSource (`sources/zip_datasource.py`) — and
    emit a one-row BIGINT summary plus a paths-agree flag. Every constant
    is stated by the oracle from the corpus construction:

      a.zip  k1.csv = b'a'*100 (ok), k2.csv = b'b'*50 (ok),
             nested.zip -> inner/x.csv = b'c'*30, y.txt = b'd'*20
             (both ok, is_nested)
      b.zip  only.csv = b'e'*10 (ok); bad.zip = b'PK\\x03\\x04'+b'f'*36
             (claims to be an archive, isn't -> nested_unreadable,
             raw 40 bytes surfaced)
      c.zip  b'g'*25, no PK magic -> not_a_zip (payload kept for debug)
      d.zip  good.csv = b'h'*15 (ok, STORED); bad.csv stored member with
             one payload byte flipped post-write -> CRC mismatch ->
             entry_unreadable (content/size null)

      rows 9; ok 6; nested 2; not_a_zip 1; nested_unreadable 1;
      entry_unreadable 1;
      sum_entry_size = 100+50+30+20+10+40+25+15        = 290
      byte_sum (sum of all content bytes)
        = 97*100 + 98*50 + 99*30 + 100*20 + 101*10
          + (80+75+3+4 + 102*36) + 103*25 + 104*15     = 28549

    Scale: both exercised paths are the 100 TB plan — map-only entry
    expansion with per-file degradation (one poison blob can't kill the
    job), one task per archive in the DataSource form.
    """
    import shutil
    import tempfile
    import zipfile
    from collections import Counter

    from seo_audit_etl_actor_spark.sources.zip_datasource import register_zip_datasource
    from seo_audit_etl_actor_spark.sources.zip_distributed import explode_zip_entries

    def _zinfo(name: str) -> zipfile.ZipInfo:
        return zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))

    def _make_zip(entries: list[tuple[str, bytes]]) -> bytes:
        import io

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
            for name, data in entries:
                zf.writestr(_zinfo(name), data)
        return buf.getvalue()

    inner = _make_zip([("inner/x.csv", b"c" * 30), ("y.txt", b"d" * 20)])
    corrupt_payload = b"CORRUPT-MEMBER!"  # 15 bytes, stored uncompressed
    d_blob = bytearray(
        _make_zip([("good.csv", b"h" * 15), ("bad.csv", corrupt_payload)])
    )
    at = d_blob.index(corrupt_payload)
    d_blob[at] ^= 0xFF  # flip one stored byte -> CRC mismatch on read
    corpus = {
        "a.zip": _make_zip(
            [("k1.csv", b"a" * 100), ("k2.csv", b"b" * 50), ("nested.zip", inner)]
        ),
        "b.zip": _make_zip(
            [("only.csv", b"e" * 10), ("bad.zip", b"PK\x03\x04" + b"f" * 36)]
        ),
        "c.zip": b"g" * 25,
        "d.zip": bytes(d_blob),
    }
    tmp = tempfile.mkdtemp(prefix="spark_graft_zip_audit_")
    try:
        import os

        for name, blob in corpus.items():
            with open(os.path.join(tmp, name), "wb") as fh:
                fh.write(blob)

        register_zip_datasource(spark)
        via_ds = spark.read.format("zipentries").load(tmp)
        via_map = explode_zip_entries(
            spark.read.format("binaryFile").load(tmp).selectExpr(
                "path", "content"
            )
        )

        base = F.element_at(F.split("zip_path", "/"), -1).alias("zip")
        # entry_name is NULL for not_a_zip rows; NULL equi-join keys never
        # match, so coalesce to a sentinel for the comparison join only
        ekey = F.coalesce("entry_name", F.lit("<none>")).alias("ekey")
        key = ["zip", "ekey"]
        a = via_ds.select(base, ekey, "entry_name", "is_nested", "entry_size", "content", "status")
        b = via_map.select(base, ekey, "entry_name", "is_nested", "entry_size", "content", "status")
        joined = a.alias("a").join(b.alias("b"), key, "full_outer")
        same = F.lit(True)
        for c in ("entry_name", "is_nested", "entry_size", "content", "status"):
            same = same & F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        n_diff = joined.where(~same).count()

        rows = a.collect()
        n_status = Counter(r["status"] for r in rows)
        return summary_frame(
            spark,
            {
                "n_rows": len(rows),
                "n_ok": n_status["ok"],
                "n_nested": sum(1 for r in rows if r["is_nested"]),
                "n_not_a_zip": n_status["not_a_zip"],
                "n_nested_unreadable": n_status["nested_unreadable"],
                "n_entry_unreadable": n_status["entry_unreadable"],
                "sum_entry_size": sum(r["entry_size"] or 0 for r in rows),
                "byte_sum": sum(sum(r["content"] or b"") for r in rows),
                "ds_equals_mapinpandas": n_diff == 0,
            },
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


SQL_ZIP_SOURCE_AUDIT = """
SELECT CAST(9 AS BIGINT)     AS n_rows,
       CAST(6 AS BIGINT)     AS n_ok,
       CAST(2 AS BIGINT)     AS n_nested,
       CAST(1 AS BIGINT)     AS n_not_a_zip,
       CAST(1 AS BIGINT)     AS n_nested_unreadable,
       CAST(1 AS BIGINT)     AS n_entry_unreadable,
       CAST(290 AS BIGINT)   AS sum_entry_size,
       CAST(28549 AS BIGINT) AS byte_sum,
       CAST(1 AS BIGINT)     AS ds_equals_mapinpandas
"""


# ------------------------------------ lossless JPEG decode audit (r8)


def q_lossless_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracle row for the round-8 lossless JPEG decoder (SOF3,
    T.81 Annex H — the lossless path of multimodal/jpeg.py): a
    6-blob fixture corpus built in-query from the spec-side encoder
    (multimodal/fixtures.encode_jpeg_lossless), decoded through the real
    Spark path (binaryFile-shaped rows -> Arrow-batched mapInPandas),
    summarized to one row of hand-derived BIGINTs. Same discipline as
    q_media_decode_audit: every constant in the oracle is derived in
    this docstring, independent of the decoder.

    Blobs (weight = leading digit of the path; THUMB_SIDE = 8, so an
    8x8 image's thumb is the identity):
      1_ll_flat.jpg   8x8 flat 77, psv=1      -> thumb sum 77*64 = 4928
      2_ll_grad.jpg   8x8 of 4*(y+x), psv=4   -> sum 4*(28*8+28*8) = 1792
      3_ll_pt.jpg     8x8 flat 77, Pt=2       -> (77>>2)<<2 = 76; 76*64 = 4864
      4_ll_16bit.jpg  8x8 flat 0xAB12, P=16, psv=7 -> high byte 171; 171*64 = 10944
      5_ll_color.jpg  16x16 flat 100, chroma (90,160), Y at (2,2), psv=5
                      -> 8x8 thumb of flat 100 -> 6400
      6_ll_dri.jpg    blob 1 with a DRI segment spliced before SOF3 —
                      restart intervals are documented OUT of scope, so
                      this must route to the fake (real_decode = false)
    thumb_checksum = sum over REAL decodes of weight * sum(thumb)
                   = 1*4928 + 2*1792 + 3*4864 + 4*10944 + 5*6400 = 98880
    n_real = 5 of 6.
    dims_checksum = sum over ALL blobs of weight*(width*1000 + height)
    — header dimension sniffing is real even on the fake path, and SOF3
    frames carry dimensions like any SOFn:
                  = 8008*(1+2+3+4+6) + 16016*5 = 208208.

    Scale: the fixture corpus is local by construction (`_thumb_audit`,
    shared with q_media_decode_audit); the exercised operator is the
    100 TB Arrow-batched decode path itself."""
    import numpy as np

    from seo_audit_etl_actor_spark.multimodal import fixtures as FX

    flat = np.full((8, 8), 77, dtype=np.int64)
    grad = (np.add.outer(np.arange(8), np.arange(8)) * 4).astype(np.int64)
    ll_flat = FX.encode_jpeg_lossless(flat, predictor=1)[0]
    sof = ll_flat.index(b"\xff\xc3")
    blobs = [
        ("1_ll_flat.jpg", ll_flat),
        ("2_ll_grad.jpg", FX.encode_jpeg_lossless(grad, predictor=4)[0]),
        ("3_ll_pt.jpg", FX.encode_jpeg_lossless(flat, predictor=2, pt=2)[0]),
        (
            "4_ll_16bit.jpg",
            FX.encode_jpeg_lossless(
                np.full((8, 8), 0xAB12, dtype=np.int64), predictor=7, precision=16
            )[0],
        ),
        (
            "5_ll_color.jpg",
            FX.encode_jpeg_lossless(
                np.full((16, 16), 100, dtype=np.int64),
                predictor=5,
                chroma=(90, 160),
                sampling=(2, 2),
            )[0],
        ),
        ("6_ll_dri.jpg", ll_flat[:sof] + b"\xff\xdd\x00\x04\x00\x02" + ll_flat[sof:]),
    ]
    return _thumb_audit(spark, blobs)


SQL_LOSSLESS_DECODE_AUDIT = """
SELECT CAST(6 AS BIGINT)      AS n_blobs,
       CAST(5 AS BIGINT)      AS n_real,
       CAST(98880 AS BIGINT)  AS thumb_checksum,
       CAST(208208 AS BIGINT) AS dims_checksum
"""


# --------------------------------- 12-bit DCT JPEG decode audit (r9)


def q_extended_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracle row for the round-9 12-bit DCT decoders (SOF1
    extended sequential + 12-bit SOF2 progressive —
    multimodal/jpeg.py's sequential and progressive DCT paths):
    a 6-blob fixture corpus built in-query from the spec-side encoders
    (multimodal/fixtures.encode_jpeg / encode_jpeg_progressive with
    precision=12), decoded through the real Spark path
    (binaryFile-shaped rows -> Arrow-batched mapInPandas), summarized to
    one row of hand-derived BIGINTs. Only FLAT (DC-only) planes go into
    the checksum: with the all-ones quant table a flat plane's spectrum
    is a single exactly-representable DC coefficient, so the decode is
    bit-exact and every constant below derives by hand — gradients would
    drag float-IDCT rounding into the oracle.

    Blobs (weight = leading digit of the path; THUMB_SIDE = 8, so an
    8x8 image's thumb is the identity; 12-bit output contract is the
    TOP 8 bits, s >> 4):
      1_x12_flat.jpg  8x8 flat 3210, SOF1 P=12   -> 3210>>4 = 200;  thumb sum 200*64 = 12800
      2_x12_color.jpg 16x16 flat 1600, chroma (1600,2400), Y at (2,2),
                      SOF1 P=12                  -> 1600>>4 = 100; 8x8 area-mean
                                                    thumb of flat 100 -> 6400
      3_x12_prog.jpg  8x8 flat 4095, SOF2 P=12   -> 4095>>4 = 255; 255*64 = 16320
      4_x8_sof1.jpg   8x8 flat 90, SOF0 encode patched to SOF1 (P=8 is
                      legal extended sequential) -> 90*64 = 5760
      5_x12_sof0.jpg  blob 1 patched SOF1->SOF0: baseline is 8-bit ONLY
                      (T.81 B.2.2), must route to the fake
      6_x10_sof1.jpg  blob 1 with precision byte patched to 10: SOF1
                      allows 8/12 only, must route to the fake
    thumb_checksum = sum over REAL decodes of weight * sum(thumb)
                   = 1*12800 + 2*6400 + 3*16320 + 4*5760 = 97600
    n_real = 4 of 6.
    dims_checksum = sum over ALL blobs of weight*(width*1000 + height)
    — header dimension sniffing is real even on the fake path (every
    SOFn in C0-CF minus C4/C8/CC carries dimensions):
                  = 8008*(1+3+4+5+6) + 16016*2 = 184184.

    Scale: the fixture corpus is local by construction (`_thumb_audit`,
    shared with q_media_decode_audit); the exercised operator is the
    100 TB Arrow-batched decode path itself."""
    import numpy as np

    from seo_audit_etl_actor_spark.multimodal import fixtures as FX

    x12_flat = FX.encode_jpeg(np.full((8, 8), 3210, dtype=np.int64), precision=12)[0]
    sof1_at = x12_flat.index(b"\xff\xc1")
    ten = bytearray(x12_flat)
    ten[sof1_at + 4] = 10  # precision byte inside SOF1
    blobs = [
        ("1_x12_flat.jpg", x12_flat),
        (
            "2_x12_color.jpg",
            FX.encode_jpeg(
                np.full((16, 16), 1600, dtype=np.int64),
                chroma=(1600, 2400),
                sampling=(2, 2),
                precision=12,
            )[0],
        ),
        (
            "3_x12_prog.jpg",
            FX.encode_jpeg_progressive(
                np.full((8, 8), 4095, dtype=np.int64), precision=12
            )[0],
        ),
        (
            "4_x8_sof1.jpg",
            FX.encode_jpeg(np.full((8, 8), 90, dtype=np.uint8))[0].replace(
                b"\xff\xc0", b"\xff\xc1", 1
            ),
        ),
        ("5_x12_sof0.jpg", x12_flat.replace(b"\xff\xc1", b"\xff\xc0", 1)),
        ("6_x10_sof1.jpg", bytes(ten)),
    ]
    return _thumb_audit(spark, blobs)


SQL_EXTENDED_DECODE_AUDIT = """
SELECT CAST(6 AS BIGINT)      AS n_blobs,
       CAST(4 AS BIGINT)      AS n_real,
       CAST(97600 AS BIGINT)  AS thumb_checksum,
       CAST(184184 AS BIGINT) AS dims_checksum
"""


# ---------------------------- arithmetic JPEG decode audit (r9)


def q_arith_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracle row for the round-9 arithmetic-coded sequential JPEG
    decoder (SOF9 — T.81 Annex D QM-coder + F.1.4.4 statistics model,
    multimodal/jpeg_arith.py): a 5-blob fixture corpus built in-query
    from the spec-side encoder (multimodal/fixtures.encode_jpeg_arith),
    decoded through the real Spark path (binaryFile-shaped rows ->
    Arrow-batched mapInPandas), summarized to one row of hand-derived
    BIGINTs. Flat (DC-only) planes keep every constant derivable by hand
    (all-ones quant table -> a single exactly-representable DC
    coefficient; arithmetic entropy coding is lossless over the
    quantized spectrum by construction).

    Blobs (weight = leading digit; THUMB_SIDE = 8; 12-bit output
    contract = top 8 bits):
      1_ar_flat.jpg   8x8 flat 200, SOF9 P=8     -> thumb sum 200*64 = 12800
      2_ar12_flat.jpg 8x8 flat 3210, SOF9 P=12   -> 3210>>4 = 200; 12800
      3_ar_color.jpg  16x16 flat 90, chroma (100,140), Y at (2,2)
                                                 -> 8x8 thumb of flat 90 -> 5760
      4_ar_dri.jpg    blob 1 with DRI (Ri=2) spliced before SOF9: an
                      8x8 single-MCU stream, so zero RSTn markers fire —
                      since the r12 gate flip the strict T.81 restart
                      decode handles it REAL -> flat 200, thumb 12800
      5_ar10_prec.jpg blob 1 precision byte patched to 10 -> fake
    thumb_checksum = 1*12800 + 2*12800 + 3*5760 + 4*12800 = 106880;
    n_real = 4 of 5.
    dims_checksum = sum of weight*(width*1000 + height) over ALL blobs
    (SOF9 carries dimensions like any SOFn, fake path included):
                  = 8008*(1+2+4+5) + 16016*3 = 144144.

    Scale: the fixture corpus is local by construction (`_thumb_audit`,
    shared with q_media_decode_audit); the exercised operator is the
    100 TB Arrow-batched decode path itself."""
    import numpy as np

    from seo_audit_etl_actor_spark.multimodal import fixtures as FX

    ar_flat = FX.encode_jpeg_arith(np.full((8, 8), 200, dtype=np.uint8))[0]
    sof_at = ar_flat.index(b"\xff\xc9")
    ten = bytearray(ar_flat)
    ten[sof_at + 4] = 10
    blobs = [
        ("1_ar_flat.jpg", ar_flat),
        (
            "2_ar12_flat.jpg",
            FX.encode_jpeg_arith(np.full((8, 8), 3210, dtype=np.int64), precision=12)[0],
        ),
        (
            "3_ar_color.jpg",
            FX.encode_jpeg_arith(
                np.full((16, 16), 90, dtype=np.uint8),
                chroma=(100, 140),
                sampling=(2, 2),
            )[0],
        ),
        ("4_ar_dri.jpg", ar_flat[:sof_at] + b"\xff\xdd\x00\x04\x00\x02" + ar_flat[sof_at:]),
        ("5_ar10_prec.jpg", bytes(ten)),
    ]
    return _thumb_audit(spark, blobs)


SQL_ARITH_DECODE_AUDIT = """
SELECT CAST(5 AS BIGINT)      AS n_blobs,
       CAST(4 AS BIGINT)      AS n_real,
       CAST(106880 AS BIGINT) AS thumb_checksum,
       CAST(144144 AS BIGINT) AS dims_checksum
"""


def q_arith_progressive_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracle row for the round-10 arithmetic-coded PROGRESSIVE
    JPEG decoder (SOF10 — T.81 Annex G.2 scan procedures over the Annex D
    QM coder, jpeg_arith.progressive_scan): same discipline
    as q_arith_decode_audit — a fixture corpus from the spec-side encoder
    (fixtures.encode_jpeg_arith_progressive, 7-scan two-level successive
    approximation script), decoded through the real Spark path, one row
    of hand-derived BIGINTs. Flat planes keep the constants derivable by
    hand: DC-only spectra survive the DC-first + DC-refinement scan pair
    exactly, AC scans code all-zero bands, and the 12-bit output contract
    is the top 8 bits.

    Blobs (weight = leading digit; THUMB_SIDE = 8):
      1_arp_flat.jpg   8x8 flat 200, P=8          -> thumb sum 200*64 = 12800
      2_arp12_flat.jpg 8x8 flat 3216, P=12        -> 3216>>4 = 201 -> 12864
      3_arp_color.jpg  24x16 flat 90, chroma (100,140), sampling (2,2)
                       (interleaved DC scans decode chroma; chroma AC
                       scans are skipped as independent segments)
                                                  -> flat-90 thumb -> 5760
      4_arp_dri.jpg    blob 1 with DRI spliced before SOF10: restart
                       intervals remain out of scope -> fake
      5_arp11_sof.jpg  blob 1's SOF marker patched to 0xCB (SOF11):
                       arithmetic lossless is REAL as of r10, so this
                       routes to the arithmetic lossless path — which
                       rejects the progressive scan script (Ss=0 is not
                       a lossless predictor) -> fake
    thumb_checksum = 1*12800 + 2*12864 + 3*5760 = 55808; n_real = 3 of 5.
    dims_checksum = sum of weight*(width*1000 + height) over ALL blobs
    (any SOFn carries dimensions; fake path header parsing is real):
                  = 8008*(1+2+4+5) + 24016*3 = 168144.

    Scale: the fixture corpus is local by construction (`_thumb_audit`,
    shared with q_media_decode_audit); the exercised operator is the
    100 TB Arrow-batched decode path itself."""
    import numpy as np

    from seo_audit_etl_actor_spark.multimodal import fixtures as FX

    arp_flat = FX.encode_jpeg_arith_progressive(np.full((8, 8), 200, dtype=np.uint8))[0]
    sof_at = arp_flat.index(b"\xff\xca")
    sof11 = bytearray(arp_flat)
    sof11[sof_at + 1] = 0xCB
    blobs = [
        ("1_arp_flat.jpg", arp_flat),
        (
            "2_arp12_flat.jpg",
            FX.encode_jpeg_arith_progressive(
                np.full((8, 8), 3216, dtype=np.int64), precision=12
            )[0],
        ),
        (
            "3_arp_color.jpg",
            FX.encode_jpeg_arith_progressive(
                np.full((16, 24), 90, dtype=np.uint8),
                chroma=(100, 140),
                sampling=(2, 2),
            )[0],
        ),
        (
            "4_arp_dri.jpg",
            arp_flat[:sof_at] + b"\xff\xdd\x00\x04\x00\x02" + arp_flat[sof_at:],
        ),
        ("5_arp11_sof.jpg", bytes(sof11)),
    ]
    return _thumb_audit(spark, blobs)


SQL_ARITH_PROGRESSIVE_DECODE_AUDIT = """
SELECT CAST(5 AS BIGINT)      AS n_blobs,
       CAST(3 AS BIGINT)      AS n_real,
       CAST(55808 AS BIGINT)  AS thumb_checksum,
       CAST(168144 AS BIGINT) AS dims_checksum
"""


# --------------------------- arithmetic lossless JPEG decode audit (r10)


def q_arith_lossless_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracle row for the round-10 arithmetic-coded LOSSLESS JPEG
    decoder (SOF11 — T.81 Annex H.1.2.2's two-dimensional (Da, Db)
    conditioning model over the Annex D QM coder,
    jpeg_arith.lossless_diffs): same discipline as
    q_lossless_decode_audit — a fixture corpus from the spec-side
    encoder (fixtures.encode_jpeg_arith_lossless), decoded through the
    real Spark path, one row of hand-derived BIGINTs. Lossless decode
    makes every constant exact from the input plane alone.

    Blobs (weight = leading digit; THUMB_SIDE = 8, so an 8x8 image's
    thumb is the identity):
      1_al_flat.jpg   8x8 flat 77, psv=1       -> thumb sum 77*64 = 4928
      2_al_grad.jpg   8x8 of 3*(y+x), psv=4    -> sum 3*(28*8+28*8) = 1344
      3_al_pt.jpg     8x8 flat 77, psv=2, Pt=2 -> (77>>2)<<2 = 76; 76*64 = 4864
      4_al_16bit.jpg  8x8 flat 0xAB12, P=16, psv=7 -> high byte 171; 171*64 = 10944
      5_al_color.jpg  24x16 flat 100, chroma (90,160), Y at (2,2),
                      psv=5, DAC conditioning L=1/U=3 (non-default
                      classification thresholds) -> flat-100 thumb -> 6400
      6_al_dri.jpg    blob 1 with a DRI segment spliced before SOF11 —
                      restart intervals in the arithmetic paths stay
                      OUT of scope, so this must fake-route
    thumb_checksum = 1*4928 + 2*1344 + 3*4864 + 4*10944 + 5*6400 = 97984;
    n_real = 5 of 6.
    dims_checksum = sum over ALL blobs of weight*(width*1000 + height)
    (header dimension sniffing is real even on the fake path):
                  = 8008*(1+2+3+4+6) + 24016*5 = 248208.

    Scale: the fixture corpus is local by construction (`_thumb_audit`,
    shared with q_media_decode_audit); the exercised operator is the
    100 TB Arrow-batched decode path itself."""
    import numpy as np

    from seo_audit_etl_actor_spark.multimodal import fixtures as FX

    flat = np.full((8, 8), 77, dtype=np.int64)
    grad = (np.add.outer(np.arange(8), np.arange(8)) * 3).astype(np.int64)
    al_flat = FX.encode_jpeg_arith_lossless(flat, predictor=1)[0]
    sof = al_flat.index(b"\xff\xcb")
    blobs = [
        ("1_al_flat.jpg", al_flat),
        ("2_al_grad.jpg", FX.encode_jpeg_arith_lossless(grad, predictor=4)[0]),
        ("3_al_pt.jpg", FX.encode_jpeg_arith_lossless(flat, predictor=2, pt=2)[0]),
        (
            "4_al_16bit.jpg",
            FX.encode_jpeg_arith_lossless(
                np.full((8, 8), 0xAB12, dtype=np.int64), predictor=7, precision=16
            )[0],
        ),
        (
            "5_al_color.jpg",
            FX.encode_jpeg_arith_lossless(
                np.full((16, 24), 100, dtype=np.int64),
                predictor=5,
                chroma=(90, 160),
                sampling=(2, 2),
                cond=(1, 3),
            )[0],
        ),
        ("6_al_dri.jpg", al_flat[:sof] + b"\xff\xdd\x00\x04\x00\x02" + al_flat[sof:]),
    ]
    return _thumb_audit(spark, blobs)


SQL_ARITH_LOSSLESS_DECODE_AUDIT = """
SELECT CAST(6 AS BIGINT)      AS n_blobs,
       CAST(5 AS BIGINT)      AS n_real,
       CAST(97984 AS BIGINT)  AS thumb_checksum,
       CAST(248208 AS BIGINT) AS dims_checksum
"""


# ------------------------------------ JSONL sink/source round-trip audit


def _roundtrip_by_lang(spark: SparkSession, docs: DataFrame, fmt: str, path: str) -> DataFrame:
    """Write `docs` to `path` with the native `fmt` sink, read it back
    under the ORIGINAL schema (no inference — inference is a separate
    concern and nondeterministic under sampling; CSV with a header),
    full-outer join the round trip against the original on doc_id, and
    aggregate per lang: counts, volumes from the ROUND-TRIPPED side, and
    the only-one-side and field-mismatch tallies the oracles pin at zero."""
    opts = {"header": "true"} if fmt == "csv" else {}
    docs.write.mode("overwrite").format(fmt).options(**opts).save(path)
    rt = spark.read.schema(docs.schema).format(fmt).options(**opts).load(path)

    o, r = docs.alias("o"), rt.alias("r")
    j = o.join(r, "doc_id", "full_outer")
    both = F.col("o.lang").isNotNull() & F.col("r.lang").isNotNull()
    same = F.lit(True)
    for c in ("text", "lang", "source", "n_chars"):
        same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"r.{c}"))
    return j.groupBy(F.coalesce("o.lang", "r.lang").alias("lang")).agg(
        F.sum(F.col("o.doc_id").isNotNull().cast("long")).alias("n_docs"),
        F.sum(F.coalesce(F.col("r.n_chars"), F.lit(0))).alias("sum_chars"),
        F.sum(F.coalesce(F.length("r.text"), F.lit(0))).alias("sum_text_len"),
        F.sum(
            (F.col("o.doc_id").isNotNull() & F.col("r.text").isNull() & ~both).cast("long")
        ).alias("n_only_original"),
        F.sum(F.col("o.lang").isNull().cast("long")).alias("n_only_roundtrip"),
        F.sum((both & ~same).cast("long")).alias("n_field_mismatch"),
    )


def q_jsonl_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source parity audit: round-trip the documents
    table through the native JSON sink and source (`_roundtrip_by_lang`)
    and report per-lang counts, volumes, and mismatch tallies. The volume
    columns (sum_chars, sum_text_len) are computed from the ROUND-TRIPPED
    side, so any silent corruption (escaping, truncation, type mangling)
    surfaces as a value mismatch against the parquet-derived oracle, and
    any row loss/duplication surfaces in the only_* tallies the oracle
    pins at zero.

    Reference parity: the reference emits its result as JSON documents
    (src/main.js:24-33 pushing schema.js documents to the dataset); this
    audit is the engine-side guarantee that a JSONL hop is lossless for
    the documents data model.

    Scale: the sink is a parallel per-partition write, the source a
    splittable parallel scan; the join shuffles on the uniform doc_id.
    The result is ≤ n_langs rows (bounded by construction), collected as
    Arrow before the temp dir is removed in finally.
    """
    import os
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="spark_graft_jsonl_audit_")
    try:
        agg = _roundtrip_by_lang(spark, docs, "json", os.path.join(tmp, "docs_jsonl"))
        return spark.createDataFrame(agg.orderBy("lang").toArrow())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


SQL_JSONL_ROUNDTRIP_AUDIT = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
       CAST(0 AS BIGINT) AS n_only_original,
       CAST(0 AS BIGINT) AS n_only_roundtrip,
       CAST(0 AS BIGINT) AS n_field_mismatch
FROM documents
GROUP BY lang
ORDER BY lang
"""


# ----------------------------- ORC + CSV sink/source round-trip audit


def q_format_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC + CSV sink/source parity audit — the columnar and the
    text-delimited siblings of `jsonl_roundtrip_audit`, one row per
    (format, lang): each format round-trips documents through
    `_roundtrip_by_lang` (CSV with header, explicit schema), and the two
    per-format aggregates are unioned, tagged with their format. A lossy
    hop (CSV quoting/escaping, ORC type mangling, row loss) breaks the
    hash against the parquet-derived oracle.

    Scale: both sinks write per-partition in parallel and both sources
    are splittable scans; the joins shuffle on the uniform doc_id; the
    result is ≤ formats × langs rows, collected as Arrow before the temp
    dir is removed.
    """
    import os
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="spark_graft_fmt_audit_")
    try:
        csv, orc = (
            _roundtrip_by_lang(spark, docs, fmt, os.path.join(tmp, fmt)).select(
                F.lit(fmt).alias("format"), "*"
            )
            for fmt in ("csv", "orc")
        )
        agg = csv.unionByName(orc).orderBy("format", "lang")
        return spark.createDataFrame(agg.toArrow())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


SQL_FORMAT_ROUNDTRIP_AUDIT = """
SELECT f.format, d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(length(d.text)) AS BIGINT) AS sum_text_len,
       CAST(0 AS BIGINT) AS n_only_original,
       CAST(0 AS BIGINT) AS n_only_roundtrip,
       CAST(0 AS BIGINT) AS n_field_mismatch
FROM documents d CROSS JOIN (VALUES ('csv'), ('orc')) AS f(format)
GROUP BY f.format, d.lang
ORDER BY f.format, d.lang
"""


# ------------------------------------ lake maintenance audit (r9)

_LAKE_CLONE_OFFSET = 3_000_000_000  # divisible by 3: clones keep doc_id%3
_LAKE_COMPACT_TARGET = 500


def q_lake_maintenance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible oracle for the lake MAINTENANCE surface that
    mv_merge_audit doesn't reach: multi-version time travel, compaction's
    content-preserving + file-count contract, and vacuum retention.

    Deterministic lake built from documents(lang='en'):
      v1 = the English docs;
      v2 = v1 plus clones of doc_id%5==0 rows under doc_id+3e9 (offset
           divisible by 3, so a clone keeps its original doc_id%3);
      v3 = v2 filtered to doc_id%3 != 0;
      v4 = compact(v3, target_rows=500) — content equal to v3 in exactly
           max(1, ceil(n3/500)) parquet part-files (repartition contract);
      vacuum(keep=2) then removes exactly [v1, v2].
    Every count/checksum below is predicted by the oracle from the
    documents table alone; the two flags assert retained versions still
    read after vacuum and the evicted v1 raises on time travel.

    Scale: publish = one parquet write per version; time travel = pruned
    scans of immutable snapshot dirs; compact repartitions (keeps the
    upstream scan parallel); vacuum is metadata-only. The `.first()` reads
    here are per-version one-row aggregates.
    """
    import glob as _glob
    import os
    import shutil
    import tempfile

    from seo_audit_etl_actor_spark import fixture_cache as fc
    from seo_audit_etl_actor_spark.operators import lake_maintenance as lm

    # the full publish→compact→vacuum lifecycle runs ONCE per (session,
    # corpus): vacuum consumes the fixture it audits, so unlike the other
    # r9-task-6 amortizations the memo here is the RESULT row, not the
    # directory — every session (driver, bench, tests) still exercises
    # the lifecycle end-to-end on first call
    memo_key = ("lake_maintenance_row", fc.table_fingerprint(sf_dir, "documents"))
    hit = fc.peek_value(memo_key)
    if hit is not None:
        return summary_frame(spark, hit)

    docs = load_table(spark, sf_dir, "documents")
    # coalesce(4): the filtered base is a few thousand rows, but it inherits
    # the scan's 32 partitions — every publish would write 32 near-empty
    # part-files and every version read would schedule 32 tasks. At real
    # scale the frame arrives with data-proportional partitioning and this
    # collapse is unnecessary (and compact() is the operator that fixes
    # small-file lakes); the audit sizes its own fixture.
    en = (
        docs.where(F.col("lang") == "en")
        .select("doc_id", "text", "n_chars")
        .coalesce(4)
    )
    lake = tempfile.mkdtemp(prefix="spark_graft_lake_audit_")
    try:
        lm.publish_version(en, lake)
        clones = en.where(F.col("doc_id") % 5 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(_LAKE_CLONE_OFFSET)
        )
        lm.publish_version(en.unionByName(clones), lake)
        v2_df = lm.read_lake(spark, lake, 2)
        lm.publish_version(v2_df.where(F.col("doc_id") % 3 != 0), lake)

        def stats(version: int) -> tuple[int, int]:
            r = (
                lm.read_lake(spark, lake, version)
                .agg(F.count(F.lit(1)), F.sum("n_chars"))
                .first()
            )
            return int(r[0]), int(r[1] or 0)

        n1, _ = stats(1)
        n2, _ = stats(2)
        n3, chars3 = stats(3)

        v4 = lm.compact(spark, lake, target_rows=_LAKE_COMPACT_TARGET)
        n4, chars4 = stats(v4)
        n_files4 = len(
            _glob.glob(os.path.join(lake, f"v{v4:08d}", "*.parquet"))
        )

        removed = lm.vacuum(lake, keep=2)
        retained_ok = 1
        try:
            if stats(3) != (n3, chars3) or stats(v4) != (n4, chars4):
                retained_ok = 0
        except FileNotFoundError:
            retained_ok = 0
        evicted_raises = 0
        try:
            lm.read_lake(spark, lake, 1)
        except FileNotFoundError:
            evicted_raises = 1

        row = {
            "n_v1": n1,
            "n_v2": n2,
            "n_v3": n3,
            "chars_v3": chars3,
            "compact_preserves": (n4, chars4) == (n3, chars3),
            "compact_files": n_files4,
            "n_vacuumed": len(removed),
            "vacuumed_sum": sum(removed),
            "retained_reads_ok": retained_ok,
            "evicted_raises": evicted_raises,
        }
        fc.store_value(memo_key, row)
        return summary_frame(spark, row)
    finally:
        shutil.rmtree(lake, ignore_errors=True)


SQL_LAKE_MAINTENANCE_AUDIT = f"""
WITH en AS (SELECT doc_id, n_chars FROM documents WHERE lang = 'en'),
v3 AS (
  SELECT doc_id, n_chars FROM en WHERE doc_id % 3 != 0
  UNION ALL
  SELECT doc_id + {_LAKE_CLONE_OFFSET}, n_chars FROM en
  WHERE doc_id % 5 = 0 AND doc_id % 3 != 0
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM en) AS n_v1,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM en)
         + (SELECT CAST(COUNT(*) AS BIGINT) FROM en WHERE doc_id % 5 = 0) AS n_v2,
       CAST(COUNT(*) AS BIGINT) AS n_v3,
       CAST(SUM(n_chars) AS BIGINT) AS chars_v3,
       CAST(1 AS BIGINT) AS compact_preserves,
       CAST(GREATEST(1, CEIL(COUNT(*) / {_LAKE_COMPACT_TARGET}.0)) AS BIGINT) AS compact_files,
       CAST(2 AS BIGINT) AS n_vacuumed,
       CAST(3 AS BIGINT) AS vacuumed_sum,
       CAST(1 AS BIGINT) AS retained_reads_ok,
       CAST(1 AS BIGINT) AS evicted_raises
FROM v3
"""


# ------------------------------------ bucketed co-located join audit (r9)


def _sum_cents(c: str) -> Column:
    """A money column's total in cents, as the oracles compute it: the
    exact DECIMAL(18,2) sum as a double, times 100, rounded HALF_UP."""
    total = F.sum(F.col(c).cast("decimal(18,2)")).cast("double")
    return F.round(total * 100, 0).cast("long")


_BUCKET_AUDIT_TABLES: dict[tuple, tuple[str, str]] = {}


def _bucket_audit_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Session-cached bucketed fixture tables for the bucketed-join audit,
    keyed by the two source tables' stat fingerprints and validated
    against the live catalog (a fresh SparkSession in the same process —
    its in-memory catalog lost the entries — rebuilds). Data files live
    under the fixture-cache session root, removed at interpreter exit."""
    import os
    import uuid

    from seo_audit_etl_actor_spark import fixture_cache as fc
    from seo_audit_etl_actor_spark.operators import bucketing

    key = (
        fc.table_fingerprint(sf_dir, "orders"),
        fc.table_fingerprint(sf_dir, "customer"),
    )
    got = _BUCKET_AUDIT_TABLES.get(key)
    if got is not None and all(spark.catalog.tableExists(t) for t in got):
        return got
    tag = uuid.uuid4().hex[:8]
    lt, rt = f"orders_ba_{tag}", f"cust_ba_{tag}"
    wh = os.path.join(fc.session_root(), f"bucket_audit_{tag}")
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "custkey"
    )
    bucketing.write_bucketed(orders, lt, "custkey", 8, os.path.join(wh, lt))
    bucketing.write_bucketed(cust, rt, "custkey", 8, os.path.join(wh, rt))
    _BUCKET_AUDIT_TABLES[key] = (lt, rt)
    return lt, rt


def q_bucketed_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the bucketed-table layout (operators/bucketing.py —
    SURVEY §4.2's amortized big-big join strategy, previously plan-asserted
    in tests only): write orders and customer bucketed+sorted by custkey
    into a session-cached warehouse, join them through the catalog tables, and emit
    per-mktsegment aggregates PLUS the zero-Exchange property as a pinned
    column. The oracle recomputes the aggregates relationally and pins
    shuffle_free = 1 — if Spark ever stopped eliding the Exchanges (spec
    mismatch, catalog regression), the flag flips and the row goes red.

    The plan is inspected under `aqe_off` (the caller's setting restored)
    because AQE wraps the static plan until execution; the aggregate itself
    SHOULD shuffle (one exchange for the groupBy) so the flag is measured
    on the bare join, not the rollup. The flag rides on the lazy aggregate
    as a literal column.

    Scale: bucketing trades ONE write-time shuffle for zero shuffles on
    every subsequent join of the two tables — the 100 TB recurring-join
    answer where broadcast (small side) and AQE (one-shot) don't apply.
    """
    from seo_audit_etl_actor_spark.operators import bucketing
    from seo_audit_etl_actor_spark.plans import audit as plan_audit

    # bucketed fixture tables are session-cached (r9 verdict task 6):
    # each invocation used to rewrite both tables, pay the write-time
    # shuffle, and drop them — the exact opposite of what bucketing is
    # FOR (amortizing one layout across many joins). The plan check and
    # the aggregates still run fresh per call.
    lt, rt = _bucket_audit_tables(spark, sf_dir)

    with plan_audit.aqe_off(spark):
        bare = bucketing.bucketed_join(spark, lt, rt, "custkey")
        shuffle_free = 1 if plan_audit.num_shuffles(bare) == 0 else 0

    return (
        bucketing.bucketed_join(spark, lt, rt, "custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _sum_cents("o_totalprice").alias("price_cents"),
        )
        .withColumn("shuffle_free", F.lit(shuffle_free).cast("long"))
        .orderBy("c_mktsegment")
    )


SQL_BUCKETED_JOIN_AUDIT = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) * 100) AS BIGINT) AS price_cents,
       CAST(1 AS BIGINT) AS shuffle_free
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


# ------------------------------------ partition-pruning audit (r9)


def q_partition_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for plan-time partition pruning (§4.1 — previously
    plan-asserted in tests only): write events PARTITIONED BY event_type
    to a temp layout, filter one partition value, and pin three
    properties alongside the oracled aggregates —
      * the filter appears as a PartitionFilters entry (directory-level
        pruning, applied before any file is listed);
      * it does NOT appear in PushedFilters (a partition column never
        reaches row groups — it isn't stored in the data files);
      * every file the scan actually touched (input_file_name) lives
        under the matching partition directory.
    If pruning regressed to a full scan + post-filter, the first and
    third flags flip and the row goes red. The first two are read from the
    plan and ride on the lazy aggregate as literal columns; the third is
    aggregated over `input_file_name` by the same scan that computes the
    values.

    Scale: partition pruning is THE first-order 100 TB lever — a pruned
    scan lists one directory of a date/type-partitioned lake instead of
    all of it; this row keeps the property regression-checked by the
    driver, not just by local tests.
    """
    from seo_audit_etl_actor_spark import fixture_cache as fc
    from seo_audit_etl_actor_spark.plans import audit as plan_audit

    # the partitioned layout is a pure function of the events table, so
    # it is built once per session (r9 verdict task 6: every invocation
    # used to rewrite it); the AUDIT — plan inspection, file-path check,
    # aggregates — still runs fresh on every call
    tmp = fc.cached_dir(
        ("prune_audit_layout", fc.table_fingerprint(sf_dir, "events")),
        lambda d: load_table(spark, sf_dir, "events")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(d),
    )
    rd = spark.read.parquet(tmp).where(F.col("event_type") == "purchase")

    pf = plan_audit.partition_filters(rd)
    pushed = plan_audit.pushed_filters(rd)
    has_partition_filter = 1 if any("purchase" in f for f in pf) else 0
    not_pushed_to_rows = 0 if any("purchase" in f for f in pushed) else 1
    # input_file_name is nondeterministic, so it is projected before the
    # aggregate rather than passed to one
    in_dir = F.input_file_name().contains("event_type=purchase")
    return rd.withColumn("_in_dir", in_dir).agg(
        F.count(F.lit(1)).alias("n_rows"),
        _sum_cents("value").alias("value_cents"),
        F.countDistinct("user_id").alias("n_users"),
        F.lit(has_partition_filter).cast("long").alias("partition_filter_present"),
        F.lit(not_pushed_to_rows).cast("long").alias("not_pushed_to_rowgroups"),
        F.coalesce(F.bool_and("_in_dir").cast("long"), F.lit(0)).alias(
            "only_matching_partition_read"
        ),
    )


SQL_PARTITION_PRUNING_AUDIT = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 100) AS BIGINT) AS value_cents,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(1 AS BIGINT) AS partition_filter_present,
       CAST(1 AS BIGINT) AS not_pushed_to_rowgroups,
       CAST(1 AS BIGINT) AS only_matching_partition_read
FROM events
WHERE event_type = 'purchase'
"""


# -------------------------- broadcast-join + scan-pushdown audits (r9)


def q_broadcast_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for small-dimension broadcast planning: customer joined
    through nation to region with explicit F.broadcast on both dims must
    plan as BroadcastHashJoin with NO SortMergeJoin — the dims never
    shuffle, the fact side streams map-side. The flag is pinned next to
    the oracled per-region aggregates, so a lost broadcast (hint dropped,
    size estimate regression) turns the driver row red instead of
    shipping a full two-sided shuffle at 100 TB.

    Plan inspected under `aqe_off` (the caller's setting restored) — AQE
    wraps the static plan until execution.
    """
    from seo_audit_etl_actor_spark.plans import audit as plan_audit

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    with plan_audit.aqe_off(spark):
        p = plan_audit.plan_string(joined)
    broadcast_planned = 1 if "BroadcastHashJoin" in p and "SortMergeJoin" not in p else 0
    return (
        joined.groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _sum_cents("c_acctbal").alias("acctbal_cents"),
        )
        .withColumn("broadcast_planned", F.lit(broadcast_planned).cast("long"))
        .orderBy("region")
    )


SQL_BROADCAST_JOIN_AUDIT = """
SELECT r.r_name AS region,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(ROUND(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) * 100) AS BIGINT) AS acctbal_cents,
       CAST(1 AS BIGINT) AS broadcast_planned
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY region
"""


def q_scan_pushdown_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for predicate pushdown + column pruning on the raw
    parquet scan (§4.1's free wins, pinned as data): a 2-column
    filtered aggregate over lineitem must (a) push the l_quantity
    predicate into PushedFilters — row groups whose min/max exclude it
    are skipped at the reader — and (b) read EXACTLY the two referenced
    columns per ReadSchema. A scan that reads all 16 columns for a
    2-column projection is wrong at any scale; at 100 TB it is the
    difference between reading 2 TB and 16 TB.
    """
    from seo_audit_etl_actor_spark.plans import audit as plan_audit

    li = load_table(spark, sf_dir, "lineitem")
    q = li.where(F.col("l_quantity") < 5).select("l_quantity", "l_extendedprice")
    pushed_ok = (
        1 if any("l_quantity" in f for f in plan_audit.pushed_filters(q)) else 0
    )
    cols = plan_audit.read_schema_columns(q)
    pruned_ok = 1 if cols == {"l_quantity", "l_extendedprice"} else 0
    return q.agg(
        F.count(F.lit(1)).alias("n_rows"),
        _sum_cents("l_extendedprice").alias("price_cents"),
        F.lit(pushed_ok).cast("long").alias("filter_pushed"),
        F.lit(pruned_ok).cast("long").alias("columns_pruned"),
    )


SQL_SCAN_PUSHDOWN_AUDIT = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 100) AS BIGINT) AS price_cents,
       CAST(1 AS BIGINT) AS filter_pushed,
       CAST(1 AS BIGINT) AS columns_pruned
FROM lineitem
WHERE l_quantity < 5
"""
