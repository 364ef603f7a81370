"""How the audit queries (queries/audit_ext.py) hand back their results:
no result is a frame built from a Python list, and each keeps its column
names, order and types; `plans.audit.aqe_off` leaves the session's AQE
setting as it found it."""

from __future__ import annotations

import pytest

from seo_audit_etl_actor_spark.plans import audit
from seo_audit_etl_actor_spark.queries import QUERIES

SPECS = {q.name: q for q in QUERIES}


def _struct(*fields: str) -> str:
    """`simpleString` of a schema; a bare name is a bigint column."""
    return "struct<" + ",".join(f if ":" in f else f"{f}:bigint" for f in fields) + ">"


_DECODE = _struct("n_blobs", "n_real", "thumb_checksum", "dims_checksum")
_ROUNDTRIP = (
    "n_docs",
    "sum_chars",
    "sum_text_len",
    "n_only_original",
    "n_only_roundtrip",
    "n_field_mismatch",
)

SCHEMAS = {
    "mv_merge_audit": _struct(
        "n_added",
        "n_removed",
        "n_changed",
        "n_unchanged",
        "n_groups",
        "view_rows",
        "view_sum_cust",
        "view_n_f_status",
        "merge_equals_recompute",
    ),
    "media_decode_audit": _struct(
        "n_images",
        "n_image_real",
        "thumb_checksum",
        "wav_rms_q",
        "wav_zero_crossings",
        "wav_duration_ms",
        "wav_n_samples",
        "wav_real",
        "mp4_duration_ms",
        "mp4_n_tracks",
        "mp4_dims",
        "mp4_real",
    ),
    "zip_source_audit": _struct(
        "n_rows",
        "n_ok",
        "n_nested",
        "n_not_a_zip",
        "n_nested_unreadable",
        "n_entry_unreadable",
        "sum_entry_size",
        "byte_sum",
        "ds_equals_mapinpandas",
    ),
    "lossless_decode_audit": _DECODE,
    "extended_decode_audit": _DECODE,
    "arith_decode_audit": _DECODE,
    "arith_progressive_decode_audit": _DECODE,
    "arith_lossless_decode_audit": _DECODE,
    "jsonl_roundtrip_audit": _struct("lang:string", *_ROUNDTRIP),
    "format_roundtrip_audit": _struct("format:string", "lang:string", *_ROUNDTRIP),
    "lake_maintenance_audit": _struct(
        "n_v1",
        "n_v2",
        "n_v3",
        "chars_v3",
        "compact_preserves",
        "compact_files",
        "n_vacuumed",
        "vacuumed_sum",
        "retained_reads_ok",
        "evicted_raises",
    ),
    "bucketed_join_audit": _struct(
        "c_mktsegment:string", "n_orders", "price_cents", "shuffle_free"
    ),
    "partition_pruning_audit": _struct(
        "n_rows",
        "value_cents",
        "n_users",
        "partition_filter_present",
        "not_pushed_to_rowgroups",
        "only_matching_partition_read",
    ),
    "scan_pushdown_audit": _struct(
        "n_rows", "price_cents", "filter_pushed", "columns_pruned"
    ),
}


def _node_names(df) -> list[str]:
    """Every node of the executed plan, looking through the AQE wrapper
    (the `_leaf` walk of tests/test_csv_smart.py, over all children)."""
    names, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        plan = todo.pop()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        names.append(plan.nodeName())
        children = plan.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return names


@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_audit_result_is_no_rdd_scan(spark, sf_dir, name):
    # A frame built from a Python list plans `Scan ExistingRDD` over a
    # PythonRDD, and every job over it starts a Python worker.
    df = SPECS[name].fn(spark, sf_dir)
    names = _node_names(df)
    assert not any("ExistingRDD" in n for n in names), names
    assert df.schema.simpleString() == SCHEMAS[name]


def test_aqe_off_restores_the_callers_setting(spark):
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    with audit.aqe_off(spark):
        with pytest.raises(RuntimeError):
            with audit.aqe_off(spark):
                raise RuntimeError("leaves the block early")
        # a caller that had AQE off still has it off
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == before
