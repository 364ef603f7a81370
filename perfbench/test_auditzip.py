"""Self-tests of the audit-ZIP generator.

Run from the repository root: python3 -m pytest perfbench/test_auditzip.py
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")

from auditzip import check_audit, make_audit  # noqa: E402


@pytest.mark.parametrize("large", [False, True])
def test_same_seed_gives_identical_zip(large):
    first, model = make_audit(11, large)
    again, model_again = make_audit(11, large)
    assert first == again and model == model_again
    assert make_audit(12, large)[0] != first


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_model_matches_process_zip(seed, tmp_path):
    from seo_audit_etl_actor_spark.pipeline.run import JobInput, process_zip
    from seo_audit_etl_actor_spark.session import get_spark

    data, model = make_audit(seed, large=False)
    path = tmp_path / "audit.zip"
    path.write_bytes(data)
    result = process_zip(get_spark("perfbench-tests"), JobInput("c", "example.com", "2024-01-01", path.as_uri()))
    assert check_audit(result, model) == []
