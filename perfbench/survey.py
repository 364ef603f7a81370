"""Classify and time every catalog query on the benchmark's data set.

Usage (from the repository root): python3 perfbench/survey.py OUT_JSON

Runs the whole catalog twice in one fresh driver at the benchmark's SF and
SURVEY_SEED, cold then warm, with the Spark event log on, and checks the
warm pass against the DuckDB oracles. OUT_JSON gets the `survey` section of
workloads.json:

- `lazy`: queries that submit no job while their DataFrame is built
  (the catalog_sql population);
- `eager`: queries that do, plus every `streaming_*_differential` (whose
  micro-batch jobs run on the stream's own thread), the catalog_curation
  population;
- `split`: per query, warm build seconds, warm execution seconds and the
  jobs submitted while building;
- `mismatches`: queries whose warm result differs from the oracle.

The workload samples in workloads.json are drawn from these populations
and stay frozen by name: a later change that makes an eager query lazy does
not move it between workloads.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402

SURVEY_SEED = 20240101


def main(out_path: str) -> None:
    work = run.ROOT / ".perfbench" / "survey"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ.update(run.worker_env(work, work / "events"))
    os.chdir(work)
    sys.path.insert(0, str(run.ROOT))
    from datagen import write_tables
    from tracing import attribute, read_event_log
    from worker import apply_checks, check_queries, ready_session, run_queries

    from seo_audit_etl_actor_spark.queries import QUERIES

    data_dir = str(work / "data")
    write_tables(data_dir, json.loads((HERE / "workloads.json").read_text())["sf"], SURVEY_SEED)
    spark = ready_session({}, "catalog")
    spec = {"queries": [q.name for q in QUERIES], "data_dir": data_dir, "seconds": 0}
    run_queries(spark, spec, traced=False)  # cold pass: codegen and JIT warm-up
    warm, frames = run_queries(spark, spec, traced=False)
    apply_checks(warm, check_queries(frames, data_dir))
    spark.stop()
    log = read_event_log(work / "events")
    survey = {"lazy": [], "eager": [], "split": {}, "mismatches": []}
    for op in warm:
        jobs = int(attribute(log, op["start"], op["build_end"], op["end"]).get("build_jobs", 0))
        eager = jobs > 0 or (op["name"].startswith("streaming_") and op["name"].endswith("_differential"))
        survey["eager" if eager else "lazy"].append(op["name"])
        survey["split"][op["name"]] = [
            round(op["build_end"] - op["start"], 3),
            round(op["end"] - op["build_end"], 3),
            jobs,
        ]
        if not op["ok"]:
            survey["mismatches"].append(op["name"])
    Path(out_path).write_text(json.dumps(survey, indent=1))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1])
