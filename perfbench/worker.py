"""One measured driver process of the benchmark.

Usage: python3 perfbench/worker.py SPEC_JSON RESULT_JSON

`run.py` writes the spec (workload, inputs, window length, trace flag) and
starts this process with a fresh JVM, as the audit actor starts one per
audit. The worker brings the session up (five times, see `bring_up`),
runs operations in a closed loop with one client until the window has
passed, checks every output outside the window, runs the CPU calibration
probe, and writes its timings, checks and (when traced) layer totals to
RESULT_JSON.

- audit_zip: the window starts with the first audit of the fresh driver,
  as the actor runs it.
- catalog: a warm-up pass builds every query and checks its collected rows
  against the DuckDB oracle; the window then runs whole passes, each query
  built and executed into the noop sink.
- traced (both workloads): after the warm-up (the first audit, or the
  checked pass), an untraced window and then a traced one of the same
  length; the event log is on for the whole process.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
import traceback
from pathlib import Path

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
BRING_UPS = 5


def ready_session(marks: dict, workload: str):
    """The program's own session bring-up plus one trivial job, after
    importing the modules the workload calls."""
    import importlib

    from seo_audit_etl_actor_spark.session import ensure_package_on_executors, get_spark

    importlib.import_module(
        "seo_audit_etl_actor_spark." + ("pipeline.run" if workload == "audit_zip" else "queries")
    )
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    marks["session"] = time.time()
    ensure_package_on_executors(spark)
    spark.range(1).count()
    marks["ready"] = time.time()
    return spark


def bring_up(marks: dict, workload: str):
    """Bring the session up BRING_UPS times: the first from the fresh
    process (interpreter imports, JVM launch; `run.py` times it from the
    spawn to `marks["ready"]`), the others after stopping it, in the same
    JVM. Returns the last session and the seconds of the later bring-ups."""
    spark = ready_session(marks, workload)
    seconds = []
    for _ in range(BRING_UPS - 1):
        spark.stop()
        t0 = time.time()
        spark = ready_session({}, workload)
        seconds.append(time.time() - t0)
    return spark, seconds


def _failed(op: dict) -> None:
    op["ok"] = False
    op["problems"] = [traceback.format_exc(limit=3)]


def run_audits(spark, spec: dict, spans, pending: list) -> list[dict]:
    """The audit ZIP through `process_zip` + `write_outputs`, one audit per
    op, until the window has passed (at least one audit). Results wait in
    `pending` for `check_audits`."""
    from seo_audit_etl_actor_spark.pipeline import run

    ops = []
    t_begin = time.perf_counter()
    while not ops or time.perf_counter() - t_begin < spec["seconds"]:
        out_dir = Path(spec["out_dir"]) / f"audit{len(pending)}"
        before = spans.snapshot() if spans else None
        op = {"name": Path(spec["zip"]).name, "start": time.time(), "ok": True}
        try:
            job = run.JobInput("perfbench", "example.com", "2024-01-01", Path(spec["zip"]).as_uri())
            result = run.process_zip(spark, job)
            run.write_outputs(result, str(out_dir))
            pending.append((op, result, out_dir))
        except Exception:
            _failed(op)
        op["end"] = op["build_end"] = time.time()
        if spans:
            after = spans.snapshot()
            op["spans"] = {
                kind: {k: v - before[kind].get(k, 0) for k, v in after[kind].items()}
                for kind in after
            }
        ops.append(op)
    return ops


def check_audits(pending: list, model_path: str) -> None:
    from auditzip import check_audit

    model = json.loads(Path(model_path).read_text())
    for op, result, out_dir in pending:
        problems = check_audit(result, model)
        for name in ("normalized_audit.json", "scores.json", "etl_manifest.json", "OUTPUT.json"):
            try:
                json.loads((out_dir / name).read_text())
            except (OSError, ValueError) as e:
                problems.append(f"{name}: {e}")
        op["problems"] = problems
        op["ok"] = not problems


def run_queries(spark, spec: dict, traced: bool) -> tuple[list[dict], dict]:
    """Catalog queries in their frozen order, each built and executed into
    the noop sink; whole passes until the window has passed."""
    from seo_audit_etl_actor_spark.queries import QUERIES

    fns = {q.name: q.fn for q in QUERIES}
    ops, frames = [], {}
    t_begin = time.perf_counter()
    while not ops or time.perf_counter() - t_begin < spec["seconds"]:
        for name in spec["queries"]:
            op = {"name": name, "start": time.time(), "ok": True}
            try:
                df = fns[name](spark, spec["data_dir"])
                op["build_end"] = time.time()
                if traced:
                    from tracing import catalyst_phases

                    op["catalyst"] = catalyst_phases(df)
                op["exec_start"] = time.time()
                df.write.format("noop").mode("overwrite").save()
                frames.setdefault(name, df)
            except Exception:
                op.setdefault("build_end", time.time())
                _failed(op)
            op["end"] = time.time()
            ops.append(op)
    return ops, frames


def check_queries(frames: dict, data_dir: str) -> dict[str, list[str]]:
    """Collect each DataFrame and compare it with its query's DuckDB oracle
    over the same files, exact and order-insensitive; the one oracle-less
    query is checked for a non-empty result. Returns the problems per
    query name."""
    import duckdb

    from seo_audit_etl_actor_spark.queries import QUERIES
    from tests.oracle_diff import compare

    sqls = {q.name: q.sql for q in QUERIES}
    con = duckdb.connect()
    for table in TABLES:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data_dir}/{table}.parquet'")
    problems: dict[str, list[str]] = {}
    for name, df in frames.items():
        try:
            if sqls[name] is None:
                problems[name] = [] if df.count() > 0 else ["rows-only check: no rows"]
            else:
                problems[name] = compare(df, con.execute(sqls[name]))
        except Exception:
            problems[name] = [traceback.format_exc(limit=3)]
    con.close()
    return problems


def warm_up_queries(spark, spec: dict) -> dict[str, list[str]]:
    """The catalog's warm-up pass: build every query once and check its
    collected rows (compiles each query's code before the window)."""
    from seo_audit_etl_actor_spark.queries import QUERIES

    fns = {q.name: q.fn for q in QUERIES}
    frames, problems = {}, {}
    for name in spec["queries"]:
        try:
            frames[name] = fns[name](spark, spec["data_dir"])
        except Exception:
            problems[name] = [traceback.format_exc(limit=3)]
    return {**check_queries(frames, spec["data_dir"]), **problems}


def apply_checks(ops: list[dict], problems: dict[str, list[str]]) -> None:
    for op in ops:
        if op["ok"]:
            op["problems"] = problems[op["name"]]
            op["ok"] = not op["problems"]


def calibrate(spark, cores: int) -> float:
    """Best of two runs of the xxhash64 range probe bench.py uses, at half
    its size: a CPU-throughput stamp for the run."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, 100_000_000, 1, cores).select(F.sum(F.shiftright(F.xxhash64("id"), 32))).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def main(spec_path: str, result_path: str) -> None:
    spec = json.loads(Path(spec_path).read_text())
    sys.path.insert(0, spec["root"])
    traced, audits = spec["trace"], spec["workload"] == "audit_zip"
    marks: dict[str, float] = {}
    spark, setups = bring_up(marks, spec["workload"])
    marks["brought_up"] = time.time()
    pending: list = []
    if audits:
        if traced:  # the first audit of the driver is the warm-up
            run_audits(spark, {**spec, "seconds": 0}, None, pending)
        ops = run_audits(spark, spec, None, pending)
    else:
        problems = warm_up_queries(spark, spec)
        marks["warmed_up"] = time.time()
        ops, _ = run_queries(spark, spec, traced=False)
    rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    marks["window_end"] = time.time()
    result = {"marks": marks, "setups_s": setups, "ops": ops, "rss_kb": rss_kb}
    if traced:
        from tracing import BatchListener, Spans, install_audit_spans

        listener = BatchListener()
        spark.streams.addListener(listener)
        if audits:
            spans = Spans()
            install_audit_spans(spans)
            result["traced_ops"] = run_audits(spark, spec, spans, pending)
            spans.restore()
        else:
            result["traced_ops"], _ = run_queries(spark, spec, traced=True)
        listener.drain()
        spark.streams.removeListener(listener)
        result["progress"] = listener.progress
        marks["traced_end"] = time.time()
    if audits:
        check_audits(pending, spec["model"])
    else:
        for key in ("ops", "traced_ops"):
            apply_checks(result.get(key, []), problems)
    marks["checked"] = time.time()
    result["calibration_s"] = calibrate(spark, spec["cores"])
    result["shuffle_partitions"] = int(spark.conf.get("spark.sql.shuffle.partitions"))
    marks["calibrated"] = time.time()
    spark.stop()
    marks["stopped"] = time.time()
    if traced:
        from tracing import attribute, read_event_log

        log = read_event_log(Path(spec["event_log_dir"]))
        for op in result["traced_ops"]:
            op["events"] = attribute(log, op["start"], op["build_end"], op["end"])
    Path(result_path).write_text(json.dumps(result))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
    # run.py kills what is left of the process group (the JVM) once this
    # process has exited; skipping the interpreter's shutdown saves seconds
    # of py4j teardown per run.
    sys.stdout.flush()
    os._exit(0)
