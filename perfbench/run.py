"""spark-graft benchmark: two workloads, end-to-end and per-layer metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload audit_zip --seed 1 --seconds 5 --trace 0

Workloads (a closed loop with one client; each run is one fresh driver
process with its own JVM, because the audit actor pays start-up on every
audit):

- audit_zip: one seeded audit ZIP per operation through
  `pipeline.run.process_zip` (via file://) and `write_outputs`; the window
  starts with the first audit of the fresh driver, as the actor runs it.
- catalog: the frozen query sample of `workloads.json`, lazy queries
  (Catalyst planning and execution) and eager ones (driver-side jobs while
  building, a streaming differential, a Python-worker stage), over tables
  generated from the seed. A warm-up pass checks every query; the window
  runs whole passes, each query built and executed into the noop sink.

A run brings the session up five times (see worker.py), then runs
operations until `--seconds` have passed (at least one audit, or one whole
pass over the queries), and checks every output outside the timed window:
audits against the generator's model, queries against their DuckDB oracle.
The last stdout line is the result JSON:

- `--trace 0`: setup_s (median of the five bring-ups; the first runs from
  the spawn of the driver process through JVM launch, `get_spark`, package
  shipping and one trivial job, the others stop the session and bring it
  up again in the same JVM), ops_per_s (correct operations per second of
  window; with one client this is the inverse of the mean latency),
  driver_rss_peak_mb (peak RSS of the Python driver at the end of the
  window). `failed / attempted` is the error rate.
- `--trace 1`: the same driver, with the Spark event log on, runs an
  untraced window and then a traced one after its warm-up, and prints the
  per-layer metrics of the traced window as means per operation, plus
  trace.overhead_s (traced minus untraced latency per operation).

The line before it holds the stamp (cores, SF, commit, source digest,
PySpark version, shuffle partitions, calibration probe); the full record
with every operation and the phase marks of the driver process (session,
ready, window end, traced end, checked, calibrated, stopped, exited) goes
to .perfbench/results/. `compare.py` refuses to compare records whose
stamps differ.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from importlib import metadata
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "seo_audit_etl_actor_spark"
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "2g"
WORKER_TIMEOUT_S = 160


def cores() -> int:
    return min(4, os.cpu_count() or 1)


def worker_env(run_dir: Path, event_log_dir: Path | None) -> dict[str, str]:
    """Environment of a driver process: cores, shuffle partitions and
    memory for the program's own `get_spark`, and every scratch path
    (Python tempfile, Spark local dirs, JVM tmpdir, event log) inside
    `run_dir`."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        for conf in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={event_log_dir.as_uri()}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ):
            submit += ["--conf", conf]
    return {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_SHUFFLE": str(SHUFFLE_PARTITIONS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(tmp),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }


def stop_group(proc: subprocess.Popen) -> None:
    """Kill the worker's process group (worker, JVM, Python daemons) and
    wait until every member has exited. The worker has stopped its session
    and written its result by then, and the run directory is discarded, so
    nothing is lost by skipping the JVM's shutdown hooks."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10.0
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_worker(spec: dict, run_dir: Path, deadline: float) -> tuple[dict, float]:
    """Start the driver process, wait for it, return (result, spawn time)."""
    spec_path, result_path = run_dir / "spec.json", run_dir / "result.json"
    log_path = run_dir / "worker.log"
    event_log = run_dir / "events" if spec["trace"] else None
    spec_path.write_text(json.dumps({**spec, "event_log_dir": str(event_log) if event_log else None}))
    with log_path.open("w") as log:
        spawned = time.time()
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(spec_path), str(result_path)],
            cwd=run_dir,
            env=worker_env(run_dir, event_log),
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            stop_group(proc)
    if proc.returncode != 0 or not result_path.exists():
        tail = log_path.read_text(errors="replace")[-3000:]
        raise RuntimeError(f"worker exited with {proc.returncode}:\n{tail}")
    result = json.loads(result_path.read_text())
    result["marks"]["exited"] = time.time()
    return result, spawned


def source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted(PACKAGE.rglob("*.py")):
        h.update(path.relative_to(ROOT).as_posix().encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return out.stdout.strip() or None


def prepare_inputs(workload: str, seed: int, run_dir: Path, frozen: dict) -> dict:
    """Generate the run's inputs from the seed (not part of setup_s)."""
    if workload == "audit_zip":
        from auditzip import make_audit

        # Every run audits a ZIP with ~20k-row exports: a run holds one
        # audit (the driver's first, in a short window), and mixing in
        # reference-size ZIPs, ~10% faster, split the runs in two groups.
        data, model = make_audit(seed, large=True)
        zip_path, model_path = run_dir / "audit.zip", run_dir / "audit.model.json"
        zip_path.write_bytes(data)
        model_path.write_text(json.dumps(model))
        return {"zip": str(zip_path), "model": str(model_path), "out_dir": str(run_dir / "out")}
    from datagen import write_tables

    # The seed decides the table values; the query order stays frozen, so
    # every seed runs the same sequence of queries in a pass.
    data_dir = run_dir / "data"
    write_tables(str(data_dir), frozen["sf"], seed)
    return {"queries": frozen["catalog"]["queries"], "data_dir": str(data_dir)}


def end_to_end(result: dict, spawned: float) -> dict:
    ops = result["ops"]
    window = ops[-1]["end"] - ops[0]["start"]
    setups = [result["marks"]["ready"] - spawned, *result["setups_s"]]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "ops_per_s": (sum(op["ok"] for op in ops) / window, "1/s"),
        "driver_rss_peak_mb": (result["rss_kb"] / 1024, "MB"),
    }


def _in_window(progress: dict, op: dict) -> bool:
    from tracing import batch_start

    return op["start"] <= batch_start(progress) <= op["end"]


def per_layer(result: dict, spawned: float) -> tuple[dict, list[dict]]:
    """Per-layer metrics of the traced window (means per operation) and its
    per-operation rows."""
    rows = []
    for op in result["traced_ops"]:
        latency = op["end"] - op["start"]
        spans = op.get("spans", {"seconds": {}, "calls": {}, "counts": {}})
        sec, calls, counts = spans["seconds"], spans["calls"], spans["counts"]
        ev = op.get("events", {})
        batches = [p for p in result.get("progress", []) if _in_window(p, op)]
        sources_s = sum(sec.get(f"sources.{k}", 0.0) for k in ("fetch", "unzip", "parse", "to_df", "lighthouse"))
        layer_s = sources_s + sum(sec.get(f"pipeline.{k}", 0.0) for k in ("stanza", "scoring", "output"))
        audit = "spans" in op
        build = 0.0 if audit else op["build_end"] - op["start"]
        row = {
            "name": op["name"],
            "latency_s": latency,
            "sources.fetch_s": sec.get("sources.fetch", 0.0),
            "sources.unzip_s": sec.get("sources.unzip", 0.0),
            "sources.parse_s": sec.get("sources.parse", 0.0),
            "sources.to_df_s": sec.get("sources.to_df", 0.0),
            "sources.lighthouse_s": sec.get("sources.lighthouse", 0.0),
            "sources.bytes_in": counts.get("sources.fetch", 0.0),
            "sources.rows_in": counts.get("sources.parse", 0.0),
            "sources.parse_calls": calls.get("sources.parse", 0.0),
            "sources.parse_attempts": calls.get("sources.parse_attempt", 0.0),
            "sources.dataframes": calls.get("sources.to_df", 0.0),
            "pipeline.stanza_s": sec.get("pipeline.stanza", 0.0),
            "pipeline.scoring_s": sec.get("pipeline.scoring", 0.0),
            "pipeline.output_s": sec.get("pipeline.output", 0.0),
            "pipeline.self_s": latency - layer_s if audit else 0.0,
            "pipeline.jobs_per_audit": ev.get("jobs", 0.0) if audit else 0.0,
            "pipeline.tasks_per_audit": ev.get("tasks", 0.0) if audit else 0.0,
            "queries.build_s": build,
            "queries.build_jobs": 0.0 if audit else ev.get("build_jobs", 0.0),
            "catalyst.analysis_s": op.get("catalyst", {}).get("analysis", 0.0),
            "catalyst.optimization_s": op.get("catalyst", {}).get("optimization", 0.0),
            "catalyst.planning_s": op.get("catalyst", {}).get("planning", 0.0),
            "execution.exec_s": 0.0 if audit else op["end"] - op.get("exec_start", op["end"]),
            "pyworker.tasks": ev.get("py_tasks", 0.0),
            "pyworker.task_run_s": ev.get("py_task_run_s", 0.0),
            "pyworker.rows_to_python": ev.get("py_rows", 0.0),
            "pyworker.bytes_to_python": ev.get("py_bytes", 0.0),
            "streaming.batches": float(len(batches)),
            "streaming.add_batch_s": sum(p["durationMs"].get("addBatch", 0) for p in batches) / 1000,
            "streaming.wal_commit_s": sum(p["durationMs"].get("walCommit", 0) for p in batches) / 1000,
            "streaming.query_planning_s": sum(p["durationMs"].get("queryPlanning", 0) for p in batches) / 1000,
            "streaming.trigger_s": sum(p["durationMs"].get("triggerExecution", 0) for p in batches) / 1000,
            "streaming.input_rows": float(sum(p.get("numInputRows", 0) for p in batches)),
            "streaming.state_rows": float(
                sum(s.get("numRowsTotal", 0) for p in batches for s in p.get("stateOperators", []))
            ),
        }
        for key in ("jobs", "stages", "tasks", "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes", "task_run_s", "task_cpu_s", "gc_s"):
            row[f"execution.{key}"] = ev.get(key, 0.0)
        row["execution.stage_skew_max"] = ev.get("stage_skew_max", 1.0)
        rows.append(row)

    n = len(rows)
    mean = {k: sum(r[k] for r in rows) / n for k in rows[0] if k != "name"}
    parse_calls = sum(r["sources.parse_calls"] for r in rows)
    frames = sum(r["sources.dataframes"] for r in rows)
    audit_jobs = sum(r["pipeline.jobs_per_audit"] for r in rows)
    lat = lambda ops: statistics.fmean(op["end"] - op["start"] for op in ops)  # noqa: E731
    marks = result["marks"]
    metrics = {
        "session.start_s": (marks["session"] - spawned, "s"),
        "session.first_job_s": (marks["ready"] - marks["session"], "s"),
        "sources.parse_attempts_per_file": (
            sum(r["sources.parse_attempts"] for r in rows) / parse_calls if parse_calls else 0.0, "ratio"),
        "pipeline.jobs_per_file": (audit_jobs / frames if frames else 0.0, "ratio"),
        "queries.eager_count": (float(len({r["name"] for r in rows if r["queries.build_jobs"] > 0})), "count"),
        "execution.stage_skew_max": (max(r["execution.stage_skew_max"] for r in rows), "ratio"),
        "trace.overhead_s": (lat(result["traced_ops"]) - lat(result["ops"]), "s"),
    }
    for key, value in mean.items():
        if key in metrics or key in ("latency_s", "sources.parse_calls", "sources.parse_attempts",
                                      "sources.dataframes"):
            continue
        unit = "s" if key.endswith("_s") else "bytes" if "bytes" in key else "count"
        metrics[key] = (value, unit)
    return metrics, rows


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=("audit_zip", "catalog"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if not (PACKAGE / "__init__.py").exists():
        print(f"perfbench: package {PACKAGE.name} not found beside {HERE.name}/", file=sys.stderr)
        return 2
    deadline = time.monotonic() + WORKER_TIMEOUT_S
    sys.path.insert(0, str(HERE))
    frozen = json.loads((HERE / "workloads.json").read_text())
    run_dir = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        spec = {
            "root": str(ROOT),
            "workload": args.workload,
            "seconds": args.seconds,
            "cores": cores(),
            "trace": bool(args.trace),
            **prepare_inputs(args.workload, args.seed, run_dir, frozen),
        }
        result, spawned = run_worker(spec, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    rows = None
    if args.trace:
        metrics, rows = per_layer(result, spawned)
    else:
        metrics = end_to_end(result, spawned)

    ops = result["ops"] + result.get("traced_ops", [])
    stamp = {
        "nproc": os.cpu_count(),
        "cores": cores(),
        "sf": None if args.workload == "audit_zip" else frozen["sf"],
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "pyspark": metadata.version("pyspark"),
        "shuffle_partitions": result["shuffle_partitions"],
        "calibration_s": result["calibration_s"],
    }
    out = {
        "correct": all(op["ok"] for op in ops),
        "attempted": len(ops),
        "failed": sum(not op["ok"] for op in ops),
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }
    phases = {k: round(v - spawned, 3) for k, v in result["marks"].items()}
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "stamp": stamp, **out,
              "phases_s": phases,
              "ops": [{k: op.get(k) for k in ("name", "start", "end", "ok", "problems")} for op in ops],
              "per_op": rows}
    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(json.dumps(record, indent=1))
    for op in ops:
        if not op["ok"]:
            print(f"perfbench: {op['name']} failed: {op.get('problems')}", file=sys.stderr)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
