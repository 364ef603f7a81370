"""Traced-run collectors, installed from the benchmark and never from the
program itself.

- `Spans` replaces public functions of `sources`, `pipeline.stanzas`,
  `pipeline.scoring` and `pipeline.run.write_outputs` with timing wrappers
  that add each call's duration (and a count) to a named bucket.
- `BatchListener` is a Python `StreamingQueryListener` that keeps every
  micro-batch progress report; micro-batch jobs run on the stream's own
  thread, so job groups set by the caller do not see them.
- `catalyst_phases` reads Catalyst's analysis/optimization/planning times
  from a DataFrame's query-planning tracker.
- `read_event_log` and `attribute` turn Spark's JSON event log into job,
  stage, task, shuffle, spill, GC and Python-worker totals per operation.
  An operation owns every job submitted inside its wall-clock window; the
  benchmark runs one operation at a time, so the windows do not overlap.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import time
from collections import defaultdict
from datetime import datetime
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

STANZAS = (
    "ahrefs_keywords",
    "ahrefs_top_pages",
    "ahrefs_backlinks",
    "site_audit_issue_counts",
    "sf_internal",
    "sf_structured_data",
    "lighthouse_rollup",
    "brightlocal_ranks",
    "brightlocal_citations",
    "is_placeholder",
    "brightlocal_gbp_insights",
    "gbp_categories",
    "gbp_photos",
)
PY_NODE = re.compile(r"Python|InPandas|InArrow|PandasWithState")


class Spans:
    """Per-bucket time and count totals from wrapped functions."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, owner: object, attr: str, bucket: str, count=None) -> None:
        """Time and count every call of `owner.attr` into `bucket`;
        `count(result)`, when given, adds to the bucket's counter."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                result = original(*args, **kwargs)
            finally:
                self.seconds[bucket] += time.perf_counter() - t0
            self.calls[bucket] += 1
            if count is not None:
                self.counts[bucket] += count(result)
            return result

        setattr(owner, attr, timed)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def snapshot(self) -> dict:
        return {"seconds": dict(self.seconds), "calls": dict(self.calls), "counts": dict(self.counts)}


def install_audit_spans(spans: Spans) -> None:
    """Wrap the audit path's layer boundaries. `pipeline.run` imports its
    helpers by name, so the names are replaced in the module that calls
    them (`run`, and `csv_smart` for the calls inside `parse_csv_smart`)."""
    from seo_audit_etl_actor_spark.pipeline import run, stanzas
    from seo_audit_etl_actor_spark.sources import csv_smart

    spans.wrap(run, "default_fetch", "sources.fetch", count=len)
    for name in ("open_zip", "read_entry", "open_nested_zip"):
        spans.wrap(run, name, "sources.unzip")
    rows = lambda parsed: len(parsed.rows)  # noqa: E731
    spans.wrap(run, "parse_csv_smart_rows", "sources.parse", count=rows)
    spans.wrap(csv_smart, "parse_csv_smart_rows", "sources.parse", count=rows)
    spans.wrap(csv_smart, "_parse_text", "sources.parse_attempt")
    spans.wrap(csv_smart, "to_dataframe", "sources.to_df")
    spans.wrap(run, "extract_lighthouse", "sources.lighthouse")
    for name in STANZAS:
        spans.wrap(stanzas, name, "pipeline.stanza")
    spans.wrap(run, "compute_scores", "pipeline.scoring")
    spans.wrap(run, "write_outputs", "pipeline.output")


class BatchListener(StreamingQueryListener):
    """Keeps every micro-batch progress report (as parsed JSON)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
        """Wait until no report arrived for `quiet_s`: the listener bus
        delivers asynchronously, after the batch has returned."""
        deadline = time.monotonic() + limit_s
        seen = -1
        while len(self.progress) != seen and time.monotonic() < deadline:
            seen = len(self.progress)
            time.sleep(quiet_s)


def batch_start(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def catalyst_phases(df) -> dict[str, float]:
    """Plan `df` and return its Catalyst phase times in seconds."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        found = phases.get(phase)
        out[phase] = found.get().durationMs() / 1000 if found.isDefined() else 0.0
    return out


def _rows_into_python(plan: dict, ids: set[int]) -> None:
    """Collect the accumulator ids of the row counters that feed each
    Python-worker node of a physical plan (first counter found below
    each child)."""
    for child in plan.get("children", []):
        if PY_NODE.search(plan.get("nodeName", "")):
            queue = [child]
            while queue:
                node = queue.pop(0)
                hit = [m["accumulatorId"] for m in node.get("metrics", [])
                       if m["name"] in ("number of output rows", "records read")]
                if hit:
                    ids.add(hit[0])
                    break
                queue.extend(node.get("children", []))
        _rows_into_python(child, ids)


def read_event_log(log_dir: Path) -> dict:
    """Jobs (submit ms, stage ids) and per-stage task records from every
    uncompressed event log file under `log_dir`."""
    jobs, tasks = [], defaultdict(list)
    py_rows_ids: set[int] = set()
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with path.open() as fh:
            for line in fh:
                event = json.loads(line)
                kind = event["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.append({"submit_ms": event["Submission Time"], "stages": event["Stage IDs"]})
                elif kind == "SparkListenerTaskEnd":
                    info, metrics = event["Task Info"], event.get("Task Metrics") or {}
                    acc = {a["ID"]: (a.get("Name"), a.get("Update")) for a in info.get("Accumulables", [])}
                    tasks[event["Stage ID"]].append({"info": info, "metrics": metrics, "acc": acc})
                elif "sparkPlanInfo" in event:
                    _rows_into_python(event["sparkPlanInfo"], py_rows_ids)
    return {"jobs": jobs, "tasks": tasks, "py_rows_ids": py_rows_ids}


def _num(value) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


def attribute(log: dict, start: float, build_end: float, end: float) -> dict[str, float]:
    """Totals for the jobs submitted in [start, end] (epoch seconds);
    `build_jobs` counts those submitted before `build_end`."""
    out: dict[str, float] = defaultdict(float)
    skew = 1.0
    for job in log["jobs"]:
        t = job["submit_ms"] / 1000
        if not start <= t <= end:
            continue
        out["jobs"] += 1
        out["build_jobs"] += t <= build_end
        for stage in job["stages"]:
            stage_tasks = log["tasks"].get(stage, [])
            if not stage_tasks:
                continue  # skipped (reused shuffle output)
            out["stages"] += 1
            durations = []
            for task in stage_tasks:
                m, info = task["metrics"], task["info"]
                out["tasks"] += 1
                durations.append(info["Finish Time"] - info["Launch Time"])
                run_s = m.get("Executor Run Time", 0) / 1000
                out["task_run_s"] += run_s
                out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["gc_s"] += m.get("JVM GC Time", 0) / 1000
                out["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                read = m.get("Shuffle Read Metrics") or {}
                out["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
                out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                names = {name: update for name, update in task["acc"].values()}
                if "data sent to Python workers" in names:
                    out["py_tasks"] += 1
                    out["py_task_run_s"] += run_s
                    out["py_bytes"] += _num(names["data sent to Python workers"])
                    out["py_rows"] += sum(_num(task["acc"][i][1]) for i in log["py_rows_ids"] if i in task["acc"])
            median = statistics.median(durations)
            if median > 0:
                skew = max(skew, max(durations) / median)
    out["stage_skew_max"] = skew
    return dict(out)
