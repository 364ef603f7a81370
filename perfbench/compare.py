"""Compare two sets of benchmark records.

Usage (from the repository root):

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the records run.py writes to .perfbench/results/
(copy them away between commits). For every (workload, trace, metric) it
prints the median and quartiles of each side and the change of the
medians. It refuses to compare (exit 1) when the stamps differ in cores,
SF, PySpark version or shuffle partitions, or when the CPU calibration
probes of the two sides differ by more than 30%.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

MUST_MATCH = ("nproc", "cores", "sf", "pyspark", "shuffle_partitions")
CALIBRATION_RATIO = 1.3


def load(directory: str) -> list[dict]:
    return [json.loads(p.read_text()) for p in sorted(Path(directory).glob("*.json"))]


def main(base_dir: str, new_dir: str) -> int:
    sides = {"base": load(base_dir), "new": load(new_dir)}
    stamps: dict[tuple, set] = defaultdict(set)
    for records in sides.values():
        for r in records:
            for key in MUST_MATCH:
                stamps[(r["workload"], key)].add(json.dumps(r["stamp"][key]))
    clash = [f"{w}: {key} differs ({sorted(v)})" for (w, key), v in stamps.items() if len(v) > 1]
    cal = {s: statistics.median(r["stamp"]["calibration_s"] for r in rs) for s, rs in sides.items() if rs}
    if len(cal) == 2 and max(cal.values()) > CALIBRATION_RATIO * min(cal.values()):
        clash.append(f"calibration probe differs: {cal}")
    if clash:
        print("refusing to compare:\n  " + "\n  ".join(clash), file=sys.stderr)
        return 1
    values: dict[tuple, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for side, records in sides.items():
        for r in records:
            for name, m in r["metrics"].items():
                values[(r["workload"], r["trace"], name, m["unit"])][side].append(m["value"])
    for (workload, trace, name, unit), by_side in sorted(values.items()):
        cells = []
        for side in ("base", "new"):
            v = by_side.get(side, [])
            if len(v) >= 2:
                q1, med, q3 = statistics.quantiles(v, n=4)
                cells.append(f"{side} {med:.4g} [{q1:.4g}, {q3:.4g}] n={len(v)}")
            elif v:
                cells.append(f"{side} {v[0]:.4g} n=1")
        change = ""
        if len(by_side) == 2:
            b, n = statistics.median(by_side["base"]), statistics.median(by_side["new"])
            change = f"  change {(n - b) / b:+.1%}" if b else ""
        print(f"{workload} trace={trace} {name} ({unit}): " + " | ".join(cells) + change)
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
