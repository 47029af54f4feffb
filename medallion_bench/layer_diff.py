"""Which metrics moved between two sets of benchmark results.

    python3 medallion_bench/layer_diff.py BEFORE.jsonl AFTER.jsonl

Each file holds result records as ``run.py`` appends them to
``.bench_out/results.jsonl`` (one JSON object per run; several seeds
per workload). For every workload in both files, and every metric of
it, the medians of the two sides are compared. A metric has moved when
the medians differ by more than the wider of the two sides' spreads
(distance between first and third quartile). Per-layer metrics are
listed with the end-to-end metric and workload they should move.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from layers import LAYER_METRICS  # noqa: E402


def load(path: str) -> dict[tuple[str, str], list[float]]:
    """(workload, metric) -> values over the file's correct runs."""
    out: dict[tuple[str, str], list[float]] = {}
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            rec = json.loads(line)
            if not rec.get("correct"):
                continue
            for name, m in rec["metrics"].items():
                out.setdefault((rec["workload"], name), []).append(float(m["value"]))
    return out


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def diff(before: dict, after: dict) -> list[dict]:
    rows = []
    for key in sorted(set(before) & set(after)):
        a, b = before[key], after[key]
        ma, mb = statistics.median(a), statistics.median(b)
        width = max(spread(a), spread(b))
        target = LAYER_METRICS.get(key[1], (None, None, ("end-to-end", key[0])))[2]
        target = f"{target[0]} on {target[1]}" if target else "context, no target"
        rows.append({
            "workload": key[0], "metric": key[1], "before": ma, "after": mb,
            "spread": width, "moved": abs(mb - ma) > width, "runs": (len(a), len(b)),
            "target": target,
        })
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    rows = diff(load(argv[0]), load(argv[1]))
    if not rows:
        print("no workload and metric in common", file=sys.stderr)
        return 1
    workload = None
    for r in rows:
        if r["workload"] != workload:
            workload = r["workload"]
            moved = sum(x["moved"] for x in rows if x["workload"] == workload)
            print(f"\n{workload}: {moved} metric(s) moved beyond run-to-run spread")
        if not r["moved"]:
            continue
        rel = (r["after"] - r["before"]) / r["before"] if r["before"] else float("inf")
        print(f"  {r['metric']:40s} {r['before']:12.6g} -> {r['after']:12.6g}"
              f"  ({rel:+.1%}, spread {r['spread']:.3g}, runs {r['runs'][0]}/{r['runs'][1]})"
              f"  targets {r['target']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
