"""Summarise repeated benchmark runs: per workload and metric, the median,
the quartiles and their distance as a share of the median, next to the
metric's bound from ``BENCHMARK.json``.

    python3 perfbench/spread.py RESULTS... [--json BASELINE.json]

Each RESULTS file is the stdout of one ``run.py`` invocation: its
``run_record`` line names the workload and its last line holds the
metrics. ``--json`` also writes every run and the summary to one file, the
form the recorded baselines under ``perfbench/baseline/`` take.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths: list[str]) -> list[dict]:
    runs = []
    for path in paths:
        with open(path) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.startswith("{")]
        record = json.loads(lines[0])["run_record"]
        result = json.loads(lines[-1])
        runs.append({
            "workload": record["workload"], "seed": record["seed"], "trace": record["trace"],
            "correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: m["value"] for k, m in result["metrics"].items()},
            "record": record,
        })
    return runs


def summary(vals: list[float]) -> dict:
    """Median, quartiles and (q3 - q1) / median, as ``statistics.quantiles``
    gives the quartiles."""
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return {"n": len(vals), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def summarise(runs: list[dict]) -> dict:
    values: dict = defaultdict(lambda: defaultdict(list))
    for r in runs:
        for name, v in r["metrics"].items():
            values[r["workload"]][name].append(v)
    return {w: {name: summary(vals) for name, vals in ms.items() if len(vals) > 1}
            for w, ms in sorted(values.items())}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("results", nargs="+")
    ap.add_argument("--json", help="write the runs and their summary here")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    runs = load(args.results)
    table = summarise(runs)
    for workload, metrics in table.items():
        for name, s in metrics.items():
            bound = bounds.get(name)
            flag = "" if bound is None else ("ok" if s["spread"] < bound / 3 else "WIDE")
            print(f"{workload:14} {name:36} n={s['n']:2} median={s['median']:.6g} "
                  f"q1={s['q1']:.6g} q3={s['q3']:.6g} spread={s['spread']:.4f} "
                  f"bound={bound} {flag}")
    if args.json:
        host = {"machine": platform.machine(), "cores": os.cpu_count(),
                "python": platform.python_version()}
        with open(args.json, "w") as fh:
            json.dump({"host": host, "summary": table, "runs": runs}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
