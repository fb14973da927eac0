#!/usr/bin/env python3
"""Run the benchmark repeatedly and report how steady each metric is.

    python3 perfbench/steadiness.py --first-seed 1 [--out perfbench/steadiness.json]

For every workload of ``BENCHMARK.json``: ten untraced runs with seeds
``first-seed .. first-seed+9`` and ``run_seconds`` each, then one traced
run. Reports per end-to-end metric the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread
``(q3 - q1) / median``, checked against a third of the metric's bound, and
the tracing overhead: ``1 - traced work_per_s / untraced median``.

``--out`` keeps every set in one file, keyed by its seeds. When the file
already holds other sets, the medians of the new set are compared with
theirs: a change beyond a metric's bound in its worse direction is
flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
TRACE_RUNS = 1


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.time() - t0
    out["log"] = [line for line in proc.stderr.splitlines() if line.startswith("[perfbench]")]
    return out


def summarize(values: list) -> dict:
    q1, _med, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return {"median": m, "q1": q1, "q3": q3, "spread": (q3 - q1) / m if m else 0.0,
            "values": values}


def measure_set(spec: dict, first_seed: int) -> dict:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    report = {}
    for w in [x["name"] for x in spec["workloads"]]:
        runs = [one_run(w, first_seed + k, seconds, 0) for k in range(RUNS)]
        entry = {"wall_s": summarize([r["wall_s"] for r in runs]),
                 "logs": [r["log"] for r in runs],
                 "attempted": [r["attempted"] for r in runs],
                 "failed": sum(r["failed"] for r in runs), "metrics": {}}
        for name, bound in bounds.items():
            s = summarize([r["metrics"][name]["value"] for r in runs])
            s["bound"] = bound
            s["steady"] = s["spread"] < bound / 3
            entry["metrics"][name] = s
            print(f"{w:16s} {name:14s} median {s['median']:12.4f} spread {s['spread']:.3f} "
                  f"(bound {bound}){'' if s['steady'] else '  NOT STEADY'}", flush=True)
        traced = [one_run(w, first_seed + k, seconds, 1) for k in range(TRACE_RUNS)]
        tw = statistics.median(r["metrics"]["trace.work_per_s"]["value"] for r in traced)
        entry["traced_work_per_s"] = tw
        entry["tracing_overhead"] = 1.0 - tw / entry["metrics"]["work_per_s"]["median"]
        entry["traced_logs"] = [r["log"] for r in traced]
        print(f"{w:16s} tracing overhead {entry['tracing_overhead']:.3f}", flush=True)
        report[w] = entry
    return report


def compare(spec: dict, new: dict, old: dict, label: str) -> None:
    """Print how far the new set's medians moved from an older set's."""
    better = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    for w, entry in new.items():
        for name, s in entry["metrics"].items():
            ref = old.get(w, {}).get("metrics", {}).get(name)
            if not ref or not ref["median"]:
                continue
            change = s["median"] / ref["median"] - 1.0
            direction, bound = better[name]
            worse = change if direction == "lower" else -change
            print(f"{w:16s} {name:14s} median vs {label}: {change:+.3f}"
                  f"{'  WORSE THAN BOUND' if worse > bound else ''}", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--out")
    a = p.parse_args()
    key = f"seeds {a.first_seed}-{a.first_seed + RUNS - 1}"
    report = measure_set(spec, a.first_seed)
    if a.out:
        sets = {}
        if os.path.exists(a.out):
            with open(a.out) as f:
                sets = json.load(f)
        for label, old in sets.items():
            if label != key:
                compare(spec, report, old, label)
        sets[key] = report
        with open(a.out, "w") as f:
            json.dump(sets, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
