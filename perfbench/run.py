#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds (once per code version) a cached tile
corpus under ``perfbench/.cache``, sets the workload up several times,
warms it up, then drives it in a closed loop for ``--seconds`` and checks
every output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Progress and a human-readable summary go to stderr. Exits non-zero,
printing no result, when the engine package is not next to this
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "gfw_raster_analysis_lambda_spark")
CACHE = os.path.join(HERE, ".cache")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["interactive_aoi", "batch_pipeline"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run directory, and let workers import the engine and this package."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_MASTER", None)
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: engine package missing: {PACKAGE}", file=sys.stderr)
        return 2
    import shutil

    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        isolate(run_dir)
        from perfbench import harness

        result = harness.run(args, ROOT, PACKAGE, CACHE, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
