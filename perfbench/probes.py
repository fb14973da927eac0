"""Call counters and self-time for the engine's leaf functions.

``install()`` replaces a fixed set of public functions in
``functions.codecs``, ``functions.geometry`` and ``functions.grid`` with
timing wrappers. The engine calls these through their module
(``codecs.decode_tile``, ``geo.rasterize_mask``, ``G.k_ring``), so a
wrapper installed on the module attribute sees every call. Self time is a
call's duration minus the time spent in nested wrapped calls.

The driver installs the probes itself in a traced run; executors get them
from ``perfbench.trace_daemon``, which installs them before forking Python
workers and flushes each worker's totals to a JSON file after every task.
"""

from __future__ import annotations

import functools
import json
import os
import time

# (module, function, stat key, extra counter)
TARGETS = (
    ("gfw_raster_analysis_lambda_spark.functions.codecs", "decode_tile", "codecs.decode", None),
    ("gfw_raster_analysis_lambda_spark.functions.codecs", "encode_tile", "codecs.encode", None),
    ("gfw_raster_analysis_lambda_spark.functions.codecs", "phash64", "codecs.phash", None),
    ("gfw_raster_analysis_lambda_spark.functions.geometry", "rasterize_mask", "geometry.rasterize", None),
    ("gfw_raster_analysis_lambda_spark.functions.geometry", "covers_rect", "geometry.covers_rect", "truthy"),
    ("gfw_raster_analysis_lambda_spark.functions.geometry", "contains_points", "geometry.contains_points", "points"),
    ("gfw_raster_analysis_lambda_spark.functions.grid", "polygon_to_cells", "grid.polygon_to_cells", "result_len"),
    ("gfw_raster_analysis_lambda_spark.functions.grid", "k_ring", "grid.k_ring", None),
)


class Stats:
    """Per-process totals: ``{key: [calls, self_seconds, extra]}``."""

    def __init__(self):
        self.totals: dict = {}
        self._stack: list = []  # child-time accumulators of open calls

    def wrap(self, fn, key: str, extra: str | None):
        totals, stack = self.totals, self._stack
        rec = totals.setdefault(key, [0, 0.0, 0])

        @functools.wraps(fn)
        def probe(*args, **kwargs):
            stack.append(0.0)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = stack.pop()
                if stack:
                    stack[-1] += dt
                rec[0] += 1
                rec[1] += dt - child
            if extra == "truthy":
                rec[2] += bool(out)
            elif extra == "points":
                rec[2] += len(args[1]) if len(args) > 1 else len(kwargs.get("xs", ()))
            elif extra == "result_len":
                rec[2] += len(out)
            return out

        return probe

    def snapshot(self) -> dict:
        return {k: list(v) for k, v in self.totals.items()}

    def flush(self, path: str) -> None:
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(self.snapshot(), f)
        os.replace(tmp, path)


def install() -> Stats:
    """Wrap every target on its defining module; returns the live totals."""
    import importlib

    stats = Stats()
    for mod_name, fn_name, key, extra in TARGETS:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, fn_name)
        setattr(mod, fn_name, stats.wrap(getattr(fn, "__wrapped__", fn), key, extra))
    return stats


def uninstall() -> None:
    import importlib

    for mod_name, fn_name, _key, _extra in TARGETS:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, fn_name)
        setattr(mod, fn_name, getattr(fn, "__wrapped__", fn))


def read_dir(path: str) -> dict:
    """Sum the per-worker totals flushed under ``path``."""
    out: dict = {}
    if not os.path.isdir(path):
        return out
    for name in os.listdir(path):
        if not name.endswith(".json"):
            continue
        try:
            with open(os.path.join(path, name)) as f:
                part = json.load(f)
        except (OSError, ValueError):
            continue  # a worker is mid-replace; its previous file is gone
        merge(out, part)
    return out


def merge(into: dict, part: dict) -> dict:
    for k, v in part.items():
        cur = into.setdefault(k, [0, 0.0, 0])
        for i in range(3):
            cur[i] += v[i]
    return into


def diff(after: dict, before: dict) -> dict:
    return {
        k: [v[i] - before.get(k, [0, 0.0, 0])[i] for i in range(3)]
        for k, v in after.items()
    }
