"""Per-layer metrics of a traced run, normalised per operation.

Inputs: the tracer's spans for the ops inside the measurement window, the
Spark event log (jobs carry their span id as job group), the probe totals
of the window (driver + Python workers), and bench-side counts computed
from the generated inputs. Times are seconds per operation, counts are per
operation, ratios are plain ratios; a layer a workload does not exercise
reads 0.
"""

from __future__ import annotations

import statistics

from .trace import KERNEL_NODES, EventLog, Tracer, span_coverage

# name -> (unit, better)
PER_LAYER = {
    "sql_frontend.parse_s": ("s/op", "lower"),
    "planner.plan_s": ("s/op", "lower"),
    "planner.eager_jobs": ("count/op", "lower"),
    "planner.aoi_index_s": ("s/op", "lower"),
    "planner.aoi_cell_rows": ("count/op", "lower"),
    "planner.salted_cells": ("count/op", "lower"),
    "session.jobs": ("count/op", "lower"),
    "session.stages": ("count/op", "lower"),
    "session.tasks": ("count/op", "lower"),
    "session.executor_run_s": ("s/op", "lower"),
    "session.executor_cpu_s": ("s/op", "lower"),
    "session.gc_s": ("s/op", "lower"),
    "session.scheduler_delay_s": ("s/op", "lower"),
    "session.shuffle_write_bytes": ("bytes/op", "lower"),
    "session.shuffle_read_bytes": ("bytes/op", "lower"),
    "session.spill_bytes": ("bytes/op", "lower"),
    "session.task_failures": ("count/op", "lower"),
    "images.rows_scanned": ("count/op", "lower"),
    "images.scan_bytes": ("bytes/op", "lower"),
    "images.files_read": ("count/op", "lower"),
    "images.write_s": ("s/op", "lower"),
    "images.bytes_written": ("bytes/op", "lower"),
    "images.stored_bytes_per_pixel": ("ratio", "lower"),
    "zonal.kernel_stage_s": ("s/op", "lower"),
    "zonal.kernel_task_max_over_median": ("ratio", "lower"),
    "zonal.tiles_in": ("count/op", "lower"),
    "zonal.useful_tile_ratio": ("ratio", "higher"),
    "zonal.partial_rows": ("count/op", "lower"),
    "codecs.decode_calls": ("count/op", "lower"),
    "codecs.decode_s": ("s/op", "lower"),
    "codecs.encode_calls": ("count/op", "lower"),
    "codecs.encode_s": ("s/op", "lower"),
    "codecs.phash_s": ("s/op", "lower"),
    "geometry.rasterize_calls": ("count/op", "lower"),
    "geometry.rasterize_s": ("s/op", "lower"),
    "geometry.full_cover_ratio": ("ratio", "higher"),
    "geometry.contains_points_s": ("s/op", "lower"),
    "geometry.points_tested": ("count/op", "lower"),
    "grid.polygon_to_cells_s": ("s/op", "lower"),
    "grid.cells_enumerated": ("count/op", "lower"),
    "grid.k_ring_calls": ("count/op", "lower"),
    "spatial_join.candidate_pairs": ("count/op", "lower"),
    "spatial_join.matches": ("count/op", "higher"),
    "spatial_join.refine_ratio": ("ratio", "higher"),
    "spatial_join.refine_stage_s": ("s/op", "lower"),
    "knn.rounds": ("count/op", "lower"),
    "knn.candidates_scored": ("count/op", "lower"),
    "knn.candidates_per_result": ("ratio", "lower"),
    "knn.round_s": ("s/round", "lower"),
    "trace.span_coverage": ("ratio", "higher"),
    "trace.work_per_s": ("1/s", "higher"),
}

_JOINS = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")


def _div(a, b) -> float:
    return float(a) / float(b) if b else 0.0


def _probe(probes: dict, key: str) -> list:
    return probes.get(key, [0, 0.0, 0])


def compute(
    tracer: Tracer, log: EventLog, probes: dict, window_roots: list,
    n_ops: int, bench_counts: dict, work_per_s: float,
) -> dict:
    """``window_roots``: root span records of the ops in the window."""
    spans = tracer.spans
    in_window = {r[0] for r in window_roots}
    owned = [s for s in spans if s[1] is not None and tracer.root_of(s[0]) in in_window]
    owned_ids = {str(s[0]) for s in owned} | {str(r) for r in in_window}

    def spans_named(*names):
        return [s for s in owned if s[2] in names]

    def total(*names):
        return sum(s[4] - s[3] for s in spans_named(*names))

    def groups(*names):
        out = set()
        for s in owned:
            cur = s
            while cur is not None:
                if cur[2] in names:
                    out.add(str(s[0]))
                    break
                cur = spans[cur[1]] if cur[1] is not None else None
        return out

    jobs = log.jobs_in(owned_ids)
    stages = log.stage_ids(jobs)
    tt = log.task_totals(stages)
    m: dict = {}
    per = lambda v: _div(v, n_ops)  # noqa: E731

    # plans.sql_frontend / plans.planner
    n_parse = len(spans_named("sql_frontend.parse_raster_sql"))
    m["sql_frontend.parse_s"] = _div(total("sql_frontend.parse_raster_sql"), n_parse)
    m["planner.plan_s"] = per(total("planner.run_zonal_query", "planner.run_zonal_queries"))
    eager = groups("planner.run_zonal_query", "planner.run_zonal_queries",
                   "planner.prepare_aoi_index", "sql_frontend.parse_raster_sql")
    m["planner.eager_jobs"] = per(len(log.jobs_in(eager)))
    m["planner.aoi_index_s"] = per(total("planner.prepare_aoi_index"))
    m["planner.aoi_cell_rows"] = per(bench_counts.get("aoi_cell_rows", 0))
    m["planner.salted_cells"] = per(bench_counts.get("salted_cells", 0))

    # session (the Spark runtime)
    m["session.jobs"] = per(len(jobs))
    m["session.stages"] = per(len(stages))
    m["session.tasks"] = per(tt["tasks"])
    m["session.executor_run_s"] = per(tt["run_s"])
    m["session.executor_cpu_s"] = per(tt["cpu_s"])
    m["session.gc_s"] = per(tt["gc_s"])
    m["session.scheduler_delay_s"] = per(tt["sched_s"])
    m["session.shuffle_write_bytes"] = per(tt["shuffle_w"])
    m["session.shuffle_read_bytes"] = per(tt["shuffle_r"])
    m["session.spill_bytes"] = per(tt["spill"])
    m["session.task_failures"] = per(tt["failures"])

    # sources.images
    m["images.rows_scanned"] = per(sum(log.node_metric(s, "Scan", "number of output rows") for s in stages))
    m["images.scan_bytes"] = per(log.driver_metric(jobs, "Scan", "size of files read"))
    m["images.files_read"] = per(log.driver_metric(jobs, "Scan", "number of files read"))
    m["images.write_s"] = per(total("images.write_images_cell_sorted"))
    m["images.bytes_written"] = per(bench_counts.get("bytes_written", 0))
    m["images.stored_bytes_per_pixel"] = _div(
        bench_counts.get("bytes_written", 0), bench_counts.get("raw_bytes", 0)
    )

    # operators.zonal: python kernel stages under zonal spans
    zgroups = groups("planner.run_zonal_query", "planner.run_zonal_queries", "action.collect")
    zroot = {str(r[0]) for r in window_roots if r[2] in ("request", "batch")}
    zgroups = {g for g in zgroups if str(tracer.root_of(int(g))) in zroot}
    kstages = [
        s for s in log.stage_ids(log.jobs_in(zgroups))
        if log.stage_nodes(s) & set(KERNEL_NODES) or log.stages[s].get("scopes", set()) & set(KERNEL_NODES)
    ]
    m["zonal.kernel_stage_s"] = per(sum(log.stage_wall(s) for s in kstages))
    skews = []
    for s in kstages:
        d = log.task_durations(s)
        if len(d) >= 2 and statistics.median(d) > 0:
            skews.append(max(d) / statistics.median(d))
    m["zonal.kernel_task_max_over_median"] = statistics.median(skews) if skews else 0.0
    tiles_in = sum(log.accum_sum(s, log.kernel_input) for s in kstages)
    m["zonal.tiles_in"] = per(tiles_in)
    m["zonal.useful_tile_ratio"] = _div(bench_counts.get("useful_tiles", 0), tiles_in)
    m["zonal.partial_rows"] = per(sum(
        log.node_metric(s, k, "number of output rows") for s in kstages for k in KERNEL_NODES
    ))

    # functions.codecs / geometry / grid (driver + executor probes)
    dec, enc, ph = _probe(probes, "codecs.decode"), _probe(probes, "codecs.encode"), _probe(probes, "codecs.phash")
    m["codecs.decode_calls"] = per(dec[0])
    m["codecs.decode_s"] = per(dec[1])
    m["codecs.encode_calls"] = per(enc[0])
    m["codecs.encode_s"] = per(enc[1])
    m["codecs.phash_s"] = per(ph[1])
    ras, cov, cp = (_probe(probes, k) for k in
                    ("geometry.rasterize", "geometry.covers_rect", "geometry.contains_points"))
    m["geometry.rasterize_calls"] = per(ras[0])
    m["geometry.rasterize_s"] = per(ras[1])
    m["geometry.full_cover_ratio"] = _div(cov[2], cov[0])
    m["geometry.contains_points_s"] = per(cp[1])
    m["geometry.points_tested"] = per(cp[2])
    p2c, kr = _probe(probes, "grid.polygon_to_cells"), _probe(probes, "grid.k_ring")
    m["grid.polygon_to_cells_s"] = per(p2c[1])
    m["grid.cells_enumerated"] = per(p2c[2])
    m["grid.k_ring_calls"] = per(kr[0])

    # operators.spatial_join: the join + refine under the PIP spans
    pip_groups = set()
    for r in window_roots:
        kids = tracer.children(r[0])
        for a, b in zip(kids, kids[1:]):
            if a[2] == "spatial_join.point_in_polygon_join" and b[2] == "action.collect":
                pip_groups |= {str(a[0]), str(b[0])}
    pstages = log.stage_ids(log.jobs_in(pip_groups))
    cand = sum(log.node_metric(s, j, "number of output rows") for s in pstages for j in _JOINS)
    matches = bench_counts.get("matches", 0)
    m["spatial_join.candidate_pairs"] = per(cand)
    m["spatial_join.matches"] = per(matches)
    m["spatial_join.refine_ratio"] = _div(matches, cand)
    m["spatial_join.refine_stage_s"] = per(sum(
        log.stage_wall(s) for s in pstages
        if "ArrowEvalPython" in log.stage_nodes(s) and log.stage_nodes(s) & set(_JOINS)
    ))

    # operators.knn: one SQL execution with a Window node per ring round
    kgroups = groups("knn.knn_geo")
    execs = {j["exec_id"] for j in log.jobs_in(kgroups) if j["exec_id"] is not None}
    rounds = [e for e in execs if "Window" in log.execs.get(e, {}).get("nodes", ())]
    rjobs = [j for j in log.jobs_in(kgroups) if j["exec_id"] in rounds]
    scored = sum(
        log.node_metric(s, j, "number of output rows")
        for s in log.stage_ids(rjobs) for j in _JOINS
    )
    round_wall = sum(
        (log.execs[e]["end"] or 0) - (log.execs[e]["start"] or 0) for e in rounds
    )
    m["knn.rounds"] = per(len(rounds))
    m["knn.candidates_scored"] = per(scored)
    m["knn.candidates_per_result"] = _div(scored, bench_counts.get("knn_results", 0))
    m["knn.round_s"] = _div(round_wall, len(rounds))

    m["trace.span_coverage"] = span_coverage(tracer, window_roots)
    m["trace.work_per_s"] = work_per_s
    return m
