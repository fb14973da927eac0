"""Tests of the benchmark itself: the checks catch perturbed outputs, a
rejected output is counted in the failure fraction, inputs are a pure
function of the seed, and the trace plumbing attributes what it should.
No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, harness, inputs, probes
from perfbench.trace import EventLog, Tracer, span_coverage

EXT = inputs.Extent(720, 312, 24, 24, 0.25)


# -- checks -----------------------------------------------------------------

def _frame():
    return pd.DataFrame({
        "aoi_id": ["a", "a", "b"],
        "tcl_year": [2001, 2002, 2001],
        "loss_ha": [1.5, 2.25, 0.125],
        "n": [10, 20, 3],
    })


def test_frames_match_accepts_reordered_rows():
    exp = _frame()
    got = exp.iloc[[2, 0, 1]].reset_index(drop=True)
    assert checks.frames_match(got, exp)


@pytest.mark.parametrize("perturb", [
    lambda f: f.assign(loss_ha=f["loss_ha"] * (1 + 1e-6)),
    lambda f: f.assign(n=f["n"] + np.array([0, 1, 0])),
    lambda f: f.assign(aoi_id=["a", "a", "c"]),
    lambda f: f.iloc[:2],
    lambda f: f.rename(columns={"n": "count"}),
])
def test_frames_match_rejects_perturbed(perturb):
    assert not checks.frames_match(perturb(_frame()), _frame())


def test_contains_brute_box_with_hole():
    geom = [[inputs._box_ring(0, 0, 4, 4), inputs._box_ring(1, 1, 2, 2)]]
    lon = np.array([0.5, 1.5, 3.5, 5.0])
    lat = np.array([0.5, 1.5, 3.5, 0.5])
    assert checks.contains_brute(geom, lon, lat).tolist() == [True, False, True, False]


def test_pip_and_knn_checks_reject_perturbed():
    assert checks.pip_counts_match({"a": 3, "b": 0}, {"a": 3})
    assert not checks.pip_counts_match({"a": 4}, {"a": 3})
    ids = np.array(["l/2", "l/1", "l/3"])
    top = checks.knn_brute(ids, np.array([0.0, 0.0, 1.0]), np.zeros(3), 0.0, 0.0, 2)
    assert top == ["l/1", "l/2"]  # equal distance: image id breaks the tie
    assert checks.knn_match({7: top}, {7: top})
    assert not checks.knn_match({7: top[::-1]}, {7: top})


def test_tile_roundtrip_rejects_one_pixel():
    t = np.arange(16, dtype=np.uint8).reshape(4, 4)
    bad = t.copy()
    bad[2, 3] += 1
    assert checks.tile_roundtrip(t.copy(), t)
    assert not checks.tile_roundtrip(bad, t)


# -- a perturbed result is counted in the failure fraction -------------------

class _FakeWorkload:
    """Ops return i*i; op 2 returns a perturbed value, op 3 raises."""

    cycle = 1

    def op(self, i):
        if i == 3:
            raise RuntimeError("engine error")
        return i * i + (1 if i == 2 else 0)

    def check(self, i, result):
        return result == i * i


def test_perturbed_result_counts_as_failed(monkeypatch):
    wl = _FakeWorkload()
    clock = iter(np.arange(0.0, 100.0, 0.5))
    monkeypatch.setattr(harness.time, "perf_counter", lambda: float(next(clock)))
    latencies, results, errors, _elapsed = harness.closed_loop(wl, 10.0)
    n = len(results)
    assert n >= 4 and errors == 1
    failed = errors + harness.count_failures(wl, results)
    assert failed == 2
    m = harness.end_to_end(1.0, latencies, n, failed, 2**20, 10.0)
    assert m["correct_frac"] == pytest.approx((n - 2) / n)
    assert set(m) == set(harness.END_TO_END)


def test_loop_stops_on_whole_cycles(monkeypatch):
    wl = _FakeWorkload()
    wl.cycle = 3
    clock = iter(np.arange(0.0, 100.0, 0.5))
    monkeypatch.setattr(harness.time, "perf_counter", lambda: float(next(clock)))
    _lat, results, _err, _el = harness.closed_loop(wl, 2.0)
    assert len(results) % 3 == 0 and len(results) >= 3


def test_percentile_nearest_rank():
    v = list(range(1, 11))
    assert harness.percentile(v, 0.9) == 9
    assert harness.percentile(v, 0.5) == 5
    assert harness.percentile([3.0], 0.9) == 3.0


# -- seeded inputs ------------------------------------------------------------

def test_aoi_batch_is_a_function_of_the_seed():
    sizes = [1, 4, 16, 64, 9] * 8
    a = inputs.aoi_batch(5, EXT, sizes, hot_fraction=0.25)
    b = inputs.aoi_batch(5, EXT, sizes, hot_fraction=0.25)
    c = inputs.aoi_batch(6, EXT, sizes, hot_fraction=0.25)
    flat = lambda batch: [np.concatenate([r.ravel() for p in g for r in p]) for _i, g, _s in batch]  # noqa: E731
    assert all(np.array_equal(x, y) for x, y in zip(flat(a), flat(b)))
    assert not all(np.array_equal(x, y) for x, y in zip(flat(a), flat(c)) if x.shape == y.shape)
    assert [s for _i, _g, s in a] == [s for _i, _g, s in c]  # mix fixed by index
    assert {s for _i, _g, s in a} == set(inputs.SHAPES)
    # the hotspot quarter shares one spot; everything stays in the extent
    boxes = np.array([
        np.concatenate([np.vstack([r for p in g for r in p]).min(0),
                        np.vstack([r for p in g for r in p]).max(0)])
        for _i, g, _s in a[:10]
    ])
    assert (boxes[:, :2].max(0) < boxes[:, 2:].min(0)).all()
    for _i, g, _s in a:
        pts = np.vstack([r for p in g for r in p])
        assert pts[:, 0].min() >= EXT.lon0 and pts[:, 0].max() <= EXT.lon1
        assert pts[:, 1].min() >= EXT.lat_bottom and pts[:, 1].max() <= EXT.lat_top


def test_aoi_cell_counts_do_not_depend_on_the_seed():
    from gfw_raster_analysis_lambda_spark.functions import grid as G

    sizes = [1, 2, 4, 9, 16, 25, 64]
    counts = {
        tuple(len(G.polygon_to_cells(G.GRID_BENCH, g)) for _i, g, _s in
              inputs.aoi_batch(seed, EXT, sizes, hot_fraction=0.25))
        for seed in range(8)
    }
    assert len(counts) == 1


def test_points_and_queries_are_seeded():
    p1, p2 = inputs.alert_points(3, EXT, 1000), inputs.alert_points(3, EXT, 1000)
    assert all(np.array_equal(x, y) for x, y in zip(p1, p2))
    assert not np.array_equal(p1[1], inputs.alert_points(4, EXT, 1000)[1])
    _pid, lon, lat = p1
    assert lon.min() > EXT.lon0 and lon.max() < EXT.lon1
    assert lat.min() > EXT.lat_bottom and lat.max() < EXT.lat_top
    q1, q2 = inputs.knn_queries(3, EXT, 50), inputs.knn_queries(3, EXT, 50)
    assert all(np.array_equal(x, y) for x, y in zip(q1, q2))


# -- trace plumbing -----------------------------------------------------------

def test_tracer_disabled_is_free_and_enabled_nests():
    off = Tracer()
    with off.span("request"):
        pass
    assert off.spans == []
    on = Tracer(enabled=True)
    with on.span("request"):
        with on.span("parse"):
            pass
        with on.span("collect"):
            pass
    root = on.spans[0]
    assert [s[2] for s in on.children(root[0])] == ["parse", "collect"]
    assert on.root_of(2) == 0
    assert 0.0 < span_coverage(on, [root]) <= 1.0


def test_probe_self_time_excludes_nested_calls():
    stats = probes.Stats()
    inner = stats.wrap(lambda xs, ys: len(xs), "inner", "points")

    def outer_fn():
        return inner([1, 2, 3], [0, 0, 0])

    outer = stats.wrap(outer_fn, "outer", None)
    assert outer() == 3
    assert stats.totals["inner"][0] == 1 and stats.totals["inner"][2] == 3
    assert stats.totals["outer"][1] <= stats.totals["outer"][1] + stats.totals["inner"][1]
    assert probes.diff({"k": [3, 1.0, 5]}, {"k": [1, 0.5, 2]}) == {"k": [2, 0.5, 3]}


def test_event_log_attributes_jobs_and_kernel_rows(tmp_path):
    plan = {
        "nodeName": "MapInPandas", "metrics": [
            {"name": "number of output rows", "accumulatorId": 11, "metricType": "sum"}],
        "children": [{"nodeName": "WholeStageCodegen (1)", "metrics": [], "children": [{
            "nodeName": "Filter", "metrics": [
                {"name": "number of output rows", "accumulatorId": 12, "metricType": "sum"}],
            "children": [{"nodeName": "Scan parquet", "metrics": [
                {"name": "number of files read", "accumulatorId": 13, "metricType": "sum"}],
                "children": []}],
        }]}],
    }
    task = lambda acc: {  # noqa: E731
        "Event": "SparkListenerTaskEnd", "Stage ID": 4,
        "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Launch Time": 1000, "Finish Time": 1500, "Getting Result Time": 0,
                      "Accumulables": acc},
        "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3 * 10**8,
                         "JVM GC Time": 10, "Executor Deserialize Time": 20,
                         "Result Serialization Time": 0},
    }
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 2, "sparkPlanInfo": plan, "time": 900},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [4], "Submission Time": 950,
         "Properties": {"spark.jobGroup.id": "7", "spark.sql.execution.id": "2"}},
        task([{"ID": 12, "Update": 30}, {"ID": 11, "Update": 5}]),
        task([{"ID": 12, "Update": 12}, {"ID": 11, "Update": 2}]),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 4, "Submission Time": 1000, "Completion Time": 1600, "RDD Info": []}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 2, "accumUpdates": [[13, 6]]},
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events))
    log = EventLog.read_dir(str(tmp_path))
    jobs = log.jobs_in({"7"})
    assert len(jobs) == 1 and log.jobs_in({"8"}) == []
    assert log.stage_ids(jobs) == [4]
    assert log.accum_sum(4, log.kernel_input) == 42  # the Filter feeding the kernel
    assert log.node_metric(4, "MapInPandas", "number of output rows") == 7
    assert log.driver_metric(jobs, "Scan", "number of files read") == 6
    tt = log.task_totals([4])
    assert tt["tasks"] == 2 and tt["run_s"] == pytest.approx(0.8)
    assert tt["sched_s"] == pytest.approx(0.16)
    assert log.stage_wall(4) == pytest.approx(0.6)


# -- the entry point refuses to run without the engine -------------------------

def test_run_without_engine_exits_nonzero_and_prints_nothing(tmp_path):
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(here, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".cache", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "interactive_aoi",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
