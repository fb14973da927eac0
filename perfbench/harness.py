"""Session lifecycle, set-up, the measured closed loop and the
result line. Imported by ``run.py`` after it has isolated the environment.
"""

from __future__ import annotations

import math
import os
import signal
import statistics
import sys
import threading
import time
import traceback

from . import probes
from .trace import EventLog, Tracer

DRIVER_MEMORY = "1g"
PROBE_SETTLE_S = 0.5  # traced runs: let workers flush their last task
MEMORY_SAMPLE_S = 0.2

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "correct_frac": ("ratio", "higher", 0.01),
    "peak_rss_mb": ("MB", "lower", 0.25),
    "latency_p50_s": ("s", "lower", 0.25),
    "latency_p90_s": ("s", "lower", 0.25),
    "work_per_s": ("1/s", "higher", 0.25),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# time the hypervisor stole (a diagnostic on stderr; no metric is adjusted)
# ---------------------------------------------------------------------------

def cpu_ticks() -> tuple:
    """Machine-wide (busy, stolen) CPU ticks from ``/proc/stat``."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy = v[0] + v[1] + v[2] + v[5] + v[6]  # user nice system irq softirq
    return busy, (v[7] if len(v) > 7 else 0)


# ---------------------------------------------------------------------------
# process tree: memory and shutdown
# ---------------------------------------------------------------------------

def tree_pids(root: int) -> list:
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages are split between the processes
    mapping them, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakMemory:
    """Samples the summed PSS of this process and all its descendants."""

    def __init__(self):
        self.samples: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.samples.append(sum(pss_bytes(p) for p in tree_pids(me)))
            self._stop.wait(MEMORY_SAMPLE_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak(self) -> int:
        return max(self.samples, default=0)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark) -> None:
    """Stop Spark, the gateway JVM and every process they started, and wait
    for all of them to end."""
    from pyspark import SparkContext

    descendants = tree_pids(os.getpid())[1:]
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in descendants):
        time.sleep(0.1)
    for p in descendants:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def start_session(run_dir: str, root: str, trace: bool):
    from gfw_raster_analysis_lambda_spark.session import get_spark

    n = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": root,
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    if trace:
        ev_dir = os.path.join(run_dir, "eventlog")
        probe_dir = os.path.join(run_dir, "probes")
        os.makedirs(ev_dir, exist_ok=True)
        os.makedirs(probe_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ev_dir,
            "spark.eventLog.compress": "false",
            "spark.python.daemon.module": "perfbench.trace_daemon",
            "spark.executorEnv.PERFBENCH_PROBE_DIR": probe_dir,
        })
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def percentile(values: list, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def closed_loop(wl, seconds: float):
    """One client: issue ``wl.op(i)`` back to back until ``seconds`` have
    passed and the last op completed a whole ``wl.cycle`` (at least one
    cycle). Whole cycles keep the op mix of a short window the same in
    every run. An op that raises is recorded with result ``None``.
    Latencies are wall times. Returns (latencies, results, errors,
    elapsed)."""
    latencies, results, errors = [], [], 0
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        t0 = time.perf_counter()
        try:
            res = wl.op(i)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res, errors = None, errors + 1
        latencies.append(time.perf_counter() - t0)
        results.append(res)
        i += 1
        if i % wl.cycle == 0 and time.perf_counter() >= deadline:
            return latencies, results, errors, sum(latencies)


def count_failures(wl, results: list) -> int:
    """Ops whose output ``wl.check`` rejects (or whose check raises).
    Ops that raised (result ``None``) are counted by the loop instead."""
    failed = 0
    for k, res in enumerate(results):
        if res is None:
            continue
        try:
            ok = wl.check(k, res)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            log(f"op {k}: output check FAILED")
            failed += 1
    return failed


def end_to_end(setup_s, latencies, n, failed, peak_bytes, work_per_s) -> dict:
    return {
        "setup_s": setup_s,
        "correct_frac": (n - failed) / n,
        "peak_rss_mb": peak_bytes / 2**20,
        "latency_p50_s": percentile(latencies, 0.5),
        "latency_p90_s": percentile(latencies, 0.9),
        "work_per_s": work_per_s,
    }


def run(args, root: str, package: str, cache: str, run_dir: str) -> dict:
    from . import corpus, layers
    from .workloads import WORKLOADS

    trace = bool(args.trace)
    spark = None
    try:
        # set-up: JVM and session start, seeded inputs, reference outputs
        # and warm-up; a corpus build (once per code version) is excluded
        t0 = time.perf_counter()
        spark = start_session(run_dir, root, trace)
        session_s = time.perf_counter() - t0
        corpus_path, built = corpus.ensure(spark, cache, package)
        build_s = time.perf_counter() - t0 - session_s
        if built:
            log(f"built corpus {os.path.basename(corpus_path)} in {build_s:.1f} s")
        tracer = Tracer(trace, spark.sparkContext)
        wl = WORKLOADS[args.workload](spark, tracer, corpus_path, run_dir, args.seed)
        wl.prepare_checks()
        driver_stats = probes.install() if trace else None
        t_warm = time.perf_counter()
        for w in range(wl.warmup_ops):
            wl.op(-1 - w)
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t0 - build_s
        log(f"set-up {setup_s:.3f} s: session {session_s:.3f} s, warm-up {warmup_s:.3f} s")

        probe_dir = os.path.join(run_dir, "probes")
        if trace:
            time.sleep(PROBE_SETTLE_S)
            before = probes.merge(probes.read_dir(probe_dir), driver_stats.snapshot())
        first_span = len(tracer.spans)
        b0, s0 = cpu_ticks()
        with PeakMemory() as mem:
            latencies, results, errors, elapsed = closed_loop(wl, args.seconds)
        b1, s1 = cpu_ticks()
        log(f"steal {(s1 - s0) / max(1, b1 - b0 + s1 - s0):.1%} of busy CPU time in the window")
        if trace:
            time.sleep(PROBE_SETTLE_S)
            window_probes = probes.diff(
                probes.merge(probes.read_dir(probe_dir), driver_stats.snapshot()), before
            )
            probes.uninstall()
        n = len(results)
        failed = errors + count_failures(wl, results)
        ok_results = [(k, r) for k, r in enumerate(results) if r is not None]
        work = sum(wl.work(k) for k in range(n))
        work_per_s = work / elapsed
        log(
            f"{args.workload}: {n} ops in {elapsed:.2f} s, {failed} failed, "
            f"work {work} {wl.work_unit}, peak {mem.peak / 2**20:.0f} MB "
            f"(median {statistics.median(mem.samples) / 2**20:.0f} MB), "
            f"latencies {[round(x, 3) for x in latencies]}"
        )
        if not trace:
            metrics = end_to_end(setup_s, latencies, n, failed, mem.peak, work_per_s)
            units = {k: v[0] for k, v in END_TO_END.items()}
        else:
            bench_counts = wl.counts(ok_results)
            shutdown(spark)
            spark = None
            roots = [s for s in tracer.spans[first_span:] if s[1] is None]
            ev = EventLog.read_dir(os.path.join(run_dir, "eventlog"))
            metrics = layers.compute(
                tracer, ev, window_probes, roots, n, bench_counts, work_per_s
            )
            units = {k: v[0] for k, v in layers.PER_LAYER.items()}
            tracer.dump(os.path.join(cache, f"trace-{args.workload}.json"))
        return {
            "correct": failed == 0,
            "attempted": n,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
    finally:
        shutdown(spark)
