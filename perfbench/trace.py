"""Driver-side spans and Spark event-log attribution for traced runs.

A span is ``(id, parent, name, start, end)`` kept in memory. Entering a
span sets its id as the Spark job group, so every job (and through it every
stage and task) in the event log points back at the span that caused it.
With tracing off, ``Tracer.span`` returns a shared no-op context and sets
no job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

_NULL = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool = False, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list = []  # [id, parent, name, t0, t1]
        self._open: list = []

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        parent = self._open[-1] if self._open else None
        rec = [sid, parent, name, time.time(), None]
        self.spans.append(rec)
        self._open.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec[4] = time.time()
            self._open.pop()
            self._set_group(self._open[-1] if self._open else None)

    def _set_group(self, sid):
        if self.sc is None:
            return
        if sid is None:
            self.sc.setJobGroup("idle", "outside any span")
        else:
            self.sc.setJobGroup(str(sid), self.spans[sid][2])

    def children(self, sid: int) -> list:
        return [s for s in self.spans if s[1] == sid]

    def root_of(self, sid: int) -> int:
        while self.spans[sid][1] is not None:
            sid = self.spans[sid][1]
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [dict(zip(("id", "parent", "name", "start", "end"), s)) for s in self.spans],
                f,
            )


def span_coverage(tracer: Tracer, roots: list) -> float:
    """Mean share of each root span's wall time covered by its direct
    children (1.0 = every moment of the operation is inside a named
    layer call)."""
    shares = []
    for r in roots:
        total = r[4] - r[3]
        kids = sum(c[4] - c[3] for c in tracer.children(r[0]))
        if total > 0:
            shares.append(kids / total)
    return sum(shares) / len(shares) if shares else 0.0


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
# plan nodes running the zonal kernel; the rows their child emits are the
# tiles fed to the kernel
KERNEL_NODES = ("MapInPandas", "FlatMapGroupsInPandas")


class EventLog:
    """The parts of a Spark JSON event log the layer metrics need.

    - ``jobs``: job id -> {group, stages, exec_id, start}
    - ``stages``: stage id -> {start, end, tasks: [task dicts], nodes: set}
    - ``accum_node``: accumulator id -> (plan node name, metric name)
    - ``execs``: SQL execution id -> {start, end, nodes: set of node names}
    - ``driver_accums``: SQL execution id -> [(accumulator id, value)] for
      metrics set on the driver (file counts and sizes of scans)
    - ``kernel_input``: accumulator ids of "number of output rows" of the
      child of each kernel node
    """

    def __init__(self):
        self.jobs: dict = {}
        self.stages: dict = {}
        self.accum_node: dict = {}
        self.execs: dict = {}
        self.driver_accums: dict = {}
        self.kernel_input: set = set()

    @classmethod
    def read_dir(cls, path: str) -> "EventLog":
        log = cls()
        files = sorted(
            os.path.join(d, f)
            for d, _dirs, fs in os.walk(path)
            for f in fs
            if not f.startswith(("appstatus", "."))
        )
        for name in files:
            with open(name) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        log.add(json.loads(line))
        return log

    def _plan(self, exec_id, info) -> None:
        ex = self.execs.setdefault(exec_id, {"start": None, "end": None, "nodes": set()})
        todo = [info]
        while todo:
            node = todo.pop()
            name = node.get("nodeName", "")
            ex["nodes"].add(name)
            for m in node.get("metrics", ()):
                self.accum_node[m["accumulatorId"]] = (name, m["name"])
            if name in KERNEL_NODES:
                acc = _first_rows_metric(node.get("children", ()))
                if acc is not None:
                    self.kernel_input.add(acc)
            todo.extend(node.get("children", ()))

    def add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "stages": list(ev.get("Stage IDs", ())),
                "exec_id": int(exec_id) if exec_id is not None else None,
                "start": ev.get("Submission Time", 0) / 1000.0,
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], {"tasks": [], "nodes": set()})
            st["start"] = info.get("Submission Time", 0) / 1000.0
            st["end"] = info.get("Completion Time", 0) / 1000.0
            st["scopes"] = {
                json.loads(r["Scope"]).get("name", "") for r in info.get("RDD Info", ())
                if r.get("Scope")
            }
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(ev["Stage ID"], {"tasks": [], "nodes": set()})
            st["tasks"].append(ev)
        elif kind == _SQL_START:
            self._plan(ev["executionId"], ev["sparkPlanInfo"])
            self.execs[ev["executionId"]]["start"] = ev.get("time", 0) / 1000.0
        elif kind == _SQL_AQE:
            self._plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == _DRIVER_ACCUMS:
            self.driver_accums.setdefault(ev["executionId"], []).extend(
                (int(a), float(v)) for a, v in ev.get("accumUpdates", ())
            )
        elif kind == _SQL_END:
            ex = self.execs.setdefault(ev["executionId"], {"start": None, "end": None, "nodes": set()})
            ex["end"] = ev.get("time", 0) / 1000.0

    # -- queries ------------------------------------------------------------

    def jobs_in(self, groups: set) -> list:
        return [j for j in self.jobs.values() if j["group"] in groups]

    def stage_ids(self, jobs: list) -> list:
        return sorted({s for j in jobs for s in j["stages"] if s in self.stages and self.stages[s]["tasks"]})

    def node_metric(self, stage_id: int, node_prefix: str, metric: str) -> float:
        """Sum over a stage's tasks of one SQL metric of the plan nodes
        whose name starts with ``node_prefix``."""
        total = 0.0
        for t in self.stages[stage_id]["tasks"]:
            for a in t.get("Task Info", {}).get("Accumulables", ()):
                nm = self.accum_node.get(a.get("ID"))
                if nm and nm[0].startswith(node_prefix) and nm[1] == metric:
                    total += float(a.get("Update") or 0)
        return total

    def accum_sum(self, stage_id: int, ids: set) -> float:
        return sum(
            float(a.get("Update") or 0)
            for t in self.stages[stage_id]["tasks"]
            for a in t.get("Task Info", {}).get("Accumulables", ())
            if a.get("ID") in ids
        )

    def driver_metric(self, jobs: list, node_prefix: str, metric: str) -> float:
        """Sum of a driver-side SQL metric over the executions of ``jobs``."""
        total = 0.0
        for e in {j["exec_id"] for j in jobs if j["exec_id"] is not None}:
            for acc, v in self.driver_accums.get(e, ()):
                nm = self.accum_node.get(acc)
                if nm and nm[0].startswith(node_prefix) and nm[1] == metric:
                    total += v
        return total

    def stage_nodes(self, stage_id: int) -> set:
        st = self.stages[stage_id]
        if not st["nodes"]:
            for t in st["tasks"]:
                for a in t.get("Task Info", {}).get("Accumulables", ()):
                    nm = self.accum_node.get(a.get("ID"))
                    if nm:
                        st["nodes"].add(nm[0])
        return st["nodes"]

    def task_totals(self, stage_ids: list) -> dict:
        out = dict.fromkeys(
            ("tasks", "run_s", "cpu_s", "gc_s", "sched_s", "shuffle_w", "shuffle_r",
             "spill", "failures"), 0.0,
        )
        for sid in stage_ids:
            for t in self.stages[sid]["tasks"]:
                info, m = t.get("Task Info", {}), t.get("Task Metrics") or {}
                reason = (t.get("Task End Reason") or {}).get("Reason", "Success")
                out["tasks"] += 1
                out["failures"] += reason != "Success"
                run_ms = m.get("Executor Run Time", 0)
                out["run_s"] += run_ms / 1000.0
                out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                getting = info.get("Getting Result Time", 0)
                getting = info.get("Finish Time", 0) - getting if getting else 0
                out["sched_s"] += max(
                    0, dur - run_ms - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0) - getting,
                ) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                out["shuffle_w"] += sw.get("Shuffle Bytes Written", 0)
                out["shuffle_r"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                out["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        return out

    def task_durations(self, stage_id: int) -> list:
        return [
            t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
            for t in self.stages[stage_id]["tasks"]
        ]

    def stage_wall(self, stage_id: int) -> float:
        st = self.stages[stage_id]
        return max(0.0, (st.get("end") or 0) - (st.get("start") or 0))


def _first_rows_metric(children) -> int | None:
    """Accumulator id of "number of output rows" on the first node down the
    child chain that has one (codegen wrappers and adapters have none)."""
    todo = list(children)
    while todo:
        node = todo.pop(0)
        for m in node.get("metrics", ()):
            if m["name"] == "number of output rows":
                return m["accumulatorId"]
        todo.extend(node.get("children", ()))
    return None
