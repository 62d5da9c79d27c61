"""Spans around calls into the program, and Spark's event log folded into them.

A span is ``(id, name, parent, start, end)`` on the driver's wall clock.
While a span is open, every Spark job the driver submits carries the job
group ``span-<id>`` (``SparkContext.setJobGroup``), so the event log names
the span of each job. Spans stay in memory; ``fold`` reads the uncompressed
event log once the session has stopped and attaches to each span the jobs,
stages and task metrics it caused.

Structured-streaming micro-batch jobs do not inherit the caller's job group.
No workload of this benchmark streams, so every job is attributed by group;
a job without one falls to the innermost span whose interval contains its
submission time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

#: SQL metric names of the Python-UDF nodes (ArrowEvalPython,
#: MapInPandas, ...) in Spark 4 plans.
PY_WORKER_TIME = "time to run Python workers"
PY_BYTES_SENT = "data sent to Python workers"


class Tracer:
    """Records spans; with ``tag_jobs``, also tags the jobs each span runs
    once a SparkContext is attached."""

    def __init__(self, tag_jobs: bool = False):
        self.tag_jobs = tag_jobs
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def attach(self, sc) -> None:
        if self.tag_jobs:
            self.sc = sc

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out


# ----------------------------------------------------------------- event log


def event_log_lines(log_dir: str) -> list[str]:
    """Every line of the event logs under ``log_dir``: plain single files,
    and the ``eventlog_v2_*`` directories of rolling logs, whose
    ``events_<n>_*`` parts are read in order of ``n``."""
    lines = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = sorted((int(p.split("_")[1]), p) for p in os.listdir(path)
                           if p.startswith("events_"))
            files = [os.path.join(path, p) for _, p in parts]
        else:
            files = [path]
        for f in files:
            with open(f) as fh:
                lines.extend(fh)
    return lines


def _plan_metrics(node: dict, out: dict, app: int) -> None:
    for m in node.get("metrics", []):
        out[app, m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in node.get("children", []):
        _plan_metrics(child, out, app)


def parse_event_log(lines) -> dict:
    """Jobs, stages and per-stage task totals from Spark's JSON event log.

    Returns ``{"jobs": {(app, job_id): {...}}, "stages": {(app, stage_id):
    {...}}}``: ids restart in every SparkContext, so each is keyed by the
    index of its application (one per ``SparkListenerApplicationStart`` in
    ``lines``). A job holds its submission/completion times (epoch ms), its
    job group and its stage ids; a stage that ran tasks holds the sums over
    them of executor run and GC time, shuffle-write, spill and output bytes,
    plus the Python-node SQL metrics (ms and bytes).
    """
    jobs: dict[tuple, dict] = {}
    stages: dict[tuple, dict] = {}
    sql_metrics: dict[tuple, tuple[str, str]] = {}
    app = 0
    started = False
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerApplicationStart":
            app += started
            started = True
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[app, ev["Job ID"]] = {
                "submit": ev["Submission Time"],
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "stage_ids": [(app, s) for s in ev.get("Stage IDs", [])],
            }
        elif kind == "SparkListenerJobEnd":
            if (app, ev["Job ID"]) in jobs:
                jobs[app, ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault((app, ev["Stage ID"]), _new_stage())
            _add_task(st, ev, sql_metrics, app)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metrics(ev.get("sparkPlanInfo", {}), sql_metrics, app)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0,
            "spill": 0, "output": 0, "py_worker_ms": 0, "py_bytes": 0}


def _add_task(st: dict, ev: dict, sql_metrics: dict, app: int) -> None:
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics", {})
    st["tasks"] += 1
    st["run_ms"] += m.get("Executor Run Time", 0)
    st["gc_ms"] += m.get("JVM GC Time", 0)
    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st["output"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, mtype = sql_metrics.get((app, acc.get("ID")), (acc.get("Name"), None))
        if name not in (PY_WORKER_TIME, PY_BYTES_SENT):
            continue
        update = int(acc.get("Update") or 0)
        if name == PY_WORKER_TIME:
            st["py_worker_ms"] += update / 1e6 if mtype == "nsTiming" else update
        else:
            st["py_bytes"] += update


# -------------------------------------------------------------- attribution


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold(tracer: Tracer, log: dict, cores: int) -> dict[int, dict]:
    """Per span (inclusive of its descendants): wall, jobs, stages, tasks,
    executor run and GC time, shuffle-write/spill/output bytes, Python-node
    time and bytes, and the driver-only gap (wall not covered by any of its
    jobs)."""
    spans = {s["id"]: s for s in tracer.spans}
    own_jobs: dict[int, list[tuple]] = {sid: [] for sid in spans}
    for jid, job in log["jobs"].items():
        sid = None
        group = job["group"] or ""
        if group.startswith("span-") and int(group[5:]) in spans:
            sid = int(group[5:])
        else:
            t = job["submit"] / 1000.0
            inside = [s for s in spans.values()
                      if s["end"] is not None and s["start"] <= t <= s["end"]]
            if inside:
                sid = max(inside, key=lambda s: s["start"])["id"]
        if sid is not None:
            own_jobs[sid].append(jid)
    stage_owner: dict[tuple, tuple] = {}
    for jid in sorted(log["jobs"]):
        for st in log["jobs"][jid]["stage_ids"]:
            stage_owner.setdefault(st, jid)

    out = {}
    for sid, s in spans.items():
        if s["end"] is None:
            continue
        members = [sid] + [d["id"] for d in tracer.descendants(sid)]
        jids = [j for m in members for j in own_jobs[m]]
        wall_ms = (s["end"] - s["start"]) * 1000.0
        t0, t1 = s["start"] * 1000.0, s["end"] * 1000.0
        busy = _union_ms([
            (max(log["jobs"][j]["submit"], t0), min(log["jobs"][j]["end"] or t1, t1))
            for j in jids
        ])
        agg = _new_stage()
        n_stages = 0
        jset = set(jids)
        for st_id, st in log["stages"].items():
            if stage_owner.get(st_id) in jset and st["tasks"]:
                n_stages += 1
                for k in agg:
                    agg[k] += st[k]
        out[sid] = {
            "name": s["name"],
            "wall_s": wall_ms / 1000.0,
            "jobs": len(jids),
            "stages": n_stages,
            "tasks": agg["tasks"],
            "gc_s": agg["gc_ms"] / 1000.0,
            "core_util": agg["run_ms"] / (wall_ms * cores) if wall_ms else 0.0,
            "driver_gap_s": max(wall_ms - busy, 0.0) / 1000.0,
            "shuffle_write_bytes": agg["shuffle_write"],
            "spill_bytes": agg["spill"],
            "bytes_written": agg["output"],
            "python_worker_s": agg["py_worker_ms"] / 1000.0,
            "arrow_bytes_to_python": agg["py_bytes"],
        }
    return out


def reconcile(tracer: Tracer, folded: dict[int, dict], root: int) -> dict:
    """Split a span's wall into its child spans plus the time no child
    covers, and each child's wall into time with a Spark job running and
    the driver-only gap, so every part sums to the wall it splits."""
    wall = folded[root]["wall_s"]
    kids = {}
    for k in tracer.children(root):
        f = folded[k["id"]]
        kids[k["name"]] = {"wall_s": f["wall_s"], "jobs": f["jobs"],
                           "job_s": f["wall_s"] - f["driver_gap_s"],
                           "driver_gap_s": f["driver_gap_s"]}
    return {"wall_s": wall, "spans": kids,
            "unspanned_s": wall - sum(k["wall_s"] for k in kids.values())}
