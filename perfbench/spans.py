"""Spans recorded around the calls into each layer, and the Spark event
log folded into them.

A span is (id, parent, kind, name, start_ms, end_ms) on the wall clock in
epoch milliseconds, the clock the Spark event log also uses. Python-side
spans are recorded by the benchmark around the calls it makes: one ``op``
span per timed operation, with ``construct`` / ``plan`` / ``execute``
children for registry queries and ``etl.dims`` / ``etl.fact`` children
for a star build. After the session stops, every Spark job becomes a
child of the innermost span whose window holds its submission time; the
loop is sequential, so the assignment is exact. Spans stay in memory and
are written out with the run record.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from spec import CORPUS_STEPS, LAYERS, REPORTS, SELF_KINDS


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a no-op
    so the untraced run pays nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def open(self, kind: str, name: str = "") -> dict | None:
        """Start a span nested in the innermost open one; :meth:`close`
        ends it. Used directly where a boundary is not lexically nested,
        such as the dims -> fact hand-over inside a star build."""
        if not self.enabled:
            return None
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "kind": kind,
            "name": name,
            "start_ms": now_ms(),
            "end_ms": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        return rec

    @contextmanager
    def span(self, kind: str, name: str = ""):
        rec = self.open(kind, name)
        try:
            yield rec
        finally:
            self.close(rec)

    def close(self, rec: dict | None) -> None:
        if rec is None:
            return
        rec["end_ms"] = now_ms()
        if self._stack and self._stack[-1] == rec["id"]:
            self._stack.pop()


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task totals from the single (uncompressed,
    non-rolling) event log file the session wrote under ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_owner: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"id": jid, "start_ms": ev["Submission Time"], "end_ms": None}
                for sid in ev.get("Stage IDs", []):
                    stage_owner.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _new_stage(info["Stage ID"]))
                st["start_ms"] = info.get("Submission Time")
                st["end_ms"] = info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _new_stage(ev["Stage ID"]))
                _add_task(st, ev)
    for sid, st in stages.items():
        st["job"] = stage_owner.get(sid)
    return {"jobs": jobs, "stages": stages}


def _new_stage(sid: int) -> dict:
    return {
        "id": sid, "start_ms": None, "end_ms": None, "tasks": 0,
        "first_launch_ms": None, "task_sched_delay_ms": 0.0,
        "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        "input_bytes": 0, "input_records": 0, "output_records": 0,
    }


def _add_task(st: dict, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    st["tasks"] += 1
    if launch and (st["first_launch_ms"] is None or launch < st["first_launch_ms"]):
        st["first_launch_ms"] = launch
    run = m.get("Executor Run Time", 0)
    getting = info.get("Getting Result Time", 0)
    fetch = finish - getting if getting else 0
    # the web UI's scheduler delay: task wall not spent deserializing,
    # running, serializing or fetching the result
    st["task_sched_delay_ms"] += max(
        0,
        (finish - launch) - run - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0) - fetch,
    )
    st["run_ms"] += run
    st["cpu_ns"] += m.get("Executor CPU Time", 0)
    st["gc_ms"] += m.get("JVM GC Time", 0)
    sw = m.get("Shuffle Write Metrics", {})
    sr = m.get("Shuffle Read Metrics", {})
    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    st["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    st["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
    st["output_records"] += m.get("Output Metrics", {}).get("Records Written", 0)


# ---------------------------------------------------------------------------
# Folding the event log into the span tree
# ---------------------------------------------------------------------------


def attach_jobs(spans: list[dict], events: dict) -> None:
    """Append one ``job`` span per Spark job, parented to the innermost
    Python span whose window holds the job's submission time (None when
    the job ran outside every span, e.g. during set-up)."""
    py = [s for s in spans if s["end_ms"] is not None]
    for job in sorted(events["jobs"].values(), key=lambda j: j["start_ms"]):
        t = job["start_ms"]
        holders = [s for s in py if s["start_ms"] <= t <= s["end_ms"]]
        parent = max(holders, key=lambda s: s["start_ms"])["id"] if holders else None
        spans.append({
            "id": len(spans), "parent": parent, "kind": "job", "name": f"job {job['id']}",
            "start_ms": float(t), "end_ms": float(job["end_ms"] or t), "job_id": job["id"],
        })


def op_of(spans: list[dict]) -> dict[int, int | None]:
    """Span id -> id of its enclosing ``op`` span (None outside ops)."""
    by_id = {s["id"]: s for s in spans}
    out: dict[int, int | None] = {}
    for s in spans:
        cur = s
        while cur is not None and cur["kind"] != "op":
            cur = by_id.get(cur["parent"]) if cur["parent"] is not None else None
        out[s["id"]] = cur["id"] if cur is not None else None
    return out


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


def self_times(spans: list[dict], events: dict) -> dict[int, float]:
    """Span id -> self time in ms: its duration minus the part of it that
    its children cover. A job's children are its stages."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    stage_iv: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for st in events["stages"].values():
        if st["job"] is not None and st["start_ms"] and st["end_ms"]:
            stage_iv[st["job"]].append((st["start_ms"], st["end_ms"]))
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        iv = stage_iv.get(s.get("job_id"), []) if s["kind"] == "job" else children.get(s["id"], [])
        clipped = [(max(a, x), min(b, y)) for x, y in iv if min(b, y) > max(a, x)]
        out[s["id"]] = (b - a) - _union_ms(clipped)
    return out


# ---------------------------------------------------------------------------
# Per-layer metrics
# ---------------------------------------------------------------------------


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(ops: list[dict], spans: list[dict], events: dict, session_start_s: float) -> dict:
    """Every metric in spec.LAYERS, from the timed ops' span trees. Totals
    are divided by the number of timed ops, so runs that fit a different
    number of ops in their window stay comparable; ``op.*`` metrics are
    medians per query. Metrics of a layer the workload never reaches are 0."""
    attach_jobs(spans, events)
    owner = op_of(spans)
    timed = {r["span"]: r for r in ops}
    n = max(1, len(ops))
    out = {name: 0.0 for name in LAYERS}
    out["session.start_s"] = session_start_s

    by_id = {s["id"]: s for s in spans}
    mine = [s for s in spans if owner[s["id"]] in timed]
    dur = lambda s: (s["end_ms"] - s["start_ms"]) / 1000.0  # noqa: E731
    jobs = {s["job_id"]: s for s in mine if s["kind"] == "job"}
    out["spark.jobs"] = len(jobs) / n
    out["queries.eager_jobs"] = sum(
        1 for s in jobs.values() if by_id[s["parent"]]["kind"] == "construct"
    ) / n
    out["queries.construct_s"] = sum(dur(s) for s in mine if s["kind"] == "construct") / n

    stages = [st for st in events["stages"].values() if st["job"] in jobs]
    tot = defaultdict(float)
    for st in stages:
        for k in ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "input_bytes", "input_records",
                  "output_records", "task_sched_delay_ms"):
            tot[k] += st[k]
        if st["start_ms"] and st["first_launch_ms"]:
            tot["task_sched_delay_ms"] += max(0, st["first_launch_ms"] - st["start_ms"])
    out["spark.stages"] = len(stages) / n
    out["spark.tasks"] = tot["tasks"] / n
    out["spark.sched_delay_s"] = tot["task_sched_delay_ms"] / 1000.0 / n
    out["spark.executor_run_s"] = tot["run_ms"] / 1000.0 / n
    out["spark.executor_cpu_s"] = tot["cpu_ns"] / 1e9 / n
    out["spark.gc_s"] = tot["gc_ms"] / 1000.0 / n
    out["spark.shuffle_write_bytes"] = tot["shuffle_write_bytes"] / n
    out["spark.shuffle_read_bytes"] = tot["shuffle_read_bytes"] / n
    out["spark.spill_bytes"] = tot["spill_bytes"] / n
    out["sources.input_bytes"] = tot["input_bytes"] / n
    out["sources.load_table_calls"] = sum(r.get("load_table_calls", 0) for r in ops) / n
    result_rows = sum(len(r.get("rows") or []) for r in ops) + tot["output_records"]
    if result_rows:
        out["sources.records_read_per_result_row"] = tot["input_records"] / result_rows

    plans = [r["plan"] for r in ops if r.get("plan")]
    for key, name in (
        ("analysis_ms", "catalyst.analysis_ms"),
        ("optimization_ms", "catalyst.optimization_ms"),
        ("planning_ms", "catalyst.planning_ms"),
        ("exchanges", "plans.exchanges"),
        ("single_partition_exchanges", "plans.single_partition_exchanges"),
        ("python_nodes", "plans.python_nodes"),
    ):
        out[name] = sum(p[key] for p in plans) / n

    selfs = self_times(spans, events)
    for s in spans:
        s["self_ms"] = selfs[s["id"]]
    for kind in SELF_KINDS:
        out[f"span.{kind}.self_s"] = sum(selfs[s["id"]] for s in mine if s["kind"] == kind) / 1000.0 / n

    builds = [r for r in ops if r["name"] == "build_star"]
    if builds:
        nb = len(builds)
        out["etl.dims_s"] = sum(dur(s) for s in mine if s["kind"] == "etl.dims") / nb
        out["etl.fact_s"] = sum(dur(s) for s in mine if s["kind"] == "etl.fact") / nb
        out["etl.output_bytes"] = sum(
            sum(t["bytes"] for t in r["warehouse"].values()) for r in builds) / nb
        out["etl.files_written"] = sum(
            sum(t["files"] for t in r["warehouse"].values()) for r in builds) / nb
        out["op.build_star_s"] = _median([r["wall_s"] for r in builds])

    parts = defaultdict(lambda: defaultdict(list))
    for s in mine:
        if s["kind"] in ("construct", "plan", "execute") and by_id[s["parent"]]["kind"] == "op":
            parts[s["name"]][s["kind"]].append(dur(s))
    for q in REPORTS + CORPUS_STEPS:
        walls = [r["wall_s"] for r in ops if r["name"] == q]
        if walls:
            out[f"op.{q}_s"] = _median(walls)
            for kind in ("construct", "plan", "execute"):
                out[f"op.{q}.{kind}_s"] = _median(parts[q][kind])
    return out
