"""Tracing for the benchmark's traced run.

Spans are recorded from outside the package: :meth:`Tracer.install`
replaces public functions of the package's modules with wrappers that
open a span around each call.  A span is ``(id, name, parent, op, pass,
start, end)``; spans stay in memory and are written out when the run
ends.  Execution-side numbers come from the Spark event log, whose jobs
are attributed to an op by the job description the runner sets.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import time
from contextlib import contextmanager

#: operator modules whose call time is reported per module
OPERATOR_MODULES = ("dedup", "text", "similarity", "joins", "aggregates", "classify")


class Tracer:
    """In-memory span recorder.  Disabled, :meth:`span` records nothing,
    so the same runner code serves traced and untraced passes."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.pass_no: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "pass": self.pass_no,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrapper(self, fn, name: str):
        # functools.wraps keeps __module__/__qualname__, so cloudpickle
        # still ships the function to Python workers by reference (the
        # worker imports the unwrapped original) and never pickles the
        # tracer with it
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap the package's layer boundaries.

        ``queries`` binds ``read_table`` by ``from ... import``, so the
        name is patched in ``queries`` as well as in ``sources.readers``;
        a wrapper on the readers module alone would see no calls.
        """
        import importlib

        from yet_another_map_reduce_spark import queries, session
        from yet_another_map_reduce_spark.operators import mapreduce
        from yet_another_map_reduce_spark.sources import readers
        from yet_another_map_reduce_spark.streaming import ingest

        session.build_session = self._wrapper(session.build_session, "session.build")
        read_table = self._wrapper(readers.read_table, "readers.read_table")
        readers.read_table = read_table
        queries.read_table = read_table
        modules = [
            (importlib.import_module(f"yet_another_map_reduce_spark.operators.{m}"), f"operators.{m}")
            for m in OPERATOR_MODULES
        ] + [(ingest, "streaming.ingest"), (mapreduce, "operators.mapreduce")]
        for mod, label in modules:
            for attr, fn in list(vars(mod).items()):
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                ):
                    setattr(mod, attr, self._wrapper(fn, label))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def outer_time(spans: list[dict], name: str, keep=lambda s: True) -> float:
    """Total duration of spans called ``name`` that have no ancestor of
    the same name (a module calling itself is counted once)."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["name"] != name or not keep(s):
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != name:
            p = by_id[p]["parent"]
        if p is None:
            total += s["end"] - s["start"]
    return total


def self_time(spans: list[dict], name: str, keep=lambda s: True) -> float:
    """Duration of spans called ``name`` minus the part of each covered
    by its child spans."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    total = 0.0
    for s in spans:
        if s["name"] == name and keep(s):
            kids = sum(c["end"] - c["start"] for c in children.get(s["id"], []))
            total += (s["end"] - s["start"]) - kids
    return total


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def read_event_log(log_dir: str) -> tuple[dict[int, dict], dict[int, dict]]:
    """Jobs and stages from every Spark event log under ``log_dir``.

    Returns ``(jobs, stages)``: a job has its description, submission
    and completion times (ms) and stage ids; a stage has task counts and
    summed task metrics.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    # Spark writes one directory per application, holding rolled
    # ``events_<n>_<app>`` files (plus an ``appstatus`` marker)
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "desc": props.get("spark.job.description"),
                        "start": ev["Submission Time"],
                        "end": None,
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(
                        ev["Stage ID"],
                        {
                            "tasks": 0,
                            "failures": 0,
                            "run_ms": 0,
                            "cpu_ns": 0,
                            "shuffle_write": 0,
                            "shuffle_read": 0,
                            "input": 0,
                            "spill": 0,
                        },
                    )
                    st["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        st["failures"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    st["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return jobs, stages


def exec_metrics(jobs: dict[int, dict], stages: dict[int, dict], windows: list[tuple[float, float]]) -> dict:
    """Execution-layer totals over the jobs submitted inside one of
    ``windows`` (wall-clock seconds of the traced passes).  Ops run one
    after another, so the window attributes every job, including those
    whose description Spark replaces (broadcast exchanges); a stage is
    attributed to the first job that lists it."""
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    picked = {
        jid
        for jid, j in jobs.items()
        if any(lo <= j["start"] / 1e3 <= hi for lo, hi in windows)
    }
    out = {
        "exec.s": _union_seconds(
            [(jobs[j]["start"] / 1e3, jobs[j]["end"] / 1e3) for j in picked if jobs[j]["end"]]
        ),
        "exec.jobs": len(picked),
        "build_jobs": sum(1 for j in picked if (jobs[j]["desc"] or "").endswith("|build")),
        "exec.stages": 0,
        "exec.tasks": 0,
        "exec.task_run_s": 0.0,
        "exec.task_cpu_s": 0.0,
        "exec.shuffle_rounds": 0,
        "exec.shuffle_write_bytes": 0,
        "exec.shuffle_read_bytes": 0,
        "exec.input_bytes": 0,
        "exec.spill_bytes": 0,
        "exec.task_failures": 0,
    }
    for sid, st in stages.items():
        if owner.get(sid) not in picked:
            continue
        out["exec.stages"] += 1
        out["exec.tasks"] += st["tasks"]
        out["exec.task_run_s"] += st["run_ms"] / 1e3
        out["exec.task_cpu_s"] += st["cpu_ns"] / 1e9
        out["exec.shuffle_rounds"] += 1 if st["shuffle_write"] > 0 else 0
        out["exec.shuffle_write_bytes"] += st["shuffle_write"]
        out["exec.shuffle_read_bytes"] += st["shuffle_read"]
        out["exec.input_bytes"] += st["input"]
        out["exec.spill_bytes"] += st["spill"]
        out["exec.task_failures"] += st["failures"]
    return out


def proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants (the JVM, the
    Python worker daemon and its workers)."""
    kids = proc_children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
