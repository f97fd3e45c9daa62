"""Spans, wrappers, Spark counters and process memory for the benchmark.

Spans are recorded from outside the engine: ``Tracer.instrument``
temporarily replaces module attributes (layer functions, DataFrame
actions, parquet writes) with wrappers that record a span around each
call, so the traced operation runs the engine's own code path.  Spans
stay in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    idx: int
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``run_id`` tags every span of one
    traced operation so spans of different operations never mix."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = ""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.run_id, idx, dict(attrs))
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def current(self) -> Span | None:
        return self.spans[self._stack[-1]] if self._stack else None

    def wrap(self, fn, how, after=None):
        """``fn`` with a span around every call.  ``how`` is the span
        name, or a classifier ``how(tracer, args, kwargs)`` that names
        the span from the call's arguments (e.g. a parquet write named
        by its target table) and returns None to record no span.
        ``after(span, args, kwargs)`` may add counts to the span once
        the call has returned."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span_name = how(self, args, kwargs) if callable(how) else how
            if span_name is None:
                return fn(*args, **kwargs)
            with self.span(span_name) as sp:
                out = fn(*args, **kwargs)
                sp.attrs["result"] = out
                if after is not None:
                    after(sp, args, kwargs)
                return out

        return wrapper

    @contextlib.contextmanager
    def instrument(self, patches, run_id: str):
        """Install ``patches`` — (owner, attribute, how[, after])
        tuples, see ``wrap`` — for the duration of the block."""
        self.run_id = run_id
        saved = []
        try:
            for owner, attr, *how in patches:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(orig, *how))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)
            self.run_id = ""

    def of_run(self, run_id: str) -> list[Span]:
        return [s for s in self.spans if s.run_id == run_id]

    def total(self, name: str, run_id: str | None = None) -> float:
        return sum(s.dur for s in self.spans if s.name == name and (run_id is None or s.run_id == run_id))

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total time, and self time — the span's
        duration minus the part of it covered by its child spans."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        table: dict[str, dict] = {}
        for s in self.spans:
            covered, last = 0.0, s.start
            for c in sorted(children[s.idx], key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            row = table.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += s.dur
            row["self_s"] += s.dur - covered
        return table

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
                **{k: v for k, v in s.attrs.items() if isinstance(v, (int, float, str))},
            }
            for s in self.spans
        ]


def format_table(rows: dict[str, dict]) -> str:
    lines = [f"{'span':34s} {'calls':>5s} {'total_s':>9s} {'self_s':>9s}"]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{name:34s} {r['calls']:5d} {r['total_s']:9.3f} {r['self_s']:9.3f}")
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# Spark engine counters
# ---------------------------------------------------------------------------


def status_counts(sc, groups: list[str]) -> dict[str, int]:
    """Jobs, stages and tasks of the given job groups, from the
    driver's status tracker."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in list(info.stageIds):
                si = st.getStageInfo(sid)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def reduce_event_log(log_dir: str, group_of) -> dict[str, dict]:
    """Task metrics per job group from an uncompressed Spark event log.
    ``group_of(job_group_property)`` maps a job's group (the streaming
    engine sets its own run id) to the benchmark's group name."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "task_run_s": 0.0,
            "task_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
    )
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    g = group_of((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                    out[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif '"SparkListenerStageCompleted"' in line:
                    ev = json.loads(line)
                    sid = ev["Stage Info"]["Stage ID"]
                    out[stage_group.get(sid, "other")]["stages"] += 1
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    row = out[stage_group.get(ev.get("Stage ID"), "other")]
                    row["tasks"] += 1
                    row["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    row["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(out)


# ---------------------------------------------------------------------------
# process memory
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    for f in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(f) as fh:
                kids += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[int, float]:
    """Peak resident set size (VmHWM) in MB of this process and of each
    of its live descendants — the driver JVM and any Python workers."""
    seen: dict[int, float] = {}
    todo = [os.getpid()]
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen[p] = _hwm_kb(p) / 1024.0
        todo += _children(p)
    return seen


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from
    /proc/stat: steal is time a virtual CPU waited for the host."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def process_age_s() -> float:
    """Seconds since this process started (/proc start time against
    the system uptime, both counted from boot)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
