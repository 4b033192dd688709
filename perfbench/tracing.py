"""Tracing for the benchmark's traced mode: spans recorded around calls
into the package's layers, Spark's event log read back after the run,
and the arithmetic that joins the two.

Spans are kept in memory and turned into numbers only after the session
has stopped. Times are epoch milliseconds, the clock Spark's event log
uses, so a job is attributed to the op whose span contains its
submission time: ops run one at a time, and a streaming query's jobs
(which run on the stream's own thread and carry no job group of the
caller) are attributed the same way.
"""

from __future__ import annotations

import glob
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

def now_ms() -> float:
    return time.time() * 1000.0


def host_probe() -> float:
    """Seconds taken by a fixed single-thread Python loop. Run next to
    every op, outside its timer, so a reader can tell host drift from a
    code change; never used to rescale a metric."""
    t = time.perf_counter()
    s = 0
    for i in range(200_000):
        s += i * i
    return time.perf_counter() - t


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    sid: int = 0


@dataclass
class Tracer:
    """Collects spans. Ops run one at a time; a span opened on another
    thread (the ``foreachBatch`` callback of a streaming drain) nests
    under whatever span is open at that moment, so the stack is shared
    across threads rather than thread-local."""

    enabled: bool = False
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            sp = Span(name, now_ms(), parent=self._stack[-1] if self._stack else None,
                      op=self.op, sid=len(self.spans))
            self.spans.append(sp)
            self._stack.append(sp.sid)
        try:
            yield
        finally:
            with self._lock:
                sp.end = now_ms()
                self._stack.remove(sp.sid)


# --- interval arithmetic (lists of (start, end), sorted, disjoint) ---------

def union(ivs) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(ivs):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(ivs) -> float:
    return sum(b - a for a, b in ivs)


def subtract(ivs, cut) -> list[tuple[float, float]]:
    """``ivs`` minus ``cut`` (both unions)."""
    out = []
    for a, b in ivs:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def clip(ivs, a: float, b: float) -> list[tuple[float, float]]:
    return [(max(x, a), min(y, b)) for x, y in ivs if y > a and x < b]


# --- Spark event log -------------------------------------------------------

@dataclass
class Job:
    jid: int
    submit: float
    end: float = 0.0
    stages: list = field(default_factory=list)
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    input_records: int = 0
    result_bytes: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task metrics summed, from every uncompressed event
    log under ``log_dir`` (one per SparkContext the run started)."""
    out: list[Job] = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        jobs, stage_job = {}, {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    j = Job(e["Job ID"], e["Submission Time"], stages=e["Stage IDs"])
                    jobs[j.jid] = j
                    for s in j.stages:
                        stage_job[s] = j
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
                    j = stage_job[e["Stage ID"]]
                    m = e.get("Task Metrics") or {}
                    j.tasks += 1
                    j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.run_s += m.get("Executor Run Time", 0) / 1e3
                    j.gc_s += m.get("JVM GC Time", 0) / 1e3
                    j.shuffle_write += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    r = m.get("Shuffle Read Metrics", {})
                    j.shuffle_read += r.get("Remote Bytes Read", 0) + r.get(
                        "Local Bytes Read", 0)
                    j.input_records += m.get("Input Metrics", {}).get("Records Read", 0)
                    j.result_bytes += m.get("Result Size", 0)
        out += [j for j in jobs.values() if j.end]
    return out


def op_spark_counters(op_spans: list[Span], jobs: list[Job], slots: int) -> list[dict]:
    """Per op (a top-level span): the Spark counters of the jobs submitted
    inside it, job-busy time (union of job intervals), the driver gap
    (op wall minus job busy) and the slot busy ratio."""
    out = []
    for sp in op_spans:
        mine = [j for j in jobs if sp.start <= j.submit <= sp.end]
        wall = (sp.end - sp.start) / 1e3
        busy = length(clip(union((j.submit, j.end) for j in mine),
                           sp.start, sp.end)) / 1e3
        run_s = sum(j.run_s for j in mine)
        out.append({
            "jobs": len(mine),
            "stages": sum(len(j.stages) for j in mine),
            "tasks": sum(j.tasks for j in mine),
            "executor_cpu_s": sum(j.cpu_s for j in mine),
            "executor_run_s": run_s,
            "gc_s": sum(j.gc_s for j in mine),
            "shuffle_write_bytes": sum(j.shuffle_write for j in mine),
            "shuffle_read_bytes": sum(j.shuffle_read for j in mine),
            "input_records": sum(j.input_records for j in mine),
            "result_bytes": sum(j.result_bytes for j in mine),
            "job_busy_s": busy,
            "driver_gap_s": wall - busy,
            "slot_busy_ratio": run_s / (slots * wall) if wall > 0 else 0.0,
        })
    return out


def layer_shares(spans: list[Span], op_sids: list[int], jobs: list[Job]) -> dict:
    """Each layer's share of the blocking time of the given ops.

    A span's self time is its interval minus its children's intervals.
    Inside a self interval, time covered by a Spark job counts as
    ``spark``; the rest counts for the span's layer (the part of its name
    before the first dot; the op span itself counts as ``harness``).
    Shares over all ops sum to 1."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    busy = union((j.submit, j.end) for j in jobs)
    totals: dict[str, float] = {}
    wall = 0.0

    def walk(sp: Span, layer: str) -> None:
        kids = children.get(sp.sid, [])
        own = subtract([(sp.start, sp.end)], union((k.start, k.end) for k in kids))
        in_jobs = length([iv for a, b in own for iv in clip(busy, a, b)])
        totals["spark"] = totals.get("spark", 0.0) + in_jobs
        totals[layer] = totals.get(layer, 0.0) + length(own) - in_jobs
        for k in kids:
            walk(k, k.name.split(".")[0])

    for sid in op_sids:
        sp = spans[sid]
        wall += sp.end - sp.start
        walk(sp, "harness")
    return {k: v / wall for k, v in sorted(totals.items())} if wall else {}


def durations(spans: list[Span], name: str) -> list[float]:
    """Durations in seconds of every span called ``name``."""
    return [(s.end - s.start) / 1e3 for s in spans if s.name == name]
