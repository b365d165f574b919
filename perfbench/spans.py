"""Spans timed from outside the library, plus process-tree sampling.

Every public call the benchmark makes into a layer is wrapped in a span
(name, start, end, parent, request id).  Spans are always timed, which
costs two clock reads.  With tracing on, each span also sets its own Spark
job group on the calling thread, and after the run the Spark event log
gives each span its jobs, stages, tasks, input and shuffle bytes (the
event log, unlike ``statusTracker()``, also sees jobs submitted from
threads that carry no group, and keeps every job of the run).  Spans stay
in memory and are written once, at the end.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # wall-clock start, to place event-log jobs that carry no span group
    wall_start: float = field(default_factory=time.time)
    grouped: bool = False  # set its own Spark job group

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[Span] = []
        self._sc = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def attach(self, sc) -> None:
        """Bind the SparkContext whose job groups the spans set."""
        self._sc = sc

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(
        self, name: str, new_request: bool = False, jobs: bool = True,
        **attrs,
    ):
        """Time a block.  ``jobs=False`` leaves the thread's Spark job
        group alone (for client threads that submit no Spark work)."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        request = sid if (new_request or parent is None) else parent.request
        s = Span(
            sid, name, parent.id if parent else None, request,
            time.perf_counter(), attrs=attrs,
        )
        stack.append(s)
        grouped = s.grouped = jobs and self.traced and self._sc is not None
        if grouped:
            self._sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if grouped:
                if parent is not None:
                    self._sc.setJobGroup(parent.group, parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.id] = s.dur - covered
        return out

    # ----- Spark work per span (traced runs) -----

    def attribute_jobs(self, jobs: dict) -> dict[int, list[dict]]:
        """Event-log jobs per span.  A job carrying a span's group belongs
        to that span.  A job with no span group (the serving batcher's
        threads, the streaming query's own thread) belongs to the
        latest-starting grouped span that was open when it was
        submitted."""
        by_group = {s.group: s for s in self.spans}
        grouped = sorted(
            (s for s in self.spans if s.grouped), key=lambda s: s.wall_start
        )
        out: dict[int, list[dict]] = {s.id: [] for s in self.spans}
        for job in jobs.values():
            owner = by_group.get(job["group"])
            if owner is None and job["submit_ms"] is not None:
                t = job["submit_ms"] / 1000.0
                for s in grouped:
                    if s.wall_start <= t <= s.wall_start + s.dur:
                        owner = s
            if owner is not None:
                out[owner.id].append(job)
        return out

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "spans": [
                        {
                            "id": s.id, "name": s.name, "parent": s.parent,
                            "request": s.request,
                            "start_s": s.start - t0, "end_s": s.end - t0,
                            "self_s": selfs[s.id], **s.attrs,
                        }
                        for s in sorted(self.spans, key=lambda s: s.id)
                    ],
                },
                fh,
            )


def parse_event_log(log_dir: str) -> dict:
    """Per-job task count and bytes from a Spark event log.

    Returns ``{job_id: {"group", "submit_ms", "stages", "tasks",
    "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes"}}``."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**"), recursive=True)
        if os.path.isfile(f)
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit_ms": ev.get("Submission Time"),
                        "stages": len(ev.get("Stage IDs", [])),
                        "tasks": 0, "input_bytes": 0,
                        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
                    j["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    j["shuffle_read_bytes"] += r.get(
                        "Remote Bytes Read", 0
                    ) + r.get("Local Bytes Read", 0)
    return jobs


class ProcSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc, with the split
    by process name at the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def _loop(self) -> None:
        while True:
            by_name = self.tree_rss()
            total = sum(by_name.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_by_name = total, by_name
            if self._stop.wait(self.interval):
                return

    def tree_rss(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for pid in descendants(os.getpid()) + [os.getpid()]:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    name = fh.read().strip()
                # only the JVM and Python processes: a child the JVM forks
                # to exec a helper (Hadoop's local file system runs chmod)
                # shares the JVM's pages until its exec, and its RSS would
                # count the JVM twice
                if not name.startswith(("java", "python")):
                    continue
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue  # exited between listing and reading
            out[name] = out.get(name, 0) + rss
        return out


def descendants(root: int) -> list[int]:
    """All live descendant pids of ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_seconds() -> tuple[float, float]:
    """(user, sys) CPU seconds of this process tree, reaped children
    included."""
    tick = os.sysconf("SC_CLK_TCK")
    user = sys_ = 0.0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the comm: utime=11, stime=12, cutime=13, cstime=14
        user += (int(f[11]) + int(f[13])) / tick
        sys_ += (int(f[12]) + int(f[14])) / tick
    return user, sys_


def p50(xs: list[float]) -> float:
    return quantile(xs, 0.5)


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1])."""
    if not xs:
        return 0.0
    ys = sorted(xs)
    pos = q * (len(ys) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(ys) - 1)
    return ys[lo] + (ys[hi] - ys[lo]) * (pos - lo)
