"""Spans, Spark status-store counts and memory sampling for the benchmark.

Spans are recorded only here, around calls into ``ficaria_spark``'s public
functions; nothing inside the library is instrumented. Span times are epoch
seconds so they line up with the job times in Spark's status store (epoch
milliseconds).
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    id: int = 0


@dataclass
class Tracer:
    """In-memory span list; ``groups`` lists, in order, the Spark job
    groups of the spans opened with ``job_group=True``, and ``own_s`` is
    the time spent in the tracer's own bookkeeping."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    groups: list[str] = field(default_factory=list)
    own_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    @property
    def sc(self):
        return self.spark.sparkContext

    def add(self, name: str, start: float, end: float,
            parent: int | None) -> int:
        sid = len(self.spans)
        self.spans.append(Span(name, start, end, parent, sid))
        return sid

    @contextmanager
    def span(self, name: str, *, job_group: bool = False):
        """Record a span; with ``job_group`` its Spark jobs run under a
        group of their own, so the status store can be read per span."""
        t = time.perf_counter()
        sid = self.add(name, time.time(), 0.0,
                       self._stack[-1] if self._stack else None)
        self._stack.append(sid)
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        if job_group:
            group = f"perfbench-{sid}-{name}"
            self.groups.append(group)
            self.sc.setJobGroup(group, name)
        self.own_s += time.perf_counter() - t
        try:
            yield sid
        finally:
            self.spans[sid].end = time.time()
            t = time.perf_counter()
            self._stack.pop()
            if job_group:
                self.sc.setLocalProperty("spark.jobGroup.id", outer)
            self.own_s += time.perf_counter() - t

    @contextmanager
    def calls(self, methods: dict[tuple[type, str], str]):
        """While the block runs, record a span named ``methods[(cls, m)]``
        around every call of ``cls.m``, under the span open at the call."""
        def timed(fn, name):
            @functools.wraps(fn)
            def call(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)
            return call

        own = {key: key[0].__dict__.get(key[1]) for key in methods}
        for (cls, m), name in methods.items():
            setattr(cls, m, timed(getattr(cls, m), name))
        try:
            yield
        finally:
            for (cls, m), fn in own.items():
                if fn is None:
                    delattr(cls, m)
                else:
                    setattr(cls, m, fn)

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s.end - s.start

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def descendants(self, sid: int) -> list[Span]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k.id for k in kids]
        return out

    @staticmethod
    def union(spans: list[Span], lo: float, hi: float) -> float:
        """Seconds of [lo, hi] covered by the union of ``spans``."""
        ivs = sorted((max(s.start, lo), min(s.end, hi)) for s in spans)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def covered(self, sid: int) -> float:
        """Seconds of span ``sid`` covered by the union of its children."""
        p = self.spans[sid]
        return self.union(self.children(sid), p.start, p.end)

    def attributed(self, sids: list[int], names: set[str]) -> float:
        """Share of the spans ``sids`` covered by their descendants named
        in ``names``."""
        covered = sum(self.union([d for d in self.descendants(i)
                                  if d.name in names],
                                 self.spans[i].start, self.spans[i].end)
                      for i in sids)
        return covered / sum(self.duration(i) for i in sids)

    def self_time(self, sid: int) -> float:
        return self.duration(sid) - self.covered(sid)

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def to_json(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "self_s": self.self_time(s.id)}
                for s in self.spans]


# ------------------------------------------------------------------ Spark

def _epoch_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def group_jobs(sc, group: str) -> list[dict]:
    """Every Spark job of a job group with its name and epoch times."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = []
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        job = store.job(jid)
        info = tracker.getJobInfo(jid)
        out.append({"id": jid, "name": job.name(),
                    "start": _epoch_s(job.submissionTime()),
                    "end": _epoch_s(job.completionTime()),
                    "stages": list(info.stageIds) if info else []})
    return out


STAGE_FIELDS = ("executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_bytes", "spill_bytes", "scan_rows",
                "stages", "tasks")


def stage_totals(sc, groups: list[str]) -> dict[str, float]:
    """Stage metrics summed over the stages that ran for ``groups``.
    Stages AQE skipped have no attempt in the store and are not counted.
    Scans are counted in rows: a stage's inputBytes undercounts local
    parquet reads (3.3 KB reported for a 2 MB file)."""
    store = sc._jsc.sc().statusStore()
    tot = dict.fromkeys(STAGE_FIELDS, 0.0)
    seen = set()
    for g in groups:
        for job in group_jobs(sc, g):
            for sid in job["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j: no attempt, the stage was skipped
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                tot["executor_run_s"] += st.executorRunTime() / 1e3
                tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                tot["scan_rows"] += st.inputRecords()
                tot["stages"] += 1
                tot["tasks"] += st.numTasks()
    return tot


# ------------------------------------------------------------ processes

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid = stat[stat.rfind(")") + 2:].split()[:2]
        if state != "Z":  # a zombie has ended; only its parent may reap it
            kids.setdefault(int(ppid), []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    todo, out = [pid or os.getpid()], []
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


class RssSampler:
    """Background sampler of the peak resident set of this process's
    descendants: the driver JVM and its Python workers."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb(descendants()))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
