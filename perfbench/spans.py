"""Spans, memory sampling and Spark job accounting for the benchmark.

A span times one call into the package from outside, including the
action that materializes its result. Spans nest; each records its wall
time, its self time (wall minus child spans) and the peak resident
memory of the whole process tree (this Python driver, the JVM it
launched and the JVM's Python workers) while it was open. Spans stay in
memory and are folded with Spark's event log after the session stops:
every Spark job is attributed to the span whose job group it ran under
(or, for a job started outside any group, to the innermost span open at
its submission), which gives jobs, stages, executor time, shuffle
writes, spills and driver time (span time with no Spark job running).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _stat(pid) -> tuple | None:
    """``(parent pid, rss in KiB, command)`` of ``pid``, or None if it is
    gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parens: fields start after the last ')'
    fields = stat[stat.rfind(")") + 2:].split()
    return int(fields[1]), int(fields[21]) * _PAGE_KB, stat[stat.find("(") + 1:stat.rfind(")")]


def _proc_table() -> dict:
    """``_stat`` of every process in ``/proc``, by pid."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                table[int(name)] = st
    return table


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    children: dict = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], list(children.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


class MemorySampler:
    """Samples the RSS of this process tree every ``interval`` seconds on
    a daemon thread; keeps the run's peak (and its parts) and the peak
    of each open span. A peak must hold for two consecutive samples: a
    process between ``fork`` and ``exec`` can briefly report its parent's
    whole RSS, and no real allocation of this run comes and goes within
    50 ms.

    The tree's members are found by a scan of all of ``/proc`` every
    ``RESCAN`` samples; the samples in between read only the members'
    own ``stat`` files. A scan holds the GIL for about 2 ms, and the
    driver's py4j calls, which take most of an operation's time, each
    wait for it on return."""

    RESCAN = 10

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_parts: dict = {}
        self._members: list = []
        self._n = 0
        self._last: dict = {}
        self._open: dict = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _parts_mb(self) -> dict:
        """RSS in MB of this process and its descendants, in three parts:
        this process (``driver``), Java processes (``jvm``) and the rest,
        the JVM's Python workers (``workers``)."""
        root = os.getpid()
        if self._n % self.RESCAN == 0:
            table = _proc_table()
            self._members = descendants(root, table)
            stats = [table[p] for p in self._members]
        else:
            stats = [st for st in map(_stat, self._members) if st is not None]
        self._n += 1
        parts = {"driver": _stat(root)[1], "jvm": 0, "workers": 0}
        for _, rss, comm in stats:
            parts["jvm" if comm == "java" else "workers"] += rss
        return {k: v / 1024.0 for k, v in parts.items()}

    def start(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def sample(self) -> float:
        with self._lock:
            now = self._parts_mb()
            held = min((now, self._last or now), key=lambda p: sum(p.values()))
            self._last = now
            mb = sum(held.values())
            if mb > self.peak_mb:
                self.peak_mb, self.peak_parts = mb, held
            for k in self._open:
                self._open[k] = max(self._open[k], mb)
        return mb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def open(self, key) -> None:
        mb = self.sample()
        with self._lock:
            self._open[key] = mb

    def close(self, key) -> float:
        self.sample()
        with self._lock:
            return self._open.pop(key)


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "extra", "peak_rss_mb", "children")

    def __init__(self, sid: int, name: str, parent: "Span | None") -> None:
        self.sid = sid
        self.name = name
        self.parent = parent
        self.start = time.time()
        self.end = self.start
        self.extra: dict = {}
        self.peak_rss_mb = 0.0
        self.children: list = []

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - sum(c.wall for c in self.children)


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields an
    ``extra`` dict nobody reads, so untraced runs pay nothing but a
    context manager per call.

    An extra metric that costs work of its own (a Spark count, a
    directory walk) is passed to ``defer`` and computed by ``flush``
    once no span is open, so spans hold only the package call and the
    action that materializes it."""

    def __init__(self, spark, sampler: MemorySampler, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.sampler = sampler
        self.enabled = enabled
        self.roots: list = []
        self._stack: list = []
        self._next = 0
        self._deferred: list = []

    def defer(self, fn) -> None:
        if self.enabled:
            self._deferred.append(fn)

    def flush(self, run: bool = True) -> None:
        """Run (or, after a failed operation, drop) the deferred extras."""
        assert not self._stack, "flush inside an open span"
        fns, self._deferred = self._deferred, []
        if run:
            for fn in fns:
                fn()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next, name, parent)
        self._next += 1
        (parent.children if parent else self.roots).append(s)
        self._stack.append(s)
        self.sampler.open(s.sid)
        self.sc.setJobGroup(f"pb{s.sid}", name)
        s.start = time.time()
        try:
            yield s.extra
        finally:
            s.end = time.time()
            s.peak_rss_mb = self.sampler.close(s.sid)
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb{parent.sid}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def current(self) -> "Span | None":
        """The innermost open span of a traced run."""
        return self._stack[-1] if self.enabled and self._stack else None

    def all_spans(self) -> list:
        out, stack = [], list(reversed(self.roots))
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(reversed(s.children))
        return out


# --------------------------------------------------------------------- #
# event-log fold
# --------------------------------------------------------------------- #

def read_event_log(event_dir: str) -> dict:
    """Jobs, stages and task metrics from an uncompressed event log."""
    jobs: dict = {}
    stage_job: dict = {}
    stages_run: dict = {}
    # Spark 4 writes a directory of rolled files ``events_<n>_<app>``
    paths = [os.path.join(r, f) for r, _d, fs in os.walk(event_dir) for f in fs
             if not f.startswith(("appstatus_", "."))]
    paths.sort(key=lambda p: [int(t) if t.isdigit() else 0 for t in os.path.basename(p).split("_")])
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": ev["Submission Time"] / 1000.0,
                        "stages": 0, "executor_s": 0.0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stages_run[(sid, ev["Stage Info"].get("Stage Attempt ID", 0))] = sid
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid is None or jid not in jobs or not m:
                        continue
                    j = jobs[jid]
                    j["executor_s"] += m.get("Executor Run Time", 0) / 1000.0
                    j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    for sid in stages_run.values():
        jid = stage_job.get(sid)
        if jid in jobs:
            jobs[jid]["stages"] += 1
    return jobs


SPARK_KEYS = ("jobs", "stages", "executor_s", "shuffle_write_bytes", "spill_bytes")


def fold(tracer: Tracer, jobs: dict) -> None:
    """Attach Spark job metrics to spans: ``spark_self`` (jobs run under
    the span's own group) and ``spark`` (the span and its children), plus
    ``driver_s`` — the span's wall time not covered by any of its jobs."""
    spans = tracer.all_spans()
    by_group = {f"pb{s.sid}": s for s in spans}
    opened = sorted(spans, key=lambda s: s.start)
    for s in spans:
        s.extra["spark_self"] = dict.fromkeys(SPARK_KEYS, 0)
        s.extra["_jobs"] = []
    for j in jobs.values():
        owner = by_group.get(j["group"])
        if owner is None:
            live = [s for s in opened if s.start <= j["submit"] <= s.end]
            if not live:
                continue
            owner = max(live, key=lambda s: s.start)
        acc = owner.extra["spark_self"]
        acc["jobs"] += 1
        for k in SPARK_KEYS[1:]:
            acc[k] += j[k]
        owner.extra["_jobs"].append((j["submit"], j["end"]))

    def total(s: Span) -> tuple[dict, list]:
        acc = dict(s.extra["spark_self"])
        intervals = list(s.extra.pop("_jobs"))
        for c in s.children:
            sub, iv = total(c)
            for k in SPARK_KEYS:
                acc[k] += sub[k]
            intervals += iv
        s.extra["spark"] = acc
        s.extra["driver_s"] = s.wall - _covered(intervals, s.start, s.end)
        return acc, intervals

    for r in tracer.roots:
        total(r)


def _covered(intervals: list, lo: float, hi: float) -> float:
    out, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                out += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        out += cur_b - cur_a
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
