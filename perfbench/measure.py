"""Measurement helpers: disk accounting, spans, the Spark REST pull and
the streaming-progress listener.

Untraced passes use only ``DiskLedger`` (between calls, outside the
timed region).  Spans, job tags, REST pulls and the listener are active
only in the traced passes of a ``--trace 1`` run, so untraced timings
carry none of their cost.
"""

from __future__ import annotations

import calendar
import functools
import json
import os
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime


# ---------------------------------------------------------------- disk


class DiskLedger:
    """Counts bytes and files written under a directory by diffing
    (path, size, mtime) snapshots taken at call boundaries."""

    def __init__(self, root: str):
        self.root = root
        self._seen: dict[str, tuple[int, int]] = {}

    def _snapshot(self) -> dict[str, tuple[int, int]]:
        snap = {}
        for dirpath, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:  # removed while walking
                    continue
                snap[p] = (st.st_size, st.st_mtime_ns)
        return snap

    def reset(self) -> None:
        self._seen = self._snapshot()

    def delta(self) -> tuple[int, int]:
        """(bytes, files) new or rewritten since the previous call."""
        snap = self._snapshot()
        new = [v[0] for p, v in snap.items() if self._seen.get(p) != v]
        self._seen = snap
        return sum(new), len(new)

    def on_disk(self) -> int:
        return sum(v[0] for v in self._snapshot().values())


def file_bytes(paths) -> int:
    total = 0
    for p in paths:
        p = p.removeprefix("file://").removeprefix("file:")
        total += os.path.getsize(p)
    return total


def cpu_steal_s() -> float:
    """Steal time of all CPUs so far, in seconds (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int
    span_id: int
    failed: bool = False


@dataclass
class Tracer:
    """In-memory span recorder.  Spans nest by a per-thread stack; a span
    opened on another thread (a streaming foreachBatch callback) parents
    to the innermost span open on the main thread."""

    spans: list[Span] = field(default_factory=list)
    pass_id: int = -1
    enabled: bool = False
    # span times are perf_counter seconds; epoch = perf + epoch_offset
    epoch_offset: float = field(default_factory=lambda: time.time() - time.perf_counter())
    _local: threading.local = field(default_factory=threading.local)
    _main_stack: list[int] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(name, time.perf_counter(), 0.0, parent, self.pass_id,
                        len(self.spans))
            self.spans.append(span)
        stack.append(span.span_id)
        return span

    def close(self, span: Span, failed: bool = False) -> None:
        span.end = time.perf_counter()
        span.failed = failed
        self._stack().pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.open(name)
            ok = False
            try:
                out = fn(*args, **kwargs)
                ok = True
                return out
            finally:
                self.close(span, failed=not ok)

        return traced

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end))
                 for c in children.get(s.span_id, [])])
            out[s.span_id] = (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def instrument(tracer: Tracer, targets: list[tuple[str, str, str]]) -> None:
    """Wrap library functions in spans.  ``targets`` lists (span name,
    module, attribute); every loaded ``astro_spark`` module that holds
    the same function object under any name is rebound, so call sites
    that imported the function directly are traced too."""
    import importlib

    for name, mod_name, attr in targets:
        original = getattr(importlib.import_module(mod_name), attr)
        wrapped = tracer.wrap(name, original)
        for mod_key, mod in list(sys.modules.items()):
            if mod is None or not mod_key.startswith("astro_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, key, wrapped)


# ---------------------------------------------------------------- Spark REST


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(dt.timetuple()) + dt.microsecond / 1e6


class RestPuller:
    """Pulls finished jobs and stages from the driver's status REST API
    (the Spark UI port on localhost) after each traced pass."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"
        self.last_job = -1

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def new_jobs(self) -> tuple[list[dict], dict[int, dict]]:
        """Jobs finished since the previous call, and their stages."""
        jobs: list[dict] = []
        for _ in range(50):
            jobs = [j for j in self._get("/jobs") if j["jobId"] > self.last_job]
            if not any(j["status"] == "RUNNING" for j in jobs):
                break
            time.sleep(0.1)
        if jobs:
            self.last_job = max(j["jobId"] for j in jobs)
        wanted = {sid for j in jobs for sid in j.get("stageIds", [])}
        stages = {}
        if wanted:
            for st in self._get("/stages"):
                if st["stageId"] in wanted:
                    # keep the latest attempt of each stage
                    prev = stages.get(st["stageId"])
                    if prev is None or st.get("attemptId", 0) > prev.get("attemptId", 0):
                        stages[st["stageId"]] = st
        for j in jobs:
            j["_t0"] = _rest_time(j.get("submissionTime"))
            j["_t1"] = _rest_time(j.get("completionTime"))
        return jobs, stages


# ---------------------------------------------------------------- streaming

STREAM_PHASES = ("addBatch", "walCommit", "latestOffset", "getBatch",
                 "queryPlanning", "commitOffsets", "triggerExecution")


def make_progress_listener():
    """A StreamingQueryListener summing per-phase durations, batches and
    input rows while ``listener.active`` is set."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.active = False
            self.lock = threading.Lock()
            self.reset()

        def reset(self):
            self.batches = 0
            self.rows_in = 0
            self.phase_ms = {p: 0 for p in STREAM_PHASES}

        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            if not self.active:
                return
            p = event.progress
            with self.lock:
                self.batches += 1
                self.rows_in += int(p.numInputRows or 0)
                for k, v in (p.durationMs or {}).items():
                    if k in self.phase_ms:
                        self.phase_ms[k] += int(v)

    return ProgressListener()
