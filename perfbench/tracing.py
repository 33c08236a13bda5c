"""Benchmark-side tracing: spans around calls into the program, Spark job
counts per span, task metrics from Spark's event log, and the peak resident
memory of the benchmark's process tree.

Spans live in memory and are written out when the run ends. Each span
sets its own Spark job group (a thread-local property, so it also works
inside the program's thread pools); ``statusTracker()`` then gives the
jobs, stages and tasks each span started, and the event log gives their
task metrics.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    """Records spans (name, start, end, parent) when enabled; a no-op
    context otherwise, so the untraced run pays nothing but the call."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        # a span opened on a pool thread with nothing open there belongs
        # to whatever the main thread has open (the call that made the pool)
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sid = next(self._ids)
        group = f"perfbench-span-{sid}"
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, group)
        stack.append(sid)
        rec = {"id": sid, "name": name, "parent": parent, "group": group, **attrs}
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)
            rec.update(self._job_counts(group))
            with self._lock:
                self.spans.append(rec)

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in st.getJobIdsForGroup(group):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                # a stage whose shuffle output was reused ran no task
                if stage is not None and stage.numCompletedTasks:
                    stages += 1
                    tasks += stage.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def under(self, roots: list[dict]) -> list[dict]:
        """Every span below the given ones."""
        ids = {r["id"] for r in roots}
        out, grew = [], True
        while grew:
            grew = False
            for s in self.spans:
                if s["parent"] in ids and s["id"] not in ids:
                    ids.add(s["id"])
                    out.append(s)
                    grew = True
        return out

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans
            if c["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def dump(self, path: str, t0: float) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                row = dict(s, start=s["start"] - t0, end=s["end"] - t0)
                f.write(json.dumps(row) + "\n")


_TASK_KEYS = ("tasks", "run_ms", "cpu_ms", "shuffle_bytes", "spill_bytes", "gc_ms")


def _log_files(log_dir: str) -> list[str]:
    """The one application's event log; a rolling log is a directory of
    ``events_<n>_...`` parts, read in order."""
    entries = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(entries) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {entries}")
    app = entries[0]
    if not os.path.isdir(app):
        return [app]
    parts = [f for f in os.listdir(app) if f.startswith("events_")]
    return [os.path.join(app, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]


def event_log_metrics(log_dir: str) -> dict[str, dict]:
    """Per job group: summed task metrics from an uncompressed Spark event
    log (run and CPU ms, shuffle write bytes, disk spill, GC ms); tasks of
    jobs outside any group sum under the key ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP) or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    group = stage_group.get(ev.get("Stage ID"), "")
                    acc = out.setdefault(group, dict.fromkeys(_TASK_KEYS, 0.0))
                    acc["tasks"] += 1
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc on a background thread.
    Each process counts its proportional set size, so pages that forked
    workers share are counted once, not once per worker. ``reset()``
    restarts the peak. If sampling fails, leaving the block raises."""

    # reading a 2 GB JVM's smaps_rollup takes ~25 ms of kernel time: at
    # 0.1 s the sampler alone kept about a quarter of a core busy
    INTERVAL_S = 0.5

    def __init__(self):
        self.peak = 0
        self.peak_by_process: dict[str, int] = {}
        self.error: BaseException | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, exc_type, *exc):
        self._stop.set()
        self._thread.join()
        if self.error is not None and exc_type is None:
            raise RuntimeError("memory sampler failed") from self.error

    def reset(self) -> None:
        self.peak = 0

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:  # the process ended between listing and reading
            pass
        return 0

    def _sample(self) -> None:
        # by process name, each name read once per sample: a process may
        # exec another program (the launcher script becomes the JVM)
        by_name: dict[str, int] = {}
        for p in [os.getpid(), *descendants()]:
            name = _comm(p)
            by_name[name] = by_name.get(name, 0) + self._pss(p)
        total = sum(by_name.values())
        if total > self.peak:
            self.peak = total
            self.peak_by_process = by_name

    def _run(self) -> None:
        try:
            while not self._stop.is_set():
                self._sample()
                self._stop.wait(self.INTERVAL_S)
        except BaseException as e:
            self.error = e


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def descendants() -> list[int]:
    """Process ids of every live descendant of this process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out
