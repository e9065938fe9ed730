"""Tracing for the traced run: spans kept in memory, timed wrappers, the
Spark event log, and the resident memory of the system under test.

Spans are recorded only from the benchmark's own code, around its calls
into each layer. With tracing off the tracer records nothing, so the
untraced runs that give the end-to-end metrics pay no tracing cost.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sequence")
    k = max(0, min(len(xs) - 1, int(-(-p * len(xs) // 100)) - 1))
    return xs[k]


class Tracer:
    """Spans (name, start, end, parent, trace id) kept in memory and written
    out once at the end. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, trace: str | int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "trace": trace,
            "parent": stack[-1] if stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, trace=None, **attrs) -> None:
        """Record a span measured elsewhere (e.g. a micro-batch's progress)."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name, "trace": trace,
                "parent": None, "start": start, "end": end, **attrs,
            })

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class CallTimer:
    """Replaces ``owner.attr`` with a wrapper that times every call; restores
    it on ``close``. Holds per-call durations for count, busy time and
    percentiles."""

    def __init__(self, owner, attr: str):
        self.owner, self.attr = owner, attr
        self.orig = getattr(owner, attr)
        self.durations: list[float] = []
        orig, durations = self.orig, self.durations

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                durations.append(time.perf_counter() - t0)

        setattr(owner, attr, timed)

    def close(self) -> None:
        setattr(self.owner, self.attr, self.orig)


# --------------------------------------------------------------------------
# Resident memory of the system under test, read from /proc
# --------------------------------------------------------------------------


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
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int, exclude: set[int]) -> int:
    """Summed RSS of ``root`` and its descendants, minus excluded subtrees."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Samples the summed RSS of this process tree (the Python driver, its
    JVM and the JVM's Python workers) every ``period`` seconds, leaving out
    the load generator's process."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root, self.exclude))
            self._stop.wait(self.period)

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for one uncompressed, non-rolling event log file."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> list[list[dict]]:
    """Events of each application log in ``log_dir``, one list per
    application (job and stage ids restart with every session). Read after
    the session stopped, so the files are complete."""
    apps = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        events = []
        with open(path) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue  # an in-progress log's torn last line
        apps.append(events)
    return apps


def spark_metrics(apps: list[list[dict]], t0: float, t1: float) -> dict[str, float]:
    """Task and job metrics of the jobs submitted in [t0, t1] (epoch s)."""
    lo, hi = t0 * 1000, t1 * 1000
    spans: list[tuple[float, float]] = []
    run = gc = sh_r = sh_w = spill = 0.0
    per_stage: list[list[float]] = []
    n_tasks = 0
    for events in apps:
        jobs: dict[int, list[float]] = {}
        in_window: set[int] = set()
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart" and lo <= e["Submission Time"] <= hi:
                jobs[e["Job ID"]] = [e["Submission Time"], e["Submission Time"]]
                in_window.update(e.get("Stage IDs", []))
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]][1] = e["Completion Time"]
        spans.extend(map(tuple, jobs.values()))
        stage_tasks: dict[int, list[float]] = {}
        for e in events:
            if e.get("Event") != "SparkListenerTaskEnd" or e["Stage ID"] not in in_window:
                continue
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            n_tasks += 1
            run += m.get("Executor Run Time", 0) / 1000
            gc += m.get("JVM GC Time", 0) / 1000
            rd = m.get("Shuffle Read Metrics") or {}
            sh_r += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            sh_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            stage_tasks.setdefault(e["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"]
            )
        per_stage.extend(stage_tasks.values())
    skew = max(
        (max(d) / max(statistics.median(d), 1.0) for d in per_stage if len(d) > 1),
        default=1.0,
    )
    # wall time of the window that no job covered: driver-side planning,
    # scheduling and the benchmark's own waiting
    busy, cur_end = 0.0, lo
    for start, end in sorted(spans):
        start, end = max(start, cur_end), min(end, hi)
        if end > start:
            busy += end - start
            cur_end = end
    return {
        "spark.jobs": len(spans),
        "spark.tasks": n_tasks,
        "spark.executor_run_s": run,
        "spark.gc_s": gc,
        "spark.shuffle_read_mb": sh_r / 2**20,
        "spark.shuffle_write_mb": sh_w / 2**20,
        "spark.spill_mb": spill / 2**20,
        "spark.task_max_over_median": skew,
        "spark.driver_gap_s": (hi - lo - busy) / 1000,
    }
