"""Layer spans, Spark event-log attribution and process-tree RSS sampling.

Spans are recorded by the benchmark around each call into a layer's public
function; nothing inside the engine is instrumented. Every span counts calls
and wall time. With tracing on, each span also runs its Spark jobs under a
job group named after the layer, and the uncompressed, non-rolling event log
is parsed after the session stops to attribute jobs, stages, tasks, executor
time, shuffle writes and spill to that layer. ``driver_s`` is the part of a
layer's wall time that no Spark job of the layer covers: collects, NumPy
training, planning and Python-side work.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = ("calls", "wall_s", "jobs", "stages", "tasks", "executor_run_ms",
            "shuffle_write_bytes", "spill_bytes", "driver_s")
COUNTER_UNITS = {"calls": "count", "wall_s": "s", "jobs": "count",
                 "stages": "count", "tasks": "count", "executor_run_ms": "ms",
                 "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
                 "driver_s": "s"}
SAMPLE_INTERVAL_S = 0.1


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark 4 defaults to zstd-compressed, rolling event logs; the parser
    reads one plain JSON-lines file per application."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Per-layer call counts and wall times; with ``job_groups`` on, each
    span also tags its Spark jobs with the layer name."""

    def __init__(self, job_groups: bool):
        self.job_groups = job_groups
        self.calls: dict[str, int] = defaultdict(int)
        self.wall: dict[str, float] = defaultdict(float)
        self.spark = None

    @contextmanager
    def span(self, layer: str):
        sc = self.spark.sparkContext if (self.job_groups and self.spark) else None
        if sc is not None:
            sc.setJobGroup(layer, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[layer] += time.perf_counter() - t0
            self.calls[layer] += 1
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span and return its result."""
        with self.span(layer):
            return fn(*args, **kwargs)


def _accumulables(stage_info: dict) -> dict[str, float]:
    out = {}
    for acc in stage_info.get("Accumulables", []):
        name, value = acc.get("Name"), acc.get("Value")
        if name and isinstance(value, (int, float)):
            out[name] = value
        elif name and isinstance(value, str) and value.lstrip("-").isdigit():
            out[name] = int(value)
    return out


def _covered_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals (milliseconds in,
    seconds out): jobs of one layer may overlap."""
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
    return total / 1000.0


def parse_event_logs(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, executor run time, shuffle write
    bytes, spill bytes and the seconds covered by the group's jobs."""
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_group: dict[int, str] = {}
    stats: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_done: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_span[jid] = [ev.get("Submission Time", 0), None]
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_span:
                        job_span[jid][1] = ev.get("Completion Time")
                elif kind == "SparkListenerStageCompleted":
                    stage_done.append(ev["Stage Info"])
    for info in stage_done:
        group = stage_group.get(info["Stage ID"])
        if group is None:
            continue
        acc = _accumulables(info)
        st = stats[group]
        st["stages"] += 1
        st["tasks"] += info.get("Number of Tasks", 0)
        st["executor_run_ms"] += acc.get("internal.metrics.executorRunTime", 0)
        st["shuffle_write_bytes"] += acc.get("internal.metrics.shuffle.write.bytesWritten", 0)
        st["spill_bytes"] += (acc.get("internal.metrics.memoryBytesSpilled", 0)
                              + acc.get("internal.metrics.diskBytesSpilled", 0))
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for jid, group in job_group.items():
        stats[group]["jobs"] += 1
        s, e = job_span[jid]
        if e is not None:
            intervals[group].append((s, e))
    for group, iv in intervals.items():
        stats[group]["in_job_s"] = _covered_seconds(iv)
    return {g: dict(v) for g, v in stats.items()}


def layer_metrics(tracer: Tracer, layers: list[str], log_dir: str) -> dict[str, dict]:
    """``<layer>.<counter>`` for every layer in ``layers``; a layer the
    workload never called reports zero calls."""
    parsed = parse_event_logs(log_dir)
    out = {}
    for layer in layers:
        ev = parsed.get(layer, {})
        wall = tracer.wall.get(layer, 0.0)
        vals = {
            "calls": tracer.calls.get(layer, 0),
            "wall_s": wall,
            "jobs": ev.get("jobs", 0),
            "stages": ev.get("stages", 0),
            "tasks": ev.get("tasks", 0),
            "executor_run_ms": ev.get("executor_run_ms", 0),
            "shuffle_write_bytes": ev.get("shuffle_write_bytes", 0),
            "spill_bytes": ev.get("spill_bytes", 0),
            "driver_s": max(0.0, wall - ev.get("in_job_s", 0.0)),
        }
        for counter in COUNTERS:
            out[f"{layer}.{counter}"] = {"value": vals[counter],
                                         "unit": COUNTER_UNITS[counter]}
    return out


def _parent_map() -> dict[int, list[int]]:
    """ppid -> child pids for every process visible in /proc. Children of
    any thread count: the JVM forks the Python worker daemon from a thread
    other than its main one."""
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed resident set size of this process and all its
    descendants (the JVM and the Python workers it forks) from /proc, on a
    background thread, and keeps the peak."""

    def __init__(self):
        self.peak_kb = 0
        self._paused = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        kids = _parent_map()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            if not self._paused.is_set():
                self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(SAMPLE_INTERVAL_S)

    @contextmanager
    def paused(self):
        """Leave out memory the benchmark itself allocates (the host
        calibration's probe arrays)."""
        self._paused.set()
        try:
            yield
        finally:
            self._paused.clear()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
