"""Tracing for the benchmark: in-memory spans, Spark event-log parsing and
a peak resident-memory probe.

Spans are recorded from outside the program, around calls into a layer's
public functions; each span also tags the Spark jobs it launches with a
job group, so the event log's per-stage task metrics map back to the span
that caused them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Tracer:
    """Spans (id, name, start, end, parent) kept in memory; ``dump`` writes
    them out once, when the benchmark ends."""

    def __init__(self, spark_context=None):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark_context

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"{name}#{sid}", "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev)

    def wrap(self, fn, name_of):
        """``fn`` wrapped in a span named ``name_of(*args, **kwargs)``; a
        ``None`` name calls through untraced."""
        def traced(*args, **kwargs):
            name = name_of(*args, **kwargs)
            if name is None:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: each span's duration minus the
        time its direct children cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                own = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def last_groups(self) -> dict[str, str]:
        """span name -> job group of its LAST instance, so per-stage sums
        describe one call, not every repetition."""
        return {s["name"]: s["group"] for s in self.spans}

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(),
                       **(extra or {})}, f, indent=1)


# ------------------------------------------------------------ event log

def spark_eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``, rolled (eventlog_v2_*/events_*)
    or single-file layout."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                             recursive=True))
    return files or sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                           if os.path.isfile(p))


def parse_event_log(paths) -> dict[str, list[dict]]:
    """Spark JSON event log -> {job group: [per-stage rows]}.

    A stage row holds: stage id, tasks, task_s_sum / task_s_max /
    task_s_median (executor run time), shuffle_read_bytes,
    shuffle_write_bytes, spill_bytes (memory + disk) and gc_s. Jobs with no
    job group land under ``""``."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "read": rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0),
                        "write": wr.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    out: dict[str, list[dict]] = {}
    for sid, ts in sorted(tasks.items()):
        run = [t["run_s"] for t in ts]
        out.setdefault(stage_group.get(sid, ""), []).append({
            "stage": sid,
            "tasks": len(ts),
            "task_s_sum": sum(run),
            "task_s_max": max(run),
            "task_s_median": statistics.median(run),
            "shuffle_read_bytes": sum(t["read"] for t in ts),
            "shuffle_write_bytes": sum(t["write"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            "gc_s": sum(t["gc_s"] for t in ts),
        })
    return out


def layer_stage_metrics(stages: list[dict]) -> dict[str, float]:
    """Sum one layer's stages; task_skew is the worst stage's slowest task
    over its median task (1.0 for single-task stages)."""
    skews = [s["task_s_max"] / s["task_s_median"] if s["task_s_median"] > 0
             else 1.0 for s in stages]
    return {
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
        "gc_s": sum(s["gc_s"] for s in stages),
        "task_skew": max(skews, default=1.0),
    }


# ------------------------------------------------------------ memory

def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        child = todo.pop()
        out.append(child)
        todo += _children(child)
    return out


def _is_pyspark(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def spark_pids(jvm_pid: int) -> list[int]:
    """The driver JVM and the PySpark daemon and workers under it. Other
    descendants are skipped: they are short-lived helpers the JVM spawns
    with vfork, which share the JVM's address space until they exec, so
    counting them counts the JVM twice."""
    return [jvm_pid, *(p for p in descendants(jvm_pid) if _is_pyspark(p))]


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


class PeakRss:
    """Peak resident memory of the driver JVM plus the Python workers it
    forks, between ``__enter__`` and ``__exit__``: each process's kernel
    high-water mark (VmHWM, reset on entry through ``clear_refs``), summed.
    Nothing is sampled, so no short peak is missed and no thread competes
    with the job."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid, self.peak = jvm_pid, 0

    def __enter__(self):
        for p in spark_pids(self.jvm_pid):
            with contextlib.suppress(OSError):
                with open(f"/proc/{p}/clear_refs", "w") as f:
                    f.write("5")
        return self

    def __exit__(self, *exc):
        self.peak = sum(_hwm_bytes(p) for p in spark_pids(self.jvm_pid))
        return False
