"""Measurement from outside the package: spans, Spark status-store
counters, process-tree RSS and persistent-RDD leak accounting.

Nothing here changes how the package runs. Spans wrap calls the benchmark
makes into the package; the status store and the persistent-RDD registry
are read through py4j from the running SparkContext; RSS is read from
``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans ``(name, start, end, parent, run_id)``; written to
    JSON once, at the end. With ``enabled=False`` it only times."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = "setup"

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, **attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=0)


class StatusStore:
    """Completed-stage counters from ``SparkContext.statusStore()`` (it is
    populated even with ``spark.ui.enabled=false``).

    ``mark()`` remembers the highest stage id seen; ``since_mark()`` returns
    one dict per stage completed after it, with its slowest and median task.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self._last = -1

    def _stages(self):
        self._sc.listenerBus().waitUntilEmpty()
        seq = self._sc.statusStore().stageList(
            None, False, False, self._gw.new_array(self._gw.jvm.double, 0),
            self._gw.jvm.java.util.ArrayList(),
        )
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> None:
        self._last = max([s.stageId() for s in self._stages()], default=self._last)

    def since_mark(self) -> list[dict]:
        out = []
        store = self._sc.statusStore()
        for s in self._stages():
            if s.stageId() <= self._last or s.status().toString() != "COMPLETE":
                continue
            tasks = store.taskList(s.stageId(), s.attemptId(), 1 << 20)
            durs = []
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durs.append(int(d.get()))
            out.append({
                "stage_id": s.stageId(),
                "name": s.name(),
                "tasks": s.numCompleteTasks(),
                "executor_run_ms": s.executorRunTime(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "memory_spilled_bytes": s.memoryBytesSpilled(),
                "disk_spilled_bytes": s.diskBytesSpilled(),
                "task_ms_max": max(durs, default=0),
                "task_ms_median": statistics.median(durs) if durs else 0,
            })
        self.mark()
        return sorted(out, key=lambda r: r["stage_id"])


def stage_totals(stages: list[dict], wall_s: float, cores: int) -> dict:
    """Per-pass Spark counters from ``StatusStore.since_mark()`` rows."""
    run_ms = sum(s["executor_run_ms"] for s in stages)
    return {
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6,
        "spark.shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in stages) / 1e6,
        "spark.spill_mb": sum(s["memory_spilled_bytes"] for s in stages) / 1e6,
        "spark.busy_share": run_ms / 1000.0 / (wall_s * cores),
    }


def leaked_rdds(spark) -> int:
    """Size of the persistent-RDD registry; then release every entry, so a
    pass never runs against blocks an earlier pass left behind."""
    registry = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = list(registry.values())
    for rdd in rdds:
        rdd.unpersist()
    return len(rdds)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids, out, todo = kids or _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by every process this one started (the
    JVM and the Python workers), including reaped children."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


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
    """Peak of the summed RSS of the Spark driver JVM and the Python workers
    it forks, sampled on a thread."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_procs: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.period_s)

    def sample(self, me: int | None = None) -> None:
        me = me or os.getpid()
        # The JVM is this process's child. Count it and every Python
        # process below it, but not the short-lived forks the JVM makes to
        # run shell commands: until they exec they report the JVM's RSS.
        kids = _children()
        jvms = set(kids.get(me, []))
        rss = [_rss_kb(p) for p in descendants(me, kids) if p in jvms or _comm(p).startswith("python")]
        if sum(rss) > self.peak_kb:
            self.peak_kb, self.peak_procs = sum(rss), sorted(rss, reverse=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end its JVM (it exits when its stdin closes) and
    wait until every process this one started has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
