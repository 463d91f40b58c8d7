"""Tracing from outside the program: spans, a streaming listener and
reads of the JVM status stores.

Everything here observes the program through its public calls and
Spark's own bookkeeping; nothing is patched into the package.

* `Tracer.span` records (name, start, end, parent, run id) in memory
  around each call the benchmark makes into a layer; `write` dumps
  them when the run ends.
* `ProgressListener` is a `StreamingQueryListener` that keeps every
  micro-batch's progress record.
* `StatusReader.collect` reads, for one job group, the stage rows of
  the core status store (run, CPU and GC time, input, shuffle and
  spill).

All of it works with `spark.ui.enabled=false`.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        """Time the body; when tracing is off only the duration is
        kept (in the yielded dict), nothing is recorded. `enabled` may
        change between spans; a span is recorded if it was on at entry."""
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, **attrs}
        t0 = time.perf_counter()
        recorded = self.enabled
        if recorded:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["duration_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["duration_s"]
            if recorded:
                self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> None:
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "start": start, "end": end, "parent": parent,
                               "run": self.run_id, **attrs})

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


class ProgressListener(StreamingQueryListener):
    """Keeps the progress record of every micro-batch that read rows."""

    def __init__(self) -> None:
        self.progress: list = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if event.progress.numInputRows > 0:
            with self._lock:
                self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list:
        with self._lock:
            out, self.progress = self.progress, []
        return out


STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_memory_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
}


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    values: dict = field(default_factory=dict)

    def add(self, other: "JobStats") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        for k, v in other.values.items():
            self.values[k] = self.values.get(k, 0.0) + v


class StatusReader:
    """Reads Spark's status stores for the jobs of one job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def collect(self, group: str) -> JobStats:
        """Stage totals of every job run under `group`."""
        self._bus.waitUntilEmpty()
        out = JobStats()
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out.jobs += 1
            stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:   # evicted or never submitted (py4j error)
                continue
            if sd.status().toString() != "COMPLETE":
                continue        # skipped stages reuse an earlier shuffle
            out.stages += 1
            out.tasks += sd.numTasks()
            for key, getter in STAGE_FIELDS.items():
                out.values[key] = (out.values.get(key, 0.0)
                                   + float(getattr(sd, getter)()))
        return out

    def storage(self) -> tuple[int, int]:
        """(persisted RDDs, bytes of cached blocks held in memory)."""
        jsc = self.sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        return (len(jsc.getPersistentRDDs()),
                int(sum(info.memSize() for info in infos)))


class RssSampler:
    """Peak resident set size of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(self.interval_s)

    def sample(self) -> int:
        return sum(self._rss(p) for p in descendants(os.getpid()))

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by `root` (default: this process) and
    every live process below it, including their reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(os.getpid() if root is None else root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17
        total += sum(int(f) for f in fields[11:15])
    return total / tick


def descendants(root: int) -> list[int]:
    """`root` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out
