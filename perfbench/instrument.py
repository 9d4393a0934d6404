"""Measurement helpers that live outside the program under test.

* ``RssSampler`` — high-water mark of the resident memory of this process
  and all its descendants (driver, Spark JVM, Python workers), read from
  ``/proc``.
* ``StageCollector`` — per-stage shuffle, spill, run-time and task-time
  figures from Spark's own status store (populated with the UI disabled).
* ``Tracer`` — in-memory spans (name, start, end, parent) written out when
  the run ends, with per-layer self time; ``NullTracer`` is its stand-in
  for untraced jobs.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:  # exited, or a kernel thread
        return ""


def _process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from one scan of ``/proc``,
    leaving out a JVM's children that are still the JVM: between fork and
    exec such a child shows all the JVM's pages again as its own RSS."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name may hold spaces: fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        kids = children.get(pid, ())
        exe = _exe(pid) if kids else ""
        if exe.endswith("/java"):
            kids = [k for k in kids if _exe(k) != exe]
        todo.extend(kids)
    return tree


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's summed RSS every ``interval`` seconds on a
    daemon thread; ``take_peak_mb`` returns the high-water mark since its
    last call."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(root)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval)

    def take_peak_mb(self) -> float:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak / 2**20

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class StageCollector:
    """Reads completed-stage metrics from the SparkContext's status store.

    ``mark()`` before a job, ``collect(mark)`` after it: stages with a
    larger id than the mark are the job's.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._gw = sc._gateway
        self._jvm = sc._jvm

    def _stages(self) -> list:
        # the listener bus delivers task and stage events asynchronously
        self._jsc.listenerBus().waitUntilEmpty()
        arr = self._jvm.java.util.ArrayList
        seq = self._store.stageList(
            arr(), False, False, self._gw.new_array(self._jvm.double, 0),
            arr(),
        )
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def collect(self, mark: int) -> dict:
        stages = [s for s in self._stages()
                  if s.stageId() > mark and str(s.status()) == "COMPLETE"]
        out = {
            "executor_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in stages),
            "spill_bytes": sum(s.diskBytesSpilled() for s in stages),
            "task_skew": 0.0,
        }
        if stages:
            heavy = max(stages, key=lambda s: s.executorRunTime())
            tasks = self._store.taskList(heavy.stageId(), heavy.attemptId(),
                                         1 << 30)
            durations = [tasks.apply(i).duration().get()
                         for i in range(tasks.size())]
            median = statistics.median(durations) if durations else 0
            if median > 0:
                out["task_skew"] = max(durations) / median
        return out


class Tracer:
    """Spans kept in memory: ``with tracer.span("layer.step"):``. The
    layer of a span is the part of its name before the first dot."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_times(self, root: dict) -> dict[str, float]:
        """Seconds per layer spent in the spans under ``root`` (inclusive)
        minus the time covered by their children."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            s = todo.pop()
            children = kids.get(s["id"], [])
            # children of one span run one after another, never overlap
            own = self.duration(s) - sum(self.duration(c) for c in children)
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + own
            todo.extend(children)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class NullTracer:
    """A tracer whose spans record nothing."""

    def span(self, name: str):
        return nullcontext()
