"""Spans around the benchmark's calls into each engine layer, Spark
job/stage/task counts per span, and the memory of the process tree.

A span records name, start, end and the request it belongs to. Each
span runs its Spark jobs under its own job group, so the jobs, stages
and tasks it caused are read back from the SparkContext's status
tracker when it ends. Spans stay in memory until `write` dumps
them at the end of the run.

`SessionMemory` measures the memory of the process tree (this process, the
JVM, Spark's Python workers) while a Spark session runs.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, request: int | None = None):
        """Time the enclosed calls as one span; yields the span record,
        whose counts are filled in after the block ends. Spans do not
        nest: each wraps one call into the engine."""
        with self._lock:
            span_id = next(self._ids)
        group = f"perfbench-{os.getpid()}-{span_id}"
        rec = {"id": span_id, "name": name, "request": request}
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._counts(group))
            with self._lock:
                self.spans.append(rec)

    def _counts(self, group: str, timeout: float = 5.0) -> dict:
        """Jobs, stages run, tasks run and failed tasks of one job group,
        read once the status tracker shows every job of the group done
        (it is fed asynchronously by Spark's listener bus)."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        while True:
            jobs = st.getJobIdsForGroup(group)
            infos = [st.getJobInfo(j) for j in jobs]
            done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        listed, stages, tasks, failed = set(), set(), 0, 0
        for info in infos:
            for sid in info.stageIds if info else ():
                listed.add(sid)
                si = st.getStageInfo(sid)
                if si is None or sid in stages or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages.add(sid)
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": len(stages), "stages_skipped": len(listed - stages),
                "tasks": tasks, "failed_tasks": failed}

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in sorted(self.spans, key=lambda s: s["id"])
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """`root` and every live descendant."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class SessionMemory:
    """Samples, on a background thread, the RSS of each process of a
    running Spark session's tree (this process, the JVM, Spark's Python
    workers); `close` then reads what the JVM keeps alive.

    - `peak_rss`: the peak RSS summed over the tree. The JVM's share of
      it grows towards its heap cap whatever the engine keeps, so it
      tells more about the cap than about the engine.
    - `live`: the peak RSS of the Python processes plus what the JVM
      holds after a full garbage collection at `close`: heap in use,
      non-heap memory (classes, compiled code) and direct buffers. It
      follows what the engine keeps alive. Heap samples taken during
      the run would count old garbage that waits for a collection, and
      that share varied from run to run by a third.
    """

    def __init__(self, spark, interval: float = 0.2):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        pools = mf.getPlatformMXBeans(jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean"))
        self._jvm = jvm
        self._jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._bean = mf.getMemoryMXBean()
        self._direct = [b for b in pools if b.getName() == "direct"][0]
        self.interval = interval
        self.peak_rss = 0
        self.peak_python = 0
        self.live = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def close(self) -> None:
        """Stop sampling and read the JVM's live memory; call before the
        session stops."""
        self._stop.set()
        self._thread.join()
        self._sample()
        self._jvm.System.gc()  # a full, stop-the-world collection
        jvm_live = (self._bean.getHeapMemoryUsage().getUsed()
                    + self._bean.getNonHeapMemoryUsage().getUsed()
                    + self._direct.getMemoryUsed())
        self.live = self.peak_python + jvm_live

    def _sample(self) -> None:
        rss = {pid: _rss_bytes(pid) for pid in process_tree(os.getpid())}
        total = sum(rss.values())
        self.peak_rss = max(self.peak_rss, total)
        self.peak_python = max(self.peak_python, total - rss.get(self._jvm_pid, 0))

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)
