"""Spans, Spark status-store reads and peak-memory sampling.

Everything here observes the program from outside: spans wrap calls into
the package's public functions, the status store is read through Py4J
after each traced call, and memory is read from the JVM's memory pools
and from ``/proc``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time


class Tracer:
    """In-memory spans (name, start, end, parent, attrs), written at exit.

    ``span`` is a context manager yielding the span record (callers add
    to its ``attrs``); nesting gives each span its parent.
    Times are ``time.perf_counter()`` seconds relative to the tracer's
    creation."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list = []
        self._stack: list = []

    def span(self, name: str):
        return _Span(self, name)

    def self_times(self) -> dict:
        """Span name -> total self time: duration minus the part of the
        interval its child spans cover."""
        children: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict = {}
        for s in self.spans:
            covered = _covered(children.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered
            )
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times(),
                       **extra}, fh, indent=1)


def _covered(children: list) -> float:
    total, end = 0.0, None
    for c in sorted(children, key=lambda c: c["start"]):
        start = c["start"] if end is None else max(c["start"], end)
        if c["end"] > start:
            total += c["end"] - start
            end = c["end"]
    return total


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.rec = {
            "id": len(t.spans),
            "name": self.name,
            "parent": t._stack[-1]["id"] if t._stack else None,
            "start": time.perf_counter() - t.t0,
            "end": None,
            "attrs": {},
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec)
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter() - self.tracer.t0
        self.tracer._stack.pop()
        return False


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

class StatusStore:
    """Reads the stages, jobs and SQL executions that ran since the last
    ``mark()`` from Spark's status store (``sc.statusStore()`` and the
    SQL ``sharedState().statusStore()``).

    The session must retain enough stages/jobs/executions that none is
    evicted between a call and its read (see ``session.session_conf``)."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.jvm = spark._jvm
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._stage = self._job = self._exec = -1
        self.mark()

    def _drain(self) -> None:
        # status updates arrive through the listener bus asynchronously
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def _stages(self):
        gw = self.spark.sparkContext._gateway
        return self.store.stageList(
            self.jvm.java.util.ArrayList(), False, False,
            gw.new_array(self.jvm.double, 0), self.jvm.java.util.ArrayList(),
        )

    def mark(self) -> None:
        self._drain()
        st = self._stages()
        self._stage = max([st.apply(i).stageId() for i in range(st.size())] + [-1])
        jobs = self.store.jobsList(self.jvm.java.util.ArrayList())
        self._job = max([jobs.apply(i).jobId() for i in range(jobs.size())] + [-1])
        ex = self.sql_store.executionsList()
        self._exec = max([ex.apply(i).executionId() for i in range(ex.size())] + [-1])

    def read(self) -> dict:
        """Totals over the stages/jobs/executions since ``mark()``, plus
        per-execution SQL operator metrics; then re-marks."""
        self._drain()
        tot = dict(executor_run_s=0.0, executor_cpu_s=0.0, jvm_gc_s=0.0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0,
                   spill_bytes=0, tasks=0, jobs=0, stages=0)
        st = self._stages()
        for i in range(st.size()):
            sd = st.apply(i)
            if sd.stageId() <= self._stage:
                continue
            tot["stages"] += 1
            tot["executor_run_s"] += sd.executorRunTime() / 1e3
            tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["jvm_gc_s"] += sd.jvmGcTime() / 1e3
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            tot["tasks"] += sd.numTasks()
        jobs = self.store.jobsList(self.jvm.java.util.ArrayList())
        tot["jobs"] = sum(
            1 for i in range(jobs.size()) if jobs.apply(i).jobId() > self._job
        )
        executions = []
        ex = self.sql_store.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() > self._exec:
                executions.append(self._execution(e))
        tot["executions"] = executions
        self.mark()
        return tot

    def _execution(self, e) -> dict:
        """Non-empty SQL operator metrics of one execution, by node."""
        eid = e.executionId()
        values = self.sql_store.executionMetrics(eid)
        nodes = self.sql_store.planGraph(eid).allNodes()
        ops = []
        for i in range(nodes.size()):
            n = nodes.apply(i)
            ms = n.metrics()
            got = {}
            for j in range(ms.size()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    got[m.name()] = v.get()
            if got:
                ops.append({"node": n.name(), "metrics": got})
        return {"id": eid, "description": e.description()[:120], "operators": ops}


# ---------------------------------------------------------------------------
# Peak memory: the Java heap in use plus everything else the program holds
# ---------------------------------------------------------------------------

#: seconds between two samples of the process tree. One sample costs
#: ~80 ms of (mostly kernel) CPU on a 4-core VM with a 3 GiB heap, because
#: the kernel walks every page to compute PSS; memory outside the heap
#: changes slowly, so a sample a second is enough
SAMPLE_INTERVAL = 1.0

#: (Size, Pss) of each mapping in /proc/<pid>/smaps
_SMAPS_SIZE_PSS = re.compile(
    rb"^Size: +(\d+) kB\nKernelPageSize:[^\n]*\nMMUPageSize:[^\n]*\n"
    rb"Rss:[^\n]*\nPss: +(\d+) kB", re.M)


def _children_map() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rfind(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def pss_kb(pid: int, skip_kb: int) -> int:
    """Proportional set size of ``pid`` without its mappings of at least
    ``skip_kb`` (the Java heap, reserved and committed as one block).
    PSS splits each shared page between the processes sharing it, so
    forked Python workers do not count their parent's pages again."""
    try:
        with open(f"/proc/{pid}/smaps", "rb") as fh:
            smaps = fh.read()
    except OSError:
        return 0
    return sum(int(pss) for size, pss in _SMAPS_SIZE_PSS.findall(smaps)
               if int(size) < skip_kb)


def tree_pss_mb(root_pid: int, skip_kb: int, exclude=()) -> float:
    """PSS outside the Java heap of ``root_pid`` and every descendant,
    leaving out the ``exclude`` pids and their descendants, in MiB."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        total += pss_kb(pid, skip_kb)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


class MemorySampler:
    """Peak memory of the program while the ``with`` block runs, in MiB:
    the heap that survives young collections (the peaks of the JVM's old
    and survivor pools, reset on entry; call ``collect()`` before each
    run) plus the peak PSS outside the heap
    of this process and its descendants: the Python driver, the JVM's
    off-heap memory and the Python workers. ``exclude`` pids (and their
    descendants) are not counted. The tree is sampled every
    ``SAMPLE_INTERVAL`` seconds on a background thread.

    Eden is left out: it fills to its fixed size before every young
    collection, so its peak is a session setting, not the program's."""

    def __init__(self, spark, heap_gb: int, exclude=()):
        self.jvm = spark._jvm
        mf = self.jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in mf.getMemoryPoolMXBeans()
                      if p.getType().name() == "HEAP"]
        # mappings of at least half the heap size are the heap itself
        self.skip_kb = heap_gb << 19
        self.exclude = set(exclude)
        self.heap_peak_mb = self.off_heap_peak_mb = 0.0
        self.pool_peaks_mb: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_mb(self) -> float:
        return self.heap_peak_mb + self.off_heap_peak_mb

    def _sample(self) -> None:
        self.off_heap_peak_mb = max(self.off_heap_peak_mb, tree_pss_mb(
            os.getpid(), self.skip_kb, self.exclude))

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL):
            self._sample()

    def collect(self) -> None:
        """Full collection, so the next run starts from the live heap.
        Otherwise the old generation would hold what every earlier run
        promoted, and its peak would grow with the number of runs."""
        self.jvm.java.lang.System.gc()

    def __enter__(self):
        self.collect()
        for p in self.pools:
            p.resetPeakUsage()
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.pool_peaks_mb = {p.getName(): p.getPeakUsage().getUsed() / (1 << 20)
                              for p in self.pools}
        self.heap_peak_mb = sum(v for k, v in self.pool_peaks_mb.items()
                                if "Eden" not in k)
        return False
