"""Spark work counters read from outside the engine.

:class:`SparkCounters` reads Spark's status store
(``sc.statusStore().jobsList`` / ``stageList``). Unlike
``statusTracker().getJobIdsForGroup(None)`` it sees every job, including
the ones a streaming query runs under its own job group, and it works
with the UI disabled. Both lists come back newest first, so each read
walks only what finished since the previous read and adds it to running
totals; a delta is the difference of two reads.

:class:`StreamProgress` is a ``StreamingQueryListener`` that keeps each
micro-batch's progress, :func:`health` reads the SparkContext's
persistent RDD count and the JVM heap after explicit GCs, and
:func:`tree_cpu_s` the CPU time of the benchmark's process tree.
"""

from __future__ import annotations

import gc
import os
import threading
import time
from dataclasses import asdict, dataclass, fields

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Work:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0

    def __sub__(self, other: "Work") -> "Work":
        return Work(**{
            f.name: getattr(self, f.name) - getattr(other, f.name)
            for f in fields(self)
        })

    def as_dict(self) -> dict:
        return asdict(self)


class SparkCounters:
    """Cumulative Spark work since construction, from the status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._ssc = sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._lock = threading.Lock()
        self._totals = Work()
        self._job_mark = self._newest(self._jobs(), lambda j: j.jobId())
        self._stage_mark = self._newest(self._stages(), lambda s: s.stageId())

    def _jobs(self):
        return self._store.jobsList(None)

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    @staticmethod
    def _newest(seq, key) -> int:
        return key(seq.apply(0)) if seq.length() else -1

    def read(self) -> Work:
        """Wait for the listener bus to deliver every posted event, add
        the jobs and stage attempts that appeared since the last read,
        and return a copy of the totals."""
        with self._lock:
            self._ssc.listenerBus().waitUntilEmpty()
            jobs = self._jobs()
            i, top = 0, self._job_mark
            while i < jobs.length():
                jid = jobs.apply(i).jobId()
                if jid <= self._job_mark:
                    break
                self._totals.jobs += 1
                top = max(top, jid)
                i += 1
            self._job_mark = top
            stages = self._stages()
            i, top = 0, self._stage_mark
            t = self._totals
            while i < stages.length():
                s = stages.apply(i)
                sid = s.stageId()
                if sid <= self._stage_mark:
                    break
                top = max(top, sid)
                i += 1
                if s.status().toString() == "SKIPPED":
                    continue
                t.stages += 1
                t.tasks += s.numCompleteTasks()
                t.executor_run_s += s.executorRunTime() / 1e3
                t.executor_cpu_s += s.executorCpuTime() / 1e9
                t.gc_s += s.jvmGcTime() / 1e3
                t.shuffle_write_bytes += s.shuffleWriteBytes()
                t.shuffle_read_bytes += s.shuffleReadBytes()
                t.input_bytes += s.inputBytes()
                t.output_bytes += s.outputBytes()
            self._stage_mark = top
            return Work(**asdict(self._totals))


class StreamProgress(StreamingQueryListener):
    """Per-run micro-batch progress of every streaming query. ``label``
    names the benchmark op that starts the next queries; a query is
    attributed to the label current when it started."""

    def __init__(self):
        self.label: str | None = None
        self._lock = threading.Lock()
        self._run_label: dict[str, str] = {}
        self.batches: dict[str, list] = {}

    def onQueryStarted(self, event):
        with self._lock:
            self._run_label[str(event.runId)] = self.label

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            label = self._run_label.get(str(p.runId))
            if label is None:
                return
            self.batches.setdefault(label, []).append({
                "add_batch_ms": (p.durationMs or {}).get("addBatch", 0),
                "commit_ms": sum(o.commitTimeMs for o in p.stateOperators),
                "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                "state_store_instances": sum(
                    o.numStateStoreInstances for o in p.stateOperators
                ),
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self, label: str) -> list[dict]:
        with self._lock:
            return self.batches.pop(label, [])


def health(spark, rounds: int = 5) -> dict:
    """Persistent RDDs held by the SparkContext and the JVM heap after
    explicit full GCs (MiB; ``None`` with ``rounds=0``).

    One collection is not enough: what a pass leaves behind is released
    in steps (dead py4j proxies, then Spark's ContextCleaner dropping the
    broadcasts and shuffles of unreachable plans), and a single
    ``System.gc()`` right after a pass reads anywhere from 1x to 6x the
    live set. So Python and the JVM are collected ``rounds`` times a
    quarter second apart and the smallest reading is kept. Each reading
    sums the heap pools' usage as the GC left them, which allocations made
    after the collection cannot inflate."""
    sc = spark.sparkContext
    jvm = sc._gateway.jvm
    pools = [p for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
             if p.getType().toString() == "Heap memory"]
    heap = None
    for i in range(rounds):
        if i:
            time.sleep(0.25)
        gc.collect()
        jvm.java.lang.System.gc()
        used = sum(u.getUsed() for u in (p.getCollectionUsage() for p in pools) if u is not None)
        heap = used if heap is None else min(heap, used)
    return {
        "persistent_rdds": sc._jsc.getPersistentRDDs().size(),
        "heap_mb": None if heap is None else heap / 2**20,
    }


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every process
    below it — the Spark JVM and its Python daemon and workers — including
    what their reaped children used. Read from ``/proc``, so a difference
    of two readings holds the CPU time of the work in between: a process
    that exits between them passes its time on to its parent's reaped
    total. The kernel books time the hypervisor steals as steal, not as
    process time, so this moves far less with a busy host than wall time."""
    stat = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    st = fh.read()
            except OSError:  # exited while listing
                continue
            f = st[st.rindex(")") + 2:].split()
            # ppid; utime + stime + cutime + cstime
            stat[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stat.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stat[pid][1] if pid in stat else 0
        todo += children.get(pid, [])
    return ticks / _TICK
