"""Read-only probes into a live Spark session, used from outside the
engine: the app status store (jobs, stages), the SQL status store
(Python-node metrics), the timed Dataset's own QueryExecution
(Catalyst phase times), the block manager (persisted RDDs, storage
bytes), a ``StreamingQueryListener`` and ``/proc`` memory high-water
marks.

Spark 4.1 pitfalls each probe guards against:

* ``executorList(true).totalDuration`` grows by an action's wall time,
  not by summed task time — task time is taken from
  ``stageData(...).executorRunTime`` of completed stages only.
* ``count()`` builds a fresh QueryExecution, so phase times are read
  off the Dataset whose action ran (``phase_ms(df)``).
* ``AppStatusStore.stageList`` takes five arguments; ``stageData`` is
  called with its five-argument signature.
* The listener bus is asynchronous; every reader drains it first.
"""

from __future__ import annotations

import os
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "InPandas", "MapInArrow",
                "MapInPandas", "PythonUDTF", "FlatMapCoGroupsIn")
_UNITS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0,
          "m": 60.0, "min": 60.0, "h": 3600.0}


def _seq(obj):
    """Iterate a Scala collection (or a Java iterable) handed over Py4J."""
    it = obj.iterator()
    while it.hasNext():
        yield it.next()


def _opt(o):
    return o.get() if o.isDefined() else None


def drain(spark) -> None:
    """Wait until every queued listener event has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def phase_ms(df) -> dict[str, int]:
    """Catalyst phase durations (ms) of the QueryExecution that ran
    ``df``'s action — call after the action, on the same Dataset."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for kv in _seq(phases):
        out[kv._1()] = int(kv._2().durationMs())
    return out


class JobWindow:
    """Jobs, stages and SQL executions that started after a mark.

    ``mark()`` records the highest job and SQL execution id seen;
    ``collect()`` drains the listener bus and returns one record per
    newer job."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self.last_job = -1
        self.last_exec = -1
        self.mark()

    def mark(self) -> None:
        drain(self.spark)
        for j in _seq(self.store.jobsList(None)):
            self.last_job = max(self.last_job, j.jobId())
        for e in _seq(self.sql.executionsList()):
            self.last_exec = max(self.last_exec, e.executionId())

    def _stages(self, stage_id: int):
        empty = self.sc._jvm.java.util.ArrayList()
        return _seq(self.store.stageData(stage_id, False, empty, False,
                                         self._no_quantiles))

    def collect(self) -> list[dict]:
        """One record per job newer than the mark: its job group,
        submission time (epoch seconds), task count, task/GC seconds,
        shuffle and spill bytes, plus the Python-node time and rows of
        the SQL execution the job belongs to (booked on its first job)."""
        drain(self.spark)
        jobs: dict[int, dict] = {}
        seen_stages: set[tuple[int, int]] = set()
        for j in _seq(self.store.jobsList(None)):
            jid = j.jobId()
            if jid <= self.last_job:
                continue
            sub = _opt(j.submissionTime())
            rec = jobs[jid] = {
                "job": jid, "group": _opt(j.jobGroup()) or "",
                "submitted": sub.getTime() / 1e3 if sub is not None else None,
                "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                "spill_bytes": 0, "python_eval_s": 0.0, "python_rows": 0,
            }
            for sid in _seq(j.stageIds()):
                for sd in self._stages(sid):
                    key = (sd.stageId(), sd.attemptId())
                    if key in seen_stages or sd.status().toString() != "COMPLETE":
                        continue  # skipped stages ran no tasks
                    seen_stages.add(key)
                    rec["tasks"] += sd.numCompleteTasks()
                    rec["task_s"] += sd.executorRunTime() / 1e3
                    rec["gc_s"] += sd.jvmGcTime() / 1e3
                    rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    rec["spill_bytes"] += (sd.memoryBytesSpilled()
                                           + sd.diskBytesSpilled())
        if jobs:
            self.last_job = max(jobs)
        self._python_metrics(jobs)
        return sorted(jobs.values(), key=lambda r: r["job"])

    def _python_metrics(self, jobs: dict[int, dict]) -> None:
        newest = self.last_exec
        for e in _seq(self.sql.executionsList()):
            eid = e.executionId()
            if eid <= self.last_exec:
                continue
            newest = max(newest, eid)
            ids = sorted(int(k) for k in _seq(e.jobs().keys()) if int(k) in jobs)
            if not ids:
                continue
            rec = jobs[ids[0]]
            metrics = self.sql.executionMetrics(eid)
            for node in _seq(self.sql.planGraph(eid).allNodes()):
                if not any(p in node.name() for p in PYTHON_NODES):
                    continue
                for m in _seq(node.metrics()):
                    raw = _opt(metrics.get(m.accumulatorId()))
                    if raw is None:
                        continue
                    if m.name() == "time to run Python workers":
                        rec["python_eval_s"] += parse_total(raw)
                    elif m.name() == "number of output rows":
                        rec["python_rows"] += int(parse_total(raw))
        self.last_exec = newest


def parse_total(text: str) -> float:
    """The total of a formatted SQL metric: ``'10,000'`` -> 10000.0,
    ``'total (min, med, max ...)\\n8.7 s (...)'`` -> 8.7 (seconds).
    The SQL status store keeps only this rendering, so timing totals
    carry Spark's display precision (0.1 s above one second)."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([a-zµ]*)", line)
    if not m:
        raise ValueError(f"unparseable SQL metric: {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def persisted_rdds(spark) -> int:
    """RDDs currently marked persistent (``cache``/``persist``/
    ``localCheckpoint`` all land here)."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def storage_bytes(spark) -> int:
    """Memory plus disk bytes held by cached blocks right now."""
    total = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        total += info.memSize() + info.diskSize()
    return total


class StorageSampler:
    """Background sampler of ``storage_bytes`` that keeps the peak; the
    peak includes caches an operation creates and drops internally."""

    period_s = 0.1

    def __init__(self, spark):
        self.spark = spark
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, storage_bytes(self.spark))
            self._stop.wait(self.period_s)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=30)
        self.peak = max(self.peak, storage_bytes(self.spark))


class CountingListener(StreamingQueryListener):
    """Counts every streaming progress event.  ``recentProgress`` keeps
    only the last ``spark.sql.streaming.numRecentProgressUpdates`` (100)
    updates, so counting from it undercounts long queries; a listener
    sees every micro-batch."""

    def __init__(self):
        self.batches = 0
        self.batch_ms = 0
        self.state_rows: dict[str, int] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches += 1
        self.batch_ms += p.batchDuration
        # the last progress of a query holds its final state size
        self.state_rows[str(p.id)] = sum(
            s.numRowsTotal for s in p.stateOperators
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def snapshot(self) -> dict:
        return {"batches": self.batches, "batch_s": self.batch_ms / 1e3,
                "state_rows": sum(self.state_rows.values())}


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def host_probe_s() -> float:
    """Wall time of a fixed pure-Python loop (~0.2 s on the reference
    host).  Taken once per run after the session stopped, it tells a
    slower host apart from slower code when two sets of runs differ."""
    t0 = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i * i
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings — a loaded host, not slower code."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0
