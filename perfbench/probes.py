"""Measurement from outside the engine: peak RSS from ``/proc``, and, in
the traced run, Spark's own reports — streaming progress, query
planning phases, SQL plan metrics and stage metrics.

Nothing here edits or wraps engine code. Spark's listener buses are
asynchronous, so every read first drains them (``settle``).
"""

from __future__ import annotations

import os
import re
import threading

# SQL plan metric names (Spark 4.1) -> layer metric they add to
PY_TIME = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SPILL = "spill size"
SHUFFLE_WRITE = "shuffle bytes written"
DECODE_NODE = "MapInPandas"  # sources.framed.decode_framed_avro
STATE_NODE = "FlatMapGroupsInPandasWithState"  # streaming.jobs.presence_transitions

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A status-store metric string as bytes, seconds or a count.

    Values look like ``'1,234'``, ``'12 ms'``, ``'3.4 MiB'`` or, for
    per-task metrics, ``'total (min, med, max ...)\\n1.2 s (...)'``.
    """
    if not text:
        return 0.0
    line = text.split("\n")[-1].strip()
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def jvm_handles(spark):
    """(jvm collection converters, SparkContext JVM object)."""
    sc = spark.sparkContext
    return sc._jvm.scala.jdk.javaapi.CollectionConverters, sc._jsc.sc()


def settle(spark) -> None:
    """Wait until every posted listener event has been handled."""
    _, jsc = jvm_handles(spark)
    jsc.listenerBus().waitUntilEmpty()


# ---------------------------------------------------------------------------
# peak RSS of the driver JVM and its Python workers
# ---------------------------------------------------------------------------


def process_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the RSS of a process tree every ``period`` seconds."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root_pid = root_pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        kids = process_children()
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            total += _rss_bytes(pid)
            todo.extend(kids.get(pid, ()))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._sample())


# ---------------------------------------------------------------------------
# SQL plan metrics and stage metrics over a window of work
# ---------------------------------------------------------------------------


class SqlWindow:
    """Sums SQL plan metrics of every SQL execution started after ``mark``."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.mark = self.store.executionsCount()

    def collect(self) -> dict[str, float]:
        settle(self.spark)
        conv, _ = jvm_handles(self.spark)
        n = self.store.executionsCount()
        out = {
            "python.time_s": 0.0, "python.boot_init_s": 0.0,
            "python.bytes_sent": 0.0, "python.bytes_received": 0.0,
            "exec.spill_bytes": 0.0, "framed.decode_python_s": 0.0,
            "state.python_s": 0.0,
        }
        for e in conv.asJava(self.store.executionsList(self.mark, n - self.mark)):
            eid = e.executionId()
            values = conv.asJava(self.store.executionMetrics(eid))
            for node in conv.asJava(self.store.planGraph(eid).allNodes()):
                node_name = node.name()
                for m in conv.asJava(node.metrics()):
                    name = m.name()
                    if name not in _WANTED:
                        continue
                    v = parse_metric(values.get(m.accumulatorId()))
                    if name == PY_TIME:
                        out["python.time_s"] += v
                        if node_name == DECODE_NODE:
                            out["framed.decode_python_s"] += v
                        elif node_name == STATE_NODE:
                            out["state.python_s"] += v
                    elif name in PY_BOOT:
                        out["python.boot_init_s"] += v
                    elif name == PY_SENT:
                        out["python.bytes_sent"] += v
                    elif name == PY_RECV:
                        out["python.bytes_received"] += v
                    elif name == SPILL:
                        out["exec.spill_bytes"] += v
        self.mark = n
        return out


_WANTED = {PY_TIME, *PY_BOOT, PY_SENT, PY_RECV, SPILL}


def job_group_stats(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, stages, tasks, executor run time, shuffle write and spill of
    every job run under the given job groups (from the status store)."""
    settle(spark)
    _, jsc = jvm_handles(spark)
    tracker = spark.sparkContext.statusTracker()
    store = jsc.statusStore()
    jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
    stages = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    out = {"exec.jobs": float(len(jobs)), "exec.stages": 0.0, "exec.tasks": 0.0,
           "exec.run_s": 0.0, "exec.shuffle_write_bytes": 0.0, "exec.stage_spill_bytes": 0.0}
    for sid in stages:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            continue
        out["exec.stages"] += 1
        out["exec.tasks"] += sd.numTasks()
        out["exec.run_s"] += sd.executorRunTime() / 1000.0
        out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["exec.stage_spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def cached_bytes(spark) -> float:
    """Memory plus disk bytes of every persisted RDD block."""
    _, jsc = jvm_handles(spark)
    return float(sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo()))


# ---------------------------------------------------------------------------
# query planning phases of each batch action
# ---------------------------------------------------------------------------


class PlanningPhases:
    """A JVM ``QueryExecutionListener`` (through the py4j callback server)
    that records the tracker phases of every finished batch action."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.conv, _ = jvm_handles(spark)
        self.phases: list[dict[str, float]] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        self.phases.append(phase_seconds(self.conv, qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM interface)
        pass

    def drain(self) -> dict[str, float]:
        settle(self.spark)
        out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for p in self.phases:
            for k in out:
                out[k] += p.get(k, 0.0)
        self.phases.clear()
        return out

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)


def phase_seconds(conv, qe) -> dict[str, float]:
    """analysis / optimization / planning seconds of one QueryExecution."""
    phases = conv.asJava(qe.tracker().phases())
    return {k: phases[k].durationMs() / 1000.0 for k in phases}


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def progress_listener(spark):
    """A registered ``StreamingQueryListener`` that keeps every progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            self.events.append(progress_dict(event.progress))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def progress_dict(p) -> dict:
    """The fields of a ``StreamingQueryProgress`` the benchmark reads, in
    the shape ``StreamingQuery.recentProgress`` gives them."""
    return {
        "batchId": p.batchId,
        "numInputRows": p.numInputRows,
        "durationMs": dict(p.durationMs),
        "stateOperators": [
            {
                "numRowsTotal": s.numRowsTotal,
                "numRowsUpdated": s.numRowsUpdated,
                "numRowsRemoved": s.numRowsRemoved,
                "memoryUsedBytes": s.memoryUsedBytes,
                "commitTimeMs": s.commitTimeMs,
                "allUpdatesTimeMs": s.allUpdatesTimeMs,
                "allRemovalsTimeMs": s.allRemovalsTimeMs,
                "numRowsDroppedByWatermark": s.numRowsDroppedByWatermark,
            }
            for s in p.stateOperators
        ],
        "observedMetrics": {k: r.asDict() for k, r in p.observedMetrics.items()},
        "sink": {"numOutputRows": p.sink.numOutputRows},
    }
