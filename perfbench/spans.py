"""Spans and counters for the traced run.

Spans are recorded only from the benchmark's own files, around its calls
into the repo's public functions; nothing inside ``piper_spark`` is
instrumented.  Counters are read from outside the engine: job groups from
the status tracker, stage data from Spark's status store, Python-node
metrics from the SQL execution metrics and cached storage from
``getRDDStorageInfo``.
"""

from __future__ import annotations

import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    key: str | None
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; each span's parent is the span open when it
    started."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, key: str | None = None):
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        self.spans.append(Span(name, key, parent, time.perf_counter()))
        self._open.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.perf_counter()
            self._open.pop()


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its direct children cover."""
    child_s = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] += s.seconds
    return [s.seconds - c for s, c in zip(spans, child_s)]


# Python-evaluation plan nodes carry these SQL metrics (Spark 4.x names).
_PY_ROWS = "number of output rows"
_PY_TIMES = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "total_ms",
}
_PY_MARKER = "data sent to Python workers"

_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value: ``'513'``, ``'0 ms'`` or
    ``'total (min, med, max ...)\\n4.9 s (...)'``; times come back in ms."""
    head = text.split("\n")[-1].split("(")[0].strip().replace(",", "")
    m = re.fullmatch(r"([0-9.]+)\s*([a-zA-Z]*)", head)
    if m is None:
        raise ValueError(f"unparseable SQL metric {text!r}")
    return float(m.group(1)) * _UNIT_MS.get(m.group(2), 1.0)


class SparkProbe:
    """Counts one key's jobs, stages, tasks, Python nodes and cached
    storage, reading Spark's own status stores after the key has run."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._jsc = jsc
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gw = self._sc._gateway
        self._seen_jobs: set[int] = set()
        self._last_exec = self._last_execution_id()
        self._base = (0, 0)
        self._peak = 0

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return int(self._sql.executionsList(int(n) - 1, 1).apply(0).executionId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the jobs and executions that just ran."""
        self._jsc.listenerBus().waitUntilEmpty()

    def begin(self, key: str) -> None:
        """Forget the jobs and executions of the key's earlier runs, and
        take the cached storage now held as the key's baseline."""
        self.drain()
        for phase in ("build", "action"):
            self.new_jobs(f"{key}:{phase}")
        self._last_exec = self._last_execution_id()
        self._base = self.storage()
        self._peak = self._base[1]

    def sample(self) -> None:
        """Note the cached bytes now, for the key's peak."""
        self._peak = max(self._peak, self.storage()[1])

    def end(self, key: str) -> dict[str, float]:
        """Counts since ``begin``: ``build_jobs`` and ``exec.*`` (action
        jobs only), ``udfs.*`` (every execution of the key) and ``cache.*``
        (storage over the baseline: the peak, and what the key still holds
        after the cache was cleared)."""
        blocks, size = self.storage()
        build = self.new_jobs(f"{key}:build")
        action = self.new_jobs(f"{key}:action")
        out = {
            "build_jobs": float(len(build)),
            "exec.jobs": float(len(action)),
            "cache.peak_bytes": float(max(self._peak, size) - self._base[1]),
            "cache.blocks_left": float(blocks - self._base[0]),
            "cache.bytes_left": float(size - self._base[1]),
        }
        out.update({f"exec.{k}": v for k, v in self.stage_totals(action).items()})
        out.update({f"udfs.{k}": v for k, v in self.python_nodes().items()})
        return out

    def storage(self) -> tuple[int, int]:
        """(cached blocks, cached bytes) across every persisted RDD.  The
        figures come from block-update events, so drain them first."""
        self.drain()
        blocks = size = 0
        for info in self._jsc.getRDDStorageInfo():
            blocks += info.numCachedPartitions()
            size += info.memSize() + info.diskSize()
        return blocks, size

    def new_jobs(self, group: str) -> list[int]:
        ids = [
            j
            for j in self._sc.statusTracker().getJobIdsForGroup(group)
            if j not in self._seen_jobs
        ]
        self._seen_jobs.update(ids)
        return sorted(ids)

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Sums over every stage attempt that ran for ``job_ids``; skipped
        stages (shuffle output reused) are not counted."""
        t: dict[str, float] = defaultdict(float)
        skews = []
        empty = self._gw.jvm.java.util.ArrayList()
        no_q = self._gw.new_array(self._gw.jvm.double, 0)
        stage_ids = set()
        for j in job_ids:
            info = self._sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(sid, False, empty, False, no_q)
            for i in range(attempts.length()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                t["stages"] += 1
                t["tasks"] += s.numTasks()
                t["task_attempts"] += (
                    s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
                )
                t["run_ms"] += s.executorRunTime()
                t["cpu_ms"] += s.executorCpuTime() / 1e6
                t["gc_ms"] += s.jvmGcTime()
                t["shuffle_write_bytes"] += s.shuffleWriteBytes()
                t["shuffle_read_bytes"] += s.shuffleReadBytes()
                t["fetch_wait_ms"] += s.shuffleFetchWaitTime()
                t["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                t["input_bytes"] += s.inputBytes()
                if s.numTasks() >= 2:
                    skews.append(self._skew(sid, s.attemptId(), s.numTasks()))
        t["task_skew"] = max(skews, default=1.0)
        return dict(t)

    def _skew(self, stage_id: int, attempt: int, n: int) -> float:
        """Slowest task's run time over the median task's (median floored
        at 1 ms)."""
        tasks = self._store.taskList(stage_id, attempt, n)
        run = []
        for i in range(tasks.length()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                run.append(m.get().executorRunTime())
        if not run:
            return 1.0
        return max(run) / max(statistics.median(run), 1.0)

    def python_nodes(self) -> dict[str, float]:
        """Python-evaluation nodes that produced rows in the SQL executions
        since the last call.  A cached relation's plan is shown under every
        scan of it, so nodes are told apart by their metrics' ids."""
        per_acc: dict[int, list] = {}
        last = self._last_execution_id()
        for eid in range(self._last_exec + 1, last + 1):
            if self._sql.execution(eid).isEmpty():
                continue
            values = {}
            it = self._sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[int(kv._1())] = kv._2()
            nodes = self._sql.planGraph(eid).allNodes()
            seen_here: set[int] = set()
            for i in range(nodes.length()):
                metrics = nodes.apply(i).metrics()
                named = {
                    metrics.apply(k).name(): int(metrics.apply(k).accumulatorId())
                    for k in range(metrics.length())
                }
                if _PY_MARKER not in named or _PY_ROWS not in named:
                    continue
                node_id = named[_PY_ROWS]
                if node_id in seen_here:
                    continue
                seen_here.add(node_id)
                acc = per_acc.setdefault(
                    node_id, {"rows": 0.0, **{v: 0.0 for v in _PY_TIMES.values()}}
                )
                acc["rows"] += parse_metric(values.get(node_id, "0"))
                for name, field in _PY_TIMES.items():
                    if name in named:
                        acc[field] += parse_metric(values.get(named[name], "0"))
        self._last_exec = last
        ran = [a for a in per_acc.values() if a["rows"] > 0]
        out = {"nodes": float(len(ran))}
        for field in ("rows", *_PY_TIMES.values()):
            out[field] = sum(a[field] for a in ran)
        return out
