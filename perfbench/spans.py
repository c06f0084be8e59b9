"""Spans around calls into the engine's layers, with Spark counters.

A span records wall time and process-tree CPU for one call, and the
span it ran inside.  When the
session is given, the span also tags the calling thread's jobs with
``setJobGroup`` and, when the call returns, harvests every stage of every
job submitted during the span from the JVM status store.  Jobs are taken
by job id, not by group: the pipeline submits from threads of its own,
which do not inherit the caller's job group.

Spans stay in memory; ``Tracer.layer_metrics`` folds them into per-layer
numbers (median over repeated spans of one name).
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from probes import ProcessTree

DRAIN_TIMEOUT_MS = 10_000


class SparkCounters:
    """Stage metrics of the jobs in a job-id window, read from the JVM
    status store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self.missing: list[str] = []

    def next_job_id(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def _lookup(self, what: str, call):
        """``call()``, or None when the store does not hold ``what``
        (evicted, or its events still undelivered after the drain)."""
        from py4j.protocol import Py4JJavaError

        try:
            return call()
        except Py4JJavaError as e:
            if "NoSuchElementException" not in str(e.java_exception):
                raise
            self.missing.append(what)
            return None

    def harvest(self, first_job: int, end_job: int) -> dict:
        """Counters of jobs ``first_job`` .. ``end_job - 1``.  The status
        store is filled from the listener bus on a thread of its own, so
        the bus is drained first; a job or stage the store still lacks
        is skipped and listed in ``missing``."""
        from py4j.protocol import Py4JJavaError

        try:
            self._jsc.listenerBus().waitUntilEmpty(DRAIN_TIMEOUT_MS)
        except Py4JJavaError:  # a timeout: harvest what has arrived
            pass
        self.missing = []
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        for jid in range(first_job, end_job):
            job = self._lookup(f"job {jid}", lambda: store.job(jid))
            if job is not None:
                ids = job.stageIds()
                stage_ids.update(ids.apply(i) for i in range(ids.length()))
        cpu_ns = gc_ms = shuffle_b = spill_b = failed = 0
        heaviest = (-1, 1.0)  # (executor run time, max/median task time)
        for sid in sorted(stage_ids):
            attempts = self._lookup(f"stage {sid}", lambda: store.stageData(
                sid, False, self._no_status, True, self._quantiles
            ))
            if attempts is None:
                continue
            for k in range(attempts.length()):
                s = attempts.apply(k)
                cpu_ns += s.executorCpuTime()
                gc_ms += s.jvmGcTime()
                shuffle_b += s.shuffleWriteBytes()
                spill_b += s.diskBytesSpilled()
                failed += s.numFailedTasks()
                dist = s.taskMetricsDistributions()
                if dist.isDefined() and s.executorRunTime() > heaviest[0]:
                    dur = dist.get().duration()
                    median, top = dur.apply(0), dur.apply(1)
                    heaviest = (s.executorRunTime(), top / median if median > 0 else 1.0)
        return {
            "cpu_s": cpu_ns / 1e9,
            "gc_s": gc_ms / 1e3,
            "shuffle_mb": shuffle_b / 2**20,
            "spill_mb": spill_b / 2**20,
            "task_skew": heaviest[1],
            "failed_tasks": failed,
        }


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, enabled: bool, tree: ProcessTree):
        self.enabled = enabled
        self.tree = tree
        self.spark_counters: SparkCounters | None = None
        self.spans: list[dict] = []
        self._open: list[str] = []
        self._values: dict[str, list[float]] = {}

    def attach(self, spark) -> None:
        if self.enabled:
            self.spark_counters = SparkCounters(spark)

    @contextmanager
    def span(self, name: str, spark_layer: bool = False):
        """Time the enclosed call; ``spark_layer`` also harvests its
        Spark stage counters under ``<name>.<counter>``."""
        if not self.enabled:
            yield
            return
        counters = self.spark_counters if spark_layer else None
        if counters is not None:
            counters.sc.setJobGroup(name, name, False)
            first_job = counters.next_job_id()
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        cpu0, _ = self.tree.sample()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            cpu1, _ = self.tree.sample()
            self._open.pop()
            rec = {"name": name, "parent": parent, "start": t0, "wall_s": wall,
                   "tree_cpu_s": cpu1 - cpu0}
            if counters is not None:
                counters.sc._jsc.clearJobGroup()
                rec["spark"] = counters.harvest(first_job, counters.next_job_id())
                if counters.missing:
                    rec["missing"] = counters.missing
            self.spans.append(rec)

    @contextmanager
    def paused(self, pause: bool = True):
        """Record nothing inside the block when ``pause`` is true."""
        was = self.enabled
        self.enabled = was and not pause
        try:
            yield
        finally:
            self.enabled = was

    def record(self, name: str, value: float) -> None:
        """A per-layer number that is not a span (a count, a ratio)."""
        if self.enabled:
            self._values.setdefault(name, []).append(float(value))

    def last(self, name: str) -> dict:
        return next(s for s in reversed(self.spans) if s["name"] == name)

    def layer_metrics(self) -> dict[str, float]:
        vals: dict[str, list[float]] = {k: list(v) for k, v in self._values.items()}
        for s in self.spans:
            vals.setdefault(s["name"] + "_s", []).append(s["wall_s"])
            for k, v in s.get("spark", {}).items():
                vals.setdefault(f"{s['name']}.{k}", []).append(v)
        return {k: statistics.median(v) for k, v in vals.items()}
