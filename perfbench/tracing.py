"""Spans and per-layer counters recorded from outside the engine.

Nothing here changes the engine: spans are taken around the benchmark's
own calls into the package's public entry points, and the counters are
read from Spark's status store (jobs, stages, task metrics, storage)
and ``StreamingQueryProgress``.
Everything stays in memory until ``Tracer.dump`` writes it out.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

#: Per-layer metrics with their units. Every traced run reports all of
#: them, summed over the workload's operations (0 where a layer is idle).
#: ``sources.rows_per_s`` is ingested rows over ingest seconds.
LAYER_METRICS = {
    "session.cold_start_s": "s",
    "session.start_s": "s",
    "setup.inputs_s": "s",
    "setup.warm_s": "s",
    "sources.read_csv_s": "s",
    "sources.read_json_s": "s",
    "sources.rows_per_s": "1/s",
    "sources.eager_jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "cachereg.entries": "count",
    "cache.mb_held": "MB",
    "sink.collect_s": "s",
    "sink.write_s": "s",
    "sink.bytes_written": "B",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B",
    "trace.overhead_pass_s": "s",
    "trace.overhead_op_gmean_s": "s",
}

#: Levels read after each operation; the workload reports their maximum.
LEVELS = {"cachereg.entries", "cache.mb_held"}


class Tracer:
    """Records spans and counters when enabled; otherwise every call is a
    cheap no-op, so the untraced run measures the engine alone."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None

    @contextlib.contextmanager
    def op(self, op_id: str, **attrs):
        """The operation all spans and counters recorded inside belong to."""
        if not self.enabled:
            yield None
            return
        rec = {"op": op_id, **attrs, "counters": defaultdict(float)}
        self.ops.append(rec)
        prev, self._op = self._op, op_id
        try:
            with self.span("op"):
                yield rec["counters"]
        finally:
            self._op = prev

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span = {
            "id": len(self.spans),
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()

    @contextlib.contextmanager
    def timed(self, counters, name: str):
        """Span ``name`` whose duration is added to the ``<name>_s`` counter."""
        t0 = time.perf_counter()
        with self.span(name):
            yield
        if counters is not None:
            counters[name + "_s"] += time.perf_counter() - t0

    def add_span(self, name: str, start: float, end: float) -> None:
        """A span timed elsewhere, inside the current operation."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                {"id": len(self.spans), "name": name, "op": self._op, "parent": parent, "start": start, "end": end}
            )

    def totals(self) -> dict[str, float]:
        """Layer metrics over all operations: sums, except levels (max)."""
        out = {name: 0.0 for name in LAYER_METRICS}
        rows = seconds = 0.0
        for rec in self.ops:
            for name, value in rec["counters"].items():
                if name == "_sources.rows":
                    rows += value
                elif name == "_sources.seconds":
                    seconds += value
                elif name in LEVELS:
                    out[name] = max(out[name], value)
                elif name in out:
                    out[name] += value
        out["sources.rows_per_s"] = rows / seconds if seconds else 0.0
        return out

    def dump(self, path: str, stamp: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "stamp": stamp,
                    "spans": self.spans,
                    "ops": [{**r, "counters": dict(r["counters"])} for r in self.ops],
                },
                fh,
            )


def _seq(jseq) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


class SparkProbe:
    """Reads Spark's status stores between operations.

    With one client every job submitted between ``mark()`` and the end of
    an operation belongs to that operation.
    """

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self.dag = jsc.dagScheduler()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.to_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._stage_defaults = (
            getattr(self.store, "stageData$default$3")(),
            getattr(self.store, "stageData$default$5")(),
        )

    def mark(self) -> int:
        """The next job id: where an operation starts."""
        return int(self.dag.nextJobId())

    def jobs_since(self, mark: int) -> int:
        return int(self.dag.nextJobId()) - mark

    def since(self, mark: int) -> dict[str, float]:
        """Spark counters of every job started after ``mark``."""
        self.bus.waitUntilEmpty(30_000)  # the status stores are fed asynchronously
        out: dict[str, float] = defaultdict(float)
        stage_ids = set()
        for job_id in range(mark, int(self.dag.nextJobId())):
            try:
                job = self.store.job(job_id)
            except Exception:  # evicted from the store or never submitted
                continue
            out["spark.jobs"] += 1
            stage_ids.update(self.to_java(job.stageIds()))
        tasks_default, quantiles = self._stage_defaults
        for sid in stage_ids:
            try:
                attempts = _seq(self.store.stageData(sid, False, tasks_default, False, quantiles))
            except Exception:  # skipped stage (shuffle reuse) has no data
                continue
            for st in attempts:
                if st.numCompleteTasks() == 0:
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numCompleteTasks()
                out["spark.task_s"] += st.executorRunTime() / 1e3
                out["spark.cpu_s"] += st.executorCpuTime() / 1e9
                out["spark.gc_s"] += st.jvmGcTime() / 1e3
                out["spark.input_bytes"] += st.inputBytes()
                out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def cache_mb(self) -> float:
        """Storage memory plus disk held by persisted RDDs, in MB."""
        rdds = _seq(self.store.rddList(True))
        return sum(r.memoryUsed() + r.diskUsed() for r in rdds) / 1e6


def streaming_counters(progress: list[dict]) -> dict[str, float]:
    """Per-layer streaming counters from one query's progress reports."""
    out: dict[str, float] = defaultdict(float)
    for p in progress:
        d = p.get("durationMs", {})
        if p.get("numInputRows", 0) > 0:
            out["streaming.batches"] += 1
        out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        for s in p.get("stateOperators") or []:
            out["streaming.state_commit_s"] += s.get("commitTimeMs", 0) / 1e3
    for p in reversed(progress):
        ops = p.get("stateOperators") or []
        if ops:
            out["streaming.state_rows"] += sum(s.get("numRowsTotal", 0) for s in ops)
            out["streaming.state_mem_bytes"] += sum(s.get("memoryUsedBytes", 0) for s in ops)
            break
    return out
