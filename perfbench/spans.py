"""Span recording around the program's layers, and Spark's own counters.

``Tracer.install`` wraps the public functions of each layer module in
place (engine, table, fs, operators.get, core.topic, operators.topic_match,
streaming.pubsub) plus ``DataFrame.toLocalIterator`` as ``spark.fetch``.
A wrapper records a span only while ``Tracer.enabled`` is set, so one
process can alternate traced and untraced operations and report the
tracing overhead. Spans stay in memory and are written out when the run
ends: name, start, end and parent. Nothing under ``unitdb_spark/`` is
edited; the wrappers are removed by ``uninstall``.

``SparkCounters`` reads what Spark itself recorded for a job group (the
status store: jobs, stages, tasks, shuffle and executor time) and for an
executed DataFrame (its QueryExecution: phase times and plan-node metrics).
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from dataclasses import dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.fetched = []  # DataFrames whose rows spark.fetch streamed, newest last

    # ----------------------------------------------------------- spans
    def open(self, name: str) -> Span:
        span = Span(len(self.spans), self._stack[-1] if self._stack else None, name, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span.id)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.remove(span.id)

    def _wrapper(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str) -> None:
        self._patch(owner, attr, self._wrapper(name, getattr(owner, attr)))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from unitdb_spark import engine, fs, table
        from unitdb_spark.core import topic
        from unitdb_spark.operators import get, topic_match
        from unitdb_spark.streaming import pubsub

        for m in ("put_entry", "put_df", "flush", "get", "get_many", "delete", "count", "compact"):
            self.wrap(engine.Engine, m, "engine.put" if m == "put_entry" else f"engine.{m}")
        self.wrap(engine.Batch, "commit", "engine.batch_commit")
        for m in ("append", "read", "exists"):
            self.wrap(table.MessagesTable, m, f"table.{m}")
        for name, fn in inspect.getmembers(fs, inspect.isfunction):
            if fn.__module__ == fs.__name__ and not name.startswith("_"):
                self.wrap(fs, name, f"fs.{name}")
        self.wrap(get, "apply_get", "operators.get.apply_get")
        self.wrap(get, "apply_get_many", "operators.get.apply_get_many")
        self.wrap(pubsub, "ingest_stream", "streaming.ingest_stream")
        # imported by name into several modules: rebind every reference
        for mod, attr, span in ((topic, "parse_topic", "topic.parse_topic"),
                                (topic_match, "topic_match_expr", "topic.topic_match_expr")):
            original, wrapped = getattr(mod, attr), self._wrapper(span, getattr(mod, attr))
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("unitdb_spark") and m.__dict__.get(attr) is original:
                    self._patch(m, attr, wrapped)

        tracer, to_local = self, DataFrame.toLocalIterator

        def fetch(df, *args, **kwargs):
            it = to_local(df, *args, **kwargs)
            if not tracer.enabled:
                return it
            tracer.fetched.append(df)
            return tracer._iterate("spark.fetch", it)

        self._patch(DataFrame, "toLocalIterator", fetch)

    def _iterate(self, name: str, it):
        span = self.open(name)
        try:
            yield from it
        finally:
            self.close(span)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    # -------------------------------------------------------- analysis
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_ms(self, span: Span, children: dict[int, list[Span]]) -> float:
        """Span time minus the part its direct children cover."""
        covered, cursor = 0.0, span.start
        for c in sorted(children.get(span.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return (span.end - span.start - covered) * 1000.0

    def descendants(self, span: Span, children: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], list(children.get(span.id, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s.id, []))
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "parent": s.parent, "name": s.name,
                                    "start": s.start, "end": s.end}) + "\n")


class SparkCounters:
    """Reads Spark's own records from the driver JVM."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.missing: set[str] = set()  # "<plan node>.<metric>" this Spark does not record

    def group(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks, shuffle and executor time of a job group."""
        out = dict.fromkeys(("jobs", "stages", "tasks", "exec_ms", "shuffle_bytes",
                             "shuffle_records", "run_ms", "cpu_ms"), 0.0)
        seen: set[int] = set()
        for j in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(j)
            out["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                out["exec_ms"] += job.completionTime().get().getTime() - job.submissionTime().get().getTime()
            for sid in self.conv.asJava(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                stage = self.store.lastStageAttempt(sid)
                if str(stage.status()) != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += stage.numTasks()
                out["shuffle_bytes"] += stage.shuffleWriteBytes()
                out["shuffle_records"] += stage.shuffleWriteRecords()
                out["run_ms"] += stage.executorRunTime()
                out["cpu_ms"] += stage.executorCpuTime() / 1e6
        return out

    def query(self, df) -> dict[str, float]:
        """Phase times and scan / Python-UDF node metrics of an executed DataFrame."""
        qe = df._jdf.queryExecution()
        phases = self.conv.asJava(qe.tracker().phases())
        out = {f"{k}_ms": float(phases.get(k).durationMs()) for k in ("analysis", "optimization", "planning")
               if phases.containsKey(k)}
        for k in ("scan_files", "scan_bytes", "scan_rows", "udf_rows"):
            out[k] = 0.0
        self._walk(qe.executedPlan(), out)
        return out

    def _metric(self, node: str, metrics, name: str) -> float:
        if metrics.containsKey(name):
            return metrics.get(name).value()
        self.missing.add(f"{node}.{name}")
        return 0.0

    def _walk(self, node, out: dict) -> None:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return self._walk(node.executedPlan(), out)
        metrics = self.conv.asJava(node.metrics())
        if name == "FileSourceScanExec" and "/messages" in node.relation().location().rootPaths().head().toString():
            out["scan_files"] += self._metric(name, metrics, "numFiles")
            out["scan_bytes"] += self._metric(name, metrics, "filesSize")
            out["scan_rows"] += self._metric(name, metrics, "numOutputRows")
        if name.endswith(("PythonExec", "PandasExec", "ArrowExec", "PythonUDTFExec")):
            out["udf_rows"] += self._metric(name, metrics, "pythonNumRowsReceived")
        if name.endswith("QueryStageExec"):
            self._walk(node.plan(), out)
        kids = node.children()
        for i in range(kids.size()):
            self._walk(kids.apply(i), out)
