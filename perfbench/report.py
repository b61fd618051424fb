"""End-to-end and per-layer metrics from a run's samples and traces.

Every workload reports every metric: an end-to-end metric is defined on
the workload's own foreground calls, and a per-layer metric the workload
does not exercise reads 0.
"""

from __future__ import annotations

import numpy as np

from spans import Tracer
from workloads import ANALYTICS_QUERIES, Loop, Sample

END_TO_END_UNITS = {"setup_s": "s", "get_p50_ms": "ms", "ops_per_s": "1/s"}

PER_LAYER_UNITS = {
    "fs.calls_per_get": "count", "fs.ms_per_get": "ms", "table.read.ms": "ms",
    "operators.get.apply_get.ms": "ms", "engine.get.self_ms": "ms",
    "topic.parse_topic.us": "us", "topic.topic_match_expr.ms": "ms",
    "spark.analysis_ms": "ms", "spark.optimization_ms": "ms", "spark.planning_ms": "ms",
    "spark.exec_ms": "ms", "spark.jobs_per_get": "count", "spark.tasks_per_get": "count",
    "scan.files_per_get": "count", "scan.bytes_per_get": "bytes", "scan.rows_per_get": "count",
    "get.rows_returned": "count", "get.read_amplification": "ratio",
    "get_many.rows_scanned_per_query": "count",
    "engine.put.us": "us", "engine.flush.self_ms": "ms", "fs.calls_per_flush": "count",
    "table.append.ms": "ms", "spark.shuffle.bytes_per_append": "bytes",
    "table.append.files_written": "count", "table.append.bytes_written": "bytes",
    "store.data_files": "count", "tombstones.files": "count",
    "compact.files_before": "count", "compact.files_after": "count",
    "compact.bytes_rewritten": "bytes", "compact.fs_calls": "count",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.processed_rows_per_s": "1/s",
    **{f"analytics.{q}.s": "s" for q in ANALYTICS_QUERIES},
    "spark.stages": "count", "spark.tasks": "count", "spark.tasks_per_stage": "count",
    "spark.shuffle.bytes_written": "bytes", "spark.shuffle.records_written": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms", "python.udf.rows": "count",
    **{f"trace.overhead.{m}": u for m, u in END_TO_END_UNITS.items() if m != "setup_s"},
}

WRITE_KINDS = ("put_flush", "batch", "bulk", "stream")


def end_to_end(samples: list[Sample]) -> dict[str, float]:
    """Median Engine.get latency (the analytics workload has none), and
    the rate of all the workload's calls."""
    gets = [s.s for s in samples if s.kind == "get"]
    out = {"get_p50_ms": float(np.median(gets) * 1000)} if gets else {}
    return {**out, "ops_per_s": len(samples) / sum(s.s for s in samples)}


def _mean(values) -> float:
    values = list(values)
    return float(np.mean(values)) if values else 0.0


def per_layer(tracer: Tracer, loop: Loop, layout: list[tuple[int, int]]) -> dict[str, float]:
    """Per-layer metrics from the traced calls."""
    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    kids = tracer.children()
    ops = loop.traced_ops

    def under(rec, prefix):
        return [s for s in tracer.descendants(rec["root"], kids) if s.name.startswith(prefix)]

    every = [s for s in tracer.spans if s.end]
    out["topic.parse_topic.us"] = _mean(s.ms * 1000 for s in every if s.name == "topic.parse_topic")
    out["topic.topic_match_expr.ms"] = _mean(s.ms for s in every if s.name == "topic.topic_match_expr")
    out["table.append.ms"] = _mean(s.ms for s in every if s.name == "table.append")

    gets = [r for r in ops if r["kind"] == "get" and "rows" in r]
    if gets:
        def per_get(f):
            return _mean(f(r) for r in gets)

        out["fs.calls_per_get"] = per_get(lambda r: len(under(r, "fs.")))
        out["fs.ms_per_get"] = per_get(lambda r: sum(s.ms for s in under(r, "fs.")))
        out["table.read.ms"] = _mean(s.ms for r in gets for s in under(r, "table.read"))
        out["operators.get.apply_get.ms"] = _mean(s.ms for r in gets for s in under(r, "operators.get.apply_get"))
        out["engine.get.self_ms"] = _mean(tracer.self_ms(s, kids) for r in gets for s in under(r, "engine.get"))
        for phase in ("analysis", "optimization", "planning"):
            out[f"spark.{phase}_ms"] = per_get(lambda r: sum(q.get(f"{phase}_ms", 0.0) for q in r["queries"]))
        out["spark.exec_ms"] = per_get(lambda r: r["group"]["exec_ms"])
        out["spark.jobs_per_get"] = per_get(lambda r: r["group"]["jobs"])
        out["spark.tasks_per_get"] = per_get(lambda r: r["group"]["tasks"])
        for key in ("files", "bytes", "rows"):
            out[f"scan.{key}_per_get"] = per_get(lambda r: sum(q[f"scan_{key}"] for q in r["queries"]))
        out["get.rows_returned"] = per_get(lambda r: r["rows"])
        returned = sum(r["rows"] for r in gets)
        out["get.read_amplification"] = out["scan.rows_per_get"] * len(gets) / max(returned, 1)
    many = [r for r in ops if r["kind"] == "get_many" and "rows" in r]
    if many:
        out["get_many.rows_scanned_per_query"] = _mean(
            sum(q["scan_rows"] for q in r["queries"]) / r["queries_in_call"] for r in many)

    puts = [s for s in every if s.name == "engine.put"]
    out["engine.put.us"] = _mean(s.ms * 1000 for s in puts)
    flushes = [s for s in every if s.name == "engine.flush"
               and any(c.name == "table.append" for c in kids.get(s.id, []))]
    out["engine.flush.self_ms"] = _mean(tracer.self_ms(s, kids) for s in flushes)
    out["fs.calls_per_flush"] = _mean(
        sum(d.name.startswith("fs.") for d in tracer.descendants(s, kids)) for s in flushes)
    writes = [r for r in ops if r["kind"] in WRITE_KINDS and r["after"] is not None]
    appends = sum(len(under(r, "table.append")) for r in writes)
    if appends:
        shuffled = [r for r in writes if r["kind"] != "stream"]  # the stream's jobs run in its own group
        out["spark.shuffle.bytes_per_append"] = (
            sum(r["group"]["shuffle_bytes"] for r in shuffled)
            / max(sum(len(under(r, "table.append")) for r in shuffled), 1))
        new = [(set(r["after"]) - set(r["before"]), r["after"]) for r in writes]
        out["table.append.files_written"] = sum(len(n) for n, _ in new) / appends
        out["table.append.bytes_written"] = sum(after[p] for n, after in new for p in n) / appends
    if layout:
        out["store.data_files"] = _mean(d for d, _ in layout)
        out["tombstones.files"] = _mean(t for _, t in layout)
    compacts = [r for r in ops if r["kind"] == "compact" and r["after"] is not None]
    if compacts:
        out["compact.files_before"] = _mean(len(r["before"]) for r in compacts)
        out["compact.files_after"] = _mean(len(r["after"]) for r in compacts)
        out["compact.bytes_rewritten"] = _mean(
            sum(n for p, n in r["before"].items() if p not in r["after"]) for r in compacts)
        out["compact.fs_calls"] = _mean(len(under(r, "fs.")) for r in compacts)
    progress = [p for r in ops if r["kind"] == "stream" and r.get("progress") for p in r["progress"]
                if p["numInputRows"] > 0]
    if progress:
        out["streaming.trigger_ms"] = _mean(p["durationMs"]["triggerExecution"] for p in progress)
        out["streaming.add_batch_ms"] = _mean(p["durationMs"]["addBatch"] for p in progress)
        out["streaming.processed_rows_per_s"] = _mean(p["processedRowsPerSecond"] for p in progress)

    queries = {q: [r for r in ops if r["kind"] == q] for q in ANALYTICS_QUERIES}
    if any(queries.values()):
        traced = {q: [s.s for s in loop.samples if s.kind == q and s.traced] for q in ANALYTICS_QUERIES}
        for q, recs in queries.items():
            out[f"analytics.{q}.s"] = _mean(traced[q])

        def per_pass(f):  # one pass runs each query once
            return sum(_mean(f(r) for r in recs) for recs in queries.values())

        for metric, key in (("spark.stages", "stages"), ("spark.tasks", "tasks"),
                            ("spark.shuffle.bytes_written", "shuffle_bytes"),
                            ("spark.shuffle.records_written", "shuffle_records"),
                            ("spark.executor_run_ms", "run_ms"), ("spark.executor_cpu_ms", "cpu_ms")):
            out[metric] = per_pass(lambda r: r["group"][key])
        out["spark.tasks_per_stage"] = out["spark.tasks"] / max(out["spark.stages"], 1)
        out["spark.planning_ms"] = per_pass(lambda r: sum(q.get("planning_ms", 0.0) for q in r["queries"]))
        out["python.udf.rows"] = per_pass(lambda r: sum(q["udf_rows"] for q in r["queries"]))

    traced = [s for s in loop.samples if s.traced]
    plain = [s for s in loop.samples if not s.traced]
    if traced and plain:
        on, off = end_to_end(traced), end_to_end(plain)
        for m in on:
            out[f"trace.overhead.{m}"] = on[m] - off[m]
    return out
