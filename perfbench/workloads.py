"""The three workloads. Each is a closed loop with one client thread: the
next call starts when the previous one has returned and been checked.

A workload has ``setup`` (input generation, store load, warmup) and
``block``: a fixed mix of calls (a shuffled set of Gets, a churn cycle, a
pass over the queries). A run measures ``blocks(seconds)`` whole blocks,
a count fixed by ``BLOCK_S``, the block time on the reference box (4
cores), so a slower or faster host changes the run's length but never
its mix or its sample counts. Every foreground call goes through
``Loop.call``, which times it, counts failures and, in a traced run,
traces every other call.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

import numpy as np

import gen
from check import Ledger, digest, pinned_digests
from spans import SparkCounters, Tracer

GET_MIX_MESSAGES = 300_000
CHURN_BASE_MESSAGES = 100_000
# each cycle adds a daily partition per contract; from the 33rd, Spark
# lists them with a parallel job (spark.sql.sources.parallelPartitionDiscovery
# .threshold), which slows every Get and count by a third. A 20-day base
# keeps the warmup and the first 11 timed cycles (a run up to --seconds 97)
# below it, so that no run's Gets straddle the two speeds.
CHURN_BASE_DAYS = 20
ANALYTICS_QUERIES = (
    "events_tumbling_daily", "events_sliding_6h", "events_sessionize", "topk_per_topic",
    "events_asof_click", "events_holt_forecast", "tpch_q1", "doc_minhash_lsh",
    "parts_pagerank", "customer_er",
)


def tree_files(root: Path) -> dict[str, int]:
    """Files under ``root`` as the OS sees them: name -> bytes."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


def data_files(root: Path) -> dict[str, int]:
    return {p: n for p, n in tree_files(root).items() if p.endswith(".parquet")}


@dataclass
class Sample:
    kind: str
    s: float
    traced: bool


class Loop:
    """Times foreground calls and keeps their samples, failures and traces."""

    def __init__(self, spark, tracer: Tracer | None) -> None:
        self.spark = spark
        self.tracer = tracer
        self.counters = SparkCounters(spark) if tracer else None
        self.samples: list[Sample] = []
        self.attempted = self.failed = 0
        self.recording = False  # off while warming up
        self.traced_ops: list[dict] = []
        self._pos = self._block = 0  # position of the next call in its block; timed block index

    def call(self, kind: str, fn, *args, probe=None, trace: bool | None = None, **kwargs):
        """Run ``fn`` once; returns (ok, value, trace record or None).

        In a traced run every other call is traced unless ``trace`` says
        otherwise. ``probe`` is called before and after a traced call,
        outside its timing, to record what the call changed on disk."""
        if trace is None:
            trace = (self._pos + self._block) % 2 == 0
        traced = self.tracer is not None and self.recording and trace
        self._pos += self.recording
        rec = None
        if traced:
            rec = {"kind": kind, "before": probe() if probe else None}
            gid = f"perfbench-{len(self.traced_ops)}"
            self.spark.sparkContext.setJobGroup(gid, kind)
            first_fetch = len(self.tracer.fetched)
            self.tracer.enabled = True
            rec["root"] = self.tracer.open(f"op.{kind}")
        t0 = time.perf_counter()
        try:
            value, ok = fn(*args, **kwargs), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            value, ok = None, False
        elapsed = time.perf_counter() - t0
        if traced:
            self.tracer.close(rec["root"])
            self.tracer.enabled = False
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            rec["group"] = self.counters.group(gid)
            rec["queries"] = [self.counters.query(df) for df in self.tracer.fetched[first_fetch:]]
            rec["after"] = probe() if probe else None
            self.traced_ops.append(rec)
            self.spark.sparkContext.setJobGroup("perfbench-untraced", "")
        if self.recording:
            self.samples.append(Sample(kind, elapsed, traced))
        self.attempted += 1
        self.failed += not ok
        return ok, value, rec

    def end_block(self) -> None:
        """Swap which calls are traced, so that across two blocks every
        position in a block is traced once."""
        self._pos = 0
        self._block += 1

    def verdict(self, problem: str | None) -> None:
        """Count a wrong answer to a call that returned."""
        if problem:
            self.failed += 1
            print(f"WRONG: {problem}", file=sys.stderr)


def blocks(workload, seconds: float) -> int:
    """How many whole blocks make ``seconds`` on the reference box."""
    return max(1, round(seconds / workload.BLOCK_S))


def pct(seconds: list[float], q: float = 50) -> tuple[float, str, int]:
    """A percentile in ms, with its unit and sample count."""
    return (float(np.percentile(seconds, q)) * 1000 if seconds else float("nan")), "ms", len(seconds)


def ms(samples: list[Sample], kind: str, q: float = 50) -> tuple[float, str, int]:
    """A percentile of one kind of call."""
    return pct([s.s for s in samples if s.kind == kind], q)


# ------------------------------------------------------------------ get_mix


class GetMix:
    """Engine.get / get_many over a read-only store."""

    BLOCK_S = 6.0

    def __init__(self, spark, work: Path, seed: int, loop: Loop) -> None:
        self.spark, self.work, self.loop = spark, work, loop
        self.rng = np.random.default_rng(seed)
        self.ledger = Ledger()
        self.now_us = gen.T_END_US
        self.info: dict[str, tuple[float, str, int]] = {}

    def setup(self) -> dict[str, float]:
        from unitdb_spark import Engine

        t0 = time.perf_counter()
        self.weights = gen.zipf_weights(len(gen.CONCRETE_TOPICS), self.rng)
        msgs = gen.message_store(self.rng, self.weights, GET_MIX_MESSAGES)
        src = self.work / "input" / "store.parquet"
        msgs.write(src)
        self.ledger.add_messages(msgs)
        t1 = time.perf_counter()
        self.engine = Engine.open(self.spark, str(self.work / "store"))
        self.engine.put_df(self.spark.read.parquet(str(src)))
        t2 = time.perf_counter()
        files = data_files(self.work / "store" / "messages")
        print(f"# get_mix store: {len(msgs)} rows, {len(files)} files, "
              f"{sum(files.values())} bytes, {len(set(msgs.topic))} topics")
        self.block()  # warmup: one whole block, checked but not timed
        return {"generate_s": t1 - t0, "load_s": t2 - t1, "warmup_s": time.perf_counter() - t2}

    def _query(self, kind: str):
        rng, hot = self.rng, gen.hot_topic(self.rng, self.weights)
        d, m = int(rng.integers(gen.N_DEVICES)), int(rng.integers(gen.N_METRICS))
        if kind == "static":
            return hot, gen.MASTER, 100, None
        if kind == "last":
            return hot, gen.MASTER, 1000, 86400.0
        if kind == "star":
            return f"fleet.*.m{m}", gen.MASTER, 1000, None
        if kind == "tail":
            return f"fleet.d{d}...", gen.MASTER, 1000, None
        if kind == "alt":
            return (hot if rng.random() < 0.5 else f"fleet.d{d}..."), gen.ALT, 100, None
        topic = [f"fleet.*.m{m}", f"fleet.d{d}...", "fleet..."][int(rng.integers(3))]
        return topic, gen.MASTER, int(rng.choice([2000, 5000, 10000])), None

    def op(self, kind: str) -> None:
        from unitdb_spark import Query

        def q(topic, contract, limit, last):
            return Query(topic + ("?last=24h" if last else ""), contract=contract, limit=limit)

        if kind == "many":
            specs = [self._query("static") for _ in range(6)] + [self._query("star"), self._query("tail")]
            specs = [(t, c, 100, last) for t, c, _, last in specs]
            ok, got, rec = self.loop.call("get_many", self.engine.get_many, [q(*s) for s in specs],
                                          now=self.now_us / 1e6)
            if ok:
                self.loop.verdict(next(filter(None, (
                    self.ledger.check(g, *s[:3], self.now_us, s[3]) for g, s in zip(got, specs))), None))
        else:
            spec = self._query(kind)
            ok, got, rec = self.loop.call("get", self.engine.get, q(*spec), now=self.now_us / 1e6)
            if ok:
                self.loop.verdict(self.ledger.check(got, *spec[:3], self.now_us, spec[3]))
        if rec is not None and ok:
            rec["rows"] = sum(map(len, got)) if kind == "many" else len(got)
            rec["queries_in_call"] = len(got) if kind == "many" else 1

    BLOCK = ["static"] * 3 + ["last"] * 2 + ["star", "tail", "alt", "big", "many"]

    def block(self) -> None:
        for i in self.rng.permutation(len(self.BLOCK)):
            self.op(self.BLOCK[i])

    def report(self, samples: list[Sample]) -> None:
        self.info["get_p50_ms"] = ms(samples, "get")
        self.info["get_p90_ms"] = ms(samples, "get", 90)
        self.info["get_many_p50_ms"] = ms(samples, "get_many")


# ---------------------------------------------------------------- put_churn


class PutChurn:
    """Writes of every kind beside read-your-writes Gets, then compaction."""

    BLOCK_S = 8.5

    STREAM_SCHEMA = ("seq long, msg_id binary, contract long, topic string, ts timestamp, "
                     "expires_at timestamp, payload binary, encrypted boolean")

    def __init__(self, spark, work: Path, seed: int, loop: Loop) -> None:
        self.spark, self.work, self.loop = spark, work, loop
        self.rng = np.random.default_rng(seed)
        self.ledger = Ledger()
        self.cycle = 0
        self.wid = 10**12  # write ids of puts, disjoint from every seq
        self.flush_s: list[float] = []  # flush() times of the timed, untraced bursts
        self.layout: list[tuple[int, int]] = []  # (data files, tombstone files) before each compact
        self.info: dict[str, tuple[float, str, int]] = {}

    @property
    def store(self) -> Path:
        return self.work / "store"

    def setup(self) -> dict[str, float]:
        from unitdb_spark import Engine

        t0 = time.perf_counter()
        self.weights = gen.zipf_weights(len(gen.CONCRETE_TOPICS), self.rng)
        base = gen.message_store(self.rng, self.weights, CHURN_BASE_MESSAGES, CHURN_BASE_DAYS)
        src = self.work / "input" / "base.parquet"
        base.write(src)
        self.ledger.add_messages(base)
        t1 = time.perf_counter()
        self.engine = Engine.open(self.spark, str(self.store))
        self.engine.put_df(self.spark.read.parquet(str(src)))
        t2 = time.perf_counter()
        files = data_files(self.store / "messages")
        print(f"# put_churn base store: {len(base)} rows, {len(files)} files, {sum(files.values())} bytes")
        self.block()  # warmup: one whole cycle, checked but not timed
        return {"generate_s": t1 - t0, "load_s": t2 - t1, "warmup_s": time.perf_counter() - t2}

    def _entry(self, p: gen.Put):
        from unitdb_spark import Entry

        self.wid += 1
        return self.wid, Entry(p.topic, gen.payload(self.wid), p.contract, ttl=p.ttl_s)

    def _record(self, seq, sub, wid, p: gen.Put) -> None:
        exp = p.ts_us + p.ttl_s * 1_000_000 if p.ttl_s else gen.NO_EXPIRY
        self.ledger.add(seq, sub, wid, p.topic, p.contract, p.ts_us, exp)

    def _burst(self, puts: list[gen.Put]) -> tuple[list[tuple[int, int]], float]:
        """Puts, then one flush; returns the (seq, write id) pairs and the flush time."""
        out = []
        for p in puts:
            wid, entry = self._entry(p)
            out.append((self.engine.put_entry(entry, ts=p.ts_us / 1e6), wid))
        t = time.perf_counter()
        self.engine.flush()
        return out, time.perf_counter() - t

    def _batch(self, puts: list[gen.Put], deletes: list[int]) -> list[int]:
        batch, wids = self.engine.batch(), []
        for p in puts:
            wid, entry = self._entry(p)
            batch.put_entry(entry, ts=p.ts_us / 1e6)
            wids.append(wid)
        for s in deletes:
            batch.delete(s)
        batch.commit()
        return wids

    def _stream(self):
        from unitdb_spark.streaming import pubsub

        src = self.spark.readStream.schema(self.STREAM_SCHEMA).parquet(str(self.work / "stream_in"))
        query = pubsub.ingest_stream(src, self.engine.table.path, str(self.work / "stream_ckpt"))
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return query.recentProgress

    def _get(self, topic: str, limit: int, now_us: int) -> None:
        from unitdb_spark import Query

        ok, got, rec = self.loop.call("get", self.engine.get, Query(topic, limit=limit), now=now_us / 1e6)
        if ok:
            self.loop.verdict(self.ledger.check(got, topic, gen.MASTER, limit, now_us, None))
            if rec is not None:
                rec["rows"], rec["queries_in_call"] = len(got), 1

    def _deletable(self, n: int) -> list[int]:
        return [int(s) for s in self.rng.choice(self.ledger.known_seqs(), n, replace=False)]

    def block(self) -> None:
        """One churn cycle."""
        loop, day = self.loop, gen.T_END_US + self.cycle * gen.DAY_US
        now_us = day + gen.DAY_US - 1_000_000  # reads happen at the end of the cycle's day
        plan = gen.churn_plan(self.rng, self.weights, day)

        def msgs():
            return data_files(self.store / "messages")

        for burst in plan.bursts:
            ok, out, rec = loop.call("put_flush", self._burst, burst, probe=msgs)
            if ok:
                acked, flush_s = out
                for (seq, wid), p in zip(acked, burst):
                    self._record(seq, 0, wid, p)
                if loop.recording and rec is None:
                    self.flush_s.append(flush_s)
        self._get(plan.get_topics[0], 100, now_us)

        deletes = self._deletable(gen.BATCH_DELETES)
        ok, wids, _ = loop.call("batch", self._batch, plan.batch_puts, deletes, probe=msgs)
        if ok:
            for i, (wid, p) in enumerate(zip(wids, plan.batch_puts)):
                self._record(None, i + 1, wid, p)
            for s in deletes:
                self.ledger.delete(s)
        for s in self._deletable(gen.SINGLE_DELETES):
            if loop.call("delete", self.engine.delete, s)[0]:
                self.ledger.delete(s)
        self._get(plan.get_topics[1], 100, now_us)

        # explicit seqs above every seq the engine can have assigned: the
        # bulk append then lifts the engine's counter past the stream rows
        first = self.ledger.max_seq + 1000
        stream = gen.timed_rows(self.rng, self.weights, gen.STREAM_ROWS, first, day + 12 * 3600 * 10**6,
                                11 * 3600 * 10**6)
        stream.write(self.work / "stream_in" / f"cycle-{self.cycle}.parquet")
        ok, progress, rec = loop.call("stream", self._stream, probe=msgs)
        if ok:
            self.ledger.add_messages(stream)
            if rec is not None:
                rec["progress"] = progress
        bulk = gen.timed_rows(self.rng, self.weights, gen.BULK_ROWS, first + len(stream) + 1000,
                              day + 3600 * 10**6, 11 * 3600 * 10**6)
        src = self.work / "input" / f"bulk-{self.cycle}.parquet"
        bulk.write(src)
        if loop.call("bulk", lambda: self.engine.put_df(self.spark.read.parquet(str(src))), probe=msgs)[0]:
            self.ledger.add_messages(bulk)
        self._get(plan.get_topics[2].rsplit(".", 1)[0] + "...", 100, now_us)

        ok, n, _ = loop.call("count", self.engine.count, now=now_us / 1e6)
        if ok:
            want = self.ledger.live_count(now_us)
            self.loop.verdict(None if n == want else f"count {n}, expected {want}")
        self.layout.append((len(msgs()), len(data_files(self.store / "tombstones"))))
        loop.call("compact", self.engine.compact, probe=msgs)
        self._get(plan.get_topics[3], 100, now_us)  # reads the compacted layout
        self.cycle += 1

    def report(self, samples: list[Sample]) -> None:
        def total(kind):
            return sum(s.s for s in samples if s.kind == kind)

        def rate(kind, per_call):
            n = sum(s.kind == kind for s in samples)
            return (n * per_call / total(kind) if n else float("nan")), "1/s", n

        self.info["put_msgs_per_s"] = rate("put_flush", gen.BURST_PUTS)
        self.info["flush_p50_ms"] = pct(self.flush_s)
        self.info["flush_p90_ms"] = pct(self.flush_s, 90)
        for name, kind in (("batch_commit_p50_ms", "batch"), ("delete_p50_ms", "delete"),
                           ("churn_get_p50_ms", "get"), ("compact_p50_ms", "compact")):
            self.info[name] = ms(samples, kind)
        self.info["bulk_rows_per_s"] = rate("bulk", gen.BULK_ROWS)
        self.info["stream_rows_per_s"] = rate("stream", gen.STREAM_ROWS)
        used = sum(tree_files(self.store / "messages").values()) + sum(tree_files(self.store / "tombstones").values())
        self.info["store_bytes_per_payload_byte"] = (used / self.ledger.payload_bytes, "ratio", 1)


# ---------------------------------------------------------------- analytics


class Analytics:
    """Ten registry queries per pass, each after clearing every cache."""

    BLOCK_S = 11.0

    def __init__(self, spark, work: Path, seed: int, loop: Loop) -> None:
        self.spark, self.work, self.loop = spark, work, loop
        self.passes = 0
        self.pass_s: list[float] = []
        self.info: dict[str, tuple[float, str, int]] = {}

    def setup(self) -> dict[str, float]:
        import __spark_entry__ as entry

        registry = entry.queries()
        missing = [q for q in ANALYTICS_QUERIES if q not in registry]
        if missing:
            raise SystemExit(f"queries missing from __spark_entry__.queries(): {missing}")
        self.entry, self.fns = entry, {q: registry[q] for q in ANALYTICS_QUERIES}
        self.pins = pinned_digests()
        t0 = time.perf_counter()
        rows = gen.analytics_tables(self.work / "data")
        print(f"# analytics tables: {rows}")
        # the warmup pass compiles every plan on a fiftieth of the data; its
        # answers are not checked
        gen.analytics_tables(self.work / "warm", scale=0.02)
        t1 = time.perf_counter()
        self.data = self.work / "warm"
        self.block()
        self.data = self.work / "data"
        return {"generate_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    def _query(self, name: str, holder: list):
        df = self.fns[name](self.spark, str(self.data))
        holder.append(df)
        return df.collect()

    def block(self) -> None:
        """One pass over the queries, in registry order."""
        from unitdb_spark.operators.graph import clear_pair_cache

        t = 0.0
        for i, name in enumerate(ANALYTICS_QUERIES):
            self.spark.catalog.clearCache()
            clear_pair_cache()
            self.entry._CACHE.clear()
            holder: list = []
            # every query is traced in one of two consecutive passes
            ok, rows, rec = self.loop.call(name, self._query, name, holder, trace=(i + self.passes) % 2 == 0)
            t += self.loop.samples[-1].s if self.loop.recording else 0.0
            if ok and self.loop.recording:
                got = digest(rows)
                self.loop.verdict(None if got == self.pins.get(name) else f"{name}: digest {got}")
                if rec is not None:
                    rec["queries"].append(self.loop.counters.query(holder[0]))
        self.passes += 1
        if self.loop.recording:
            self.pass_s.append(t)

    def report(self, samples: list[Sample]) -> None:
        self.info["analytics_total_s"] = (float(np.median(self.pass_s)), "s", len(self.pass_s))


WORKLOADS = {"get_mix": GetMix, "put_churn": PutChurn, "analytics": Analytics}
