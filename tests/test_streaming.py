"""Structured Streaming pub/sub tests (SURVEY §2.2 ops #19-23).

Stream sources replay the driver's events table; all queries run with
availableNow (bounded) triggers so tests are deterministic.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unitdb_spark.core.model import MASTER_CONTRACT
from unitdb_spark.engine import Engine
from unitdb_spark.streaming.pubsub import (
    DeliveryMode,
    batched_writer,
    events_as_stream,
    fanout_once,
    ingest_stream,
    prepare_entries,
    prepare_events_stream_dir,
    relay,
    subscribe,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events-stream"))
    prepare_events_stream_dir(spark, SF, d, n_files=4)
    return d


def entries_stream(spark, events_dir):
    """events replayed as publish entries (topic from event_type)."""
    ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
    return prepare_entries(
        ev.select(
            F.concat(F.lit("events."), "event_type", F.lit(".u"), (F.col("user_id") % 10)).alias("topic"),
            F.col("props").cast("binary").alias("payload"),
            F.col("ts"),
            F.col("event_id").cast("long").alias("seq"),
        )
    )


class TestIngestStream:
    def test_publish_to_table_then_get(self, spark, events_dir, tmp_path):
        table = str(tmp_path / "stream-store" / "messages")
        ckpt = str(tmp_path / "ckpt")
        q = ingest_stream(entries_stream(spark, events_dir), table, ckpt)
        q.awaitTermination(120)

        stored = spark.read.parquet(table)
        assert stored.count() == 1000  # all events landed exactly once
        # restart with same checkpoint: no duplicates (WAL parity)
        q2 = ingest_stream(entries_stream(spark, events_dir), table, ckpt)
        q2.awaitTermination(120)
        assert spark.read.parquet(table).count() == 1000

    def test_relay_is_batch_get(self, spark, events_dir, tmp_path):
        store = str(tmp_path / "store2")
        table = store + "/messages"
        ckpt = str(tmp_path / "ckpt2")
        q = ingest_stream(entries_stream(spark, events_dir), table, ckpt)
        q.awaitTermination(120)
        eng = Engine(spark, store)
        out = relay(eng, "events.purchase...")
        rows = out.select("topic").distinct().collect()
        assert rows and all(r[0].startswith("events.purchase.") for r in rows)


class TestSubscribe:
    def test_wildcard_subscription(self, spark, events_dir):
        sub = subscribe(entries_stream(spark, events_dir), "events.click.*")
        q = (
            sub.writeStream.format("memory")
            .queryName("sub_click")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT DISTINCT topic FROM sub_click").collect()
        assert got and all(r[0].startswith("events.click.") for r in got)

    def test_contract_isolation_in_stream(self, spark, events_dir):
        sub = subscribe(
            entries_stream(spark, events_dir), "events...", contract=424242
        )
        q = (
            sub.writeStream.format("memory")
            .queryName("sub_wrongc")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert spark.sql("SELECT * FROM sub_wrongc").count() == 0

    def test_reliable_mode_dedups_msg_id(self, spark, tmp_path):
        # duplicate publishes with same msg_id -> delivered once
        src = str(tmp_path / "dup-src")
        rows = [(f"id-{i % 5}", "a.b", b"x", i) for i in range(10)]
        spark.createDataFrame(
            rows, "msg_id_s string, topic string, payload binary, n long"
        ).withColumn("msg_id", F.encode("msg_id_s", "utf-8")).withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("n"))
        ).drop("msg_id_s", "n").write.mode("overwrite").parquet(src)

        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        sub = subscribe(
            prepare_entries(stream), "a.b", mode=DeliveryMode.RELIABLE
        )
        q = (
            sub.writeStream.format("memory")
            .queryName("sub_reliable")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert spark.sql("SELECT DISTINCT msg_id FROM sub_reliable").count() == 5
        assert spark.sql("SELECT * FROM sub_reliable").count() == 5


class TestFanout:
    def test_multiplexed_fanout(self, spark, events_dir):
        subs = spark.createDataFrame(
            [
                (1, "events.click.*", MASTER_CONTRACT),
                (2, "events...", MASTER_CONTRACT),
                (3, "other.topic", MASTER_CONTRACT),
            ],
            "sub_id long, topic string, contract long",
        )
        out = fanout_once(entries_stream(spark, events_dir), subs)
        q = (
            out.writeStream.format("memory")
            .queryName("fanout")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        per_sub = dict(
            spark.sql("SELECT sub_id, count(*) FROM fanout GROUP BY sub_id").collect()
        )
        assert per_sub.get(2) == 1000  # 'events...' sees everything
        assert 0 < per_sub.get(1, 0) < 1000  # clicks only
        assert 3 not in per_sub  # no matches


class TestStreamingWindowAgg:
    def test_windowed_counts_match_batch(self, spark, events_dir):
        stream = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("win_agg")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT sum(n) FROM win_agg").collect()[0][0]
        batch = spark.read.parquet(events_dir)
        # append mode emits only watermark-closed windows; compare
        # against the batch count of rows in those same closed windows
        closed = spark.sql("SELECT window FROM win_agg").count()
        assert closed > 0 and got <= 1000

    def test_batch_mode_trigger(self, spark, events_dir, tmp_path):
        seen: list[int] = []

        def sink(df, batch_id):
            seen.append(df.count())

        q = batched_writer(
            entries_stream(spark, events_dir),
            sink,
            str(tmp_path / "ckpt-b"),
            available_now=True,
        )
        q.awaitTermination(120)
        assert sum(seen) == 1000 and len(seen) >= 2  # grouped deliveries


class TestSeqTiebreak:
    def test_fallback_seq_distinct_on_ts_collision(self, spark):
        """Distinct messages sharing a second-granularity timestamp must
        not collide on the fallback seq (downstream treats seq as
        identity: RELIABLE dedup, stateful top-K seen-set)."""
        df = spark.createDataFrame(
            [("a.b", b"x"), ("a.b", b"y"), ("a.c", b"x")],
            "topic string, payload binary",
        ).withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000)))
        seqs = [r[0] for r in prepare_entries(df).select("seq").collect()]
        assert len(set(seqs)) == 3
        # ts ordering is preserved across different timestamps
        df2 = spark.createDataFrame(
            [("a.b", b"x", 1_700_000_000), ("a.b", b"y", 1_700_000_001)],
            "topic string, payload binary, t long",
        ).withColumn("ts", F.timestamp_seconds(F.col("t"))).drop("t")
        s = {bytes(r["payload"]): r["seq"] for r in prepare_entries(df2).collect()}
        assert s[b"x"] < s[b"y"]


class TestDelayGrouping:
    def test_delay_ms_splits_flush_groups(self, spark, tmp_path):
        """Two subscriptions with different delay_ms flush in different
        trigger groups (timeID(delay) parity, batch.go:93-108)."""
        src = str(tmp_path / "delay-src")
        spark.createDataFrame(
            [("a.b", b"m1"), ("a.b", b"m2")], "topic string, payload binary"
        ).withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000))).write.mode(
            "overwrite"
        ).parquet(src)
        schema = spark.read.parquet(src).schema
        stream = prepare_entries(spark.readStream.schema(schema).parquet(src))
        subs = spark.createDataFrame(
            [(1, "a.b", MASTER_CONTRACT, 0), (2, "a.b", MASTER_CONTRACT, 5000)],
            "sub_id long, topic string, contract long, delay_ms long",
        )
        out = fanout_once(stream, subs)
        flushed: dict[tuple, list[int]] = {}

        def sink(df, key):
            flushed[key] = sorted(r[0] for r in df.select("sub_id").collect())

        q = batched_writer(
            out,
            sink,
            str(tmp_path / "ckpt-delay"),
            batch_interval_ms=1000,
            available_now=True,
            delay_col="delay_ms",
        )
        q.awaitTermination(120)
        # one flush group per distinct due time: sub 1 (delay 0) and
        # sub 2 (delay 5s) are 5 interval buckets apart
        by_group = {k[1]: v for k, v in flushed.items()}
        assert len(by_group) == 2
        g1, g2 = sorted(by_group)
        assert g2 - g1 == 5
        assert by_group[g1] == [1, 1] and by_group[g2] == [2, 2]


class TestFreshCheckpoint:
    def test_new_checkpoint_does_not_skip_batches(self, spark, tmp_path):
        """Round-1 regression: a bare high-water marker made a fresh
        checkpoint (batch ids reset to 0) skip every real batch until
        the stale id was passed — silent data loss. The commit log is
        keyed by query generation, so new-checkpoint runs apply."""
        table = str(tmp_path / "fresh" / "messages")

        def src_of(name, rows):
            p = str(tmp_path / name)
            spark.createDataFrame(rows, "topic string, payload binary").withColumn(
                "ts", F.timestamp_seconds(F.lit(1_700_000_000))
            ).write.mode("overwrite").parquet(p)
            schema = spark.read.parquet(p).schema
            return prepare_entries(spark.readStream.schema(schema).parquet(p))

        q = ingest_stream(
            src_of("srcA", [("a.b", b"one"), ("a.b", b"two")]),
            table,
            str(tmp_path / "ckptA"),
        )
        q.awaitTermination(120)
        assert spark.read.parquet(table).count() == 2
        # second pipeline: NEW source, FRESH checkpoint, same table
        q2 = ingest_stream(
            src_of("srcB", [("a.c", b"three")]), table, str(tmp_path / "ckptB")
        )
        q2.awaitTermination(120)
        assert spark.read.parquet(table).count() == 3


class TestStatefulRestart:
    def test_topk_state_survives_checkpoint_restart(self, spark, tmp_path):
        """Stop the stateful query, append new data, restart from the
        SAME checkpoint: the rebuilt top-K must merge pre-stop state
        with post-restart input (recovery parity — recovery.go:17-120,
        here the state store + checkpoint do it)."""
        import datetime as dt

        from unitdb_spark.streaming.state import streaming_topk_per_topic

        src = tmp_path / "src"
        src.mkdir()
        cp = str(tmp_path / "cp")
        schema = "contract long, topic string, seq long, ts timestamp, payload binary"

        def write_file(name, seqs):
            rows = [
                (
                    MASTER_CONTRACT,
                    "t.a",
                    s,
                    dt.datetime.fromtimestamp(1_700_000_000 + s, dt.timezone.utc).replace(tzinfo=None),
                    b"p",
                )
                for s in seqs
            ]
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))

        out_dir = str(tmp_path / "out")

        def run_once():
            stream = spark.readStream.schema(
                spark.read.parquet(str(src)).schema
            ).parquet(str(src))
            out = streaming_topk_per_topic(stream, k=3)

            def sink(df, bid):
                df.withColumn("_b", F.lit(bid)).write.mode("append").parquet(out_dir)

            q = (
                out.writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        # phase 1: seqs 10,20,30,40 -> state top3 = {40,30,20}
        write_file("a", [10, 20, 30, 40])
        run_once()
        # phase 2 (restart from checkpoint): only 35 arrives; a correct
        # restart merges it into surviving state -> {40,35,30}
        write_file("b", [35])
        run_once()
        rows = spark.read.parquet(out_dir).toPandas()
        # batch ids are monotonic across restarts; the final emission
        # for the key is the row set at the max batch id
        final = rows[rows["_b"] == rows["_b"].max()].sort_values("rank")
        assert list(final["seq"]) == [40, 35, 30]


class TestStreamingDedup:
    def test_dedup_ledger_survives_checkpoint_restart(self, spark, tmp_path):
        """Exactly-once id dedup across a checkpoint restart: run 1
        keeps ids {1..4} (dropping an in-batch duplicate of 2); run 2
        restarts from the SAME checkpoint and re-delivers 1 and 3
        beside new ids {5,6} — the restored ledger must drop the
        redeliveries, so the union of emissions is exactly one row per
        id (Reliable-mode receipt ledger, store/store.go:183-288, as
        query state)."""
        import datetime as dt

        from unitdb_spark.streaming.state import streaming_dedup

        src = tmp_path / "src"
        src.mkdir()
        cp = str(tmp_path / "cp")
        out_dir = str(tmp_path / "out")
        schema = "event_id long, ts timestamp, payload string"

        def write_file(ids):
            rows = [
                (
                    i,
                    dt.datetime.fromtimestamp(
                        1_700_000_000 + i, dt.timezone.utc
                    ).replace(tzinfo=None),
                    f"p{i}",
                )
                for i in ids
            ]
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))

        def run_once():
            stream = spark.readStream.schema(
                spark.read.parquet(str(src)).schema
            ).parquet(str(src))
            q = (
                streaming_dedup(
                    stream, id_col="event_id", ts_col="ts", watermark="1 hour"
                )
                .writeStream.foreachBatch(
                    lambda df, bid: df.write.mode("append").parquet(out_dir)
                )
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        write_file([1, 2, 2, 3, 4])  # in-batch duplicate of 2
        run_once()
        write_file([1, 3, 5, 6])  # cross-restart redeliveries of 1 and 3
        run_once()
        got = spark.read.parquet(out_dir).toPandas()
        assert sorted(got["event_id"]) == [1, 2, 3, 4, 5, 6]
        # payloads are the first arrival's, one row per id
        assert got["payload"].nunique() == 6


class TestStreamingSessionWindows:
    def test_streamed_sessions_match_batch(self, spark, events_dir):
        """session_agg is the same expression in batch and streaming;
        append-mode emits watermark-closed sessions, each of which must
        equal its batch twin row-for-row."""
        from unitdb_spark.operators.window_agg import session_agg

        stream = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        out = session_agg(
            stream.withWatermark("ts", "1 hour"),
            gap="30 minutes",
            keys=["user_id"],
            aggs=[F.count(F.lit(1)).alias("n")],
        )
        q = (
            out.writeStream.format("memory")
            .queryName("stream_sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["user_id"], r["session_start"], r["session_end"]): r["n"]
            for r in spark.sql("SELECT * FROM stream_sessions").collect()
        }
        assert got, "no sessions closed by the watermark"
        batch = {
            (r["user_id"], r["session_start"], r["session_end"]): r["n"]
            for r in session_agg(
                spark.read.parquet(events_dir),
                gap="30 minutes",
                keys=["user_id"],
                aggs=[F.count(F.lit(1)).alias("n")],
            ).collect()
        }
        # every emitted (closed) session equals its batch twin; open
        # sessions at the stream tail are the only permitted difference
        for k, n in got.items():
            assert batch.get(k) == n, k
        assert len(got) >= 0.8 * len(batch)


class TestContinuousRollup:
    def test_streamed_rollup_matches_batch(self, spark, events_dir, tmp_path):
        """Incrementally-folded rollup == one-shot batch rollup on the
        mergeable columns, including across a stop/restart boundary."""
        from unitdb_spark.operators.rollup import topic_rollup
        from unitdb_spark.streaming.continuous import continuous_rollup, read_rollup

        agg = str(tmp_path / "agg")
        cp = str(tmp_path / "cp")

        q = continuous_rollup(entries_stream(spark, events_dir), agg, cp)
        q.awaitTermination(180)
        # restart with no new data: applied-batch commit log -> no-op
        q2 = continuous_rollup(entries_stream(spark, events_dir), agg, cp)
        q2.awaitTermination(180)

        got = {
            (r["contract"], r["topic_prefix"]): (r["n_msgs"], r["first_ts"], r["last_ts"])
            for r in read_rollup(spark, agg).collect()
        }
        batch = entries_stream_batch(spark, events_dir)
        want = {
            (r["contract"], r["topic_prefix"]): (r["n_msgs"], r["first_ts"], r["last_ts"])
            for r in topic_rollup(batch).collect()
        }
        assert got == want

        # FRESH checkpoint over the same source: the full replay
        # rebuilds its own snapshot generation (round-1's bare marker
        # would have skipped every batch and pinned the stale snapshot)
        cp2 = str(tmp_path / "cp-fresh")
        q3 = continuous_rollup(entries_stream(spark, events_dir), agg, cp2)
        q3.awaitTermination(180)
        got2 = {
            (r["contract"], r["topic_prefix"]): (r["n_msgs"], r["first_ts"], r["last_ts"])
            for r in read_rollup(spark, agg).collect()
        }
        assert got2 == want


class TestContinuousConcentration:
    def test_rolling_state_and_report_match_batch(self, spark, events_dir, tmp_path):
        """The concentration audit's streaming twin: per-key counts
        folded across micro-batches (and a stop/restart boundary)
        equal the one-shot groupBy, and the derived report — shared
        math with the batch operator — equals batch
        concentration_report row for row."""
        from unitdb_spark.operators.profile import concentration_report
        from unitdb_spark.streaming.continuous import (
            continuous_key_counts,
            read_concentration,
            read_key_counts,
        )

        state = str(tmp_path / "conc-state")
        cp = str(tmp_path / "conc-cp")
        ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q = continuous_key_counts(ev, "user_id", state, cp)
        q.awaitTermination(180)
        # restart with no new data: commit log -> no double count
        ev2 = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q2 = continuous_key_counts(ev2, "user_id", state, cp)
        q2.awaitTermination(180)

        batch = spark.read.parquet(events_dir)
        want_counts = {
            r["user_id"]: r["n"]
            for r in batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        got_counts = {r["_k"]: r["_n"] for r in read_key_counts(spark, state).collect()}
        assert got_counts == want_counts

        want = concentration_report(batch, "user_id").collect()[0].asDict()
        got = read_concentration(spark, state).collect()[0].asDict()
        assert got == want


class TestContinuousForecastBacktest:
    def test_rolling_cells_and_backtest_match_batch(self, spark, events_dir, tmp_path):
        """The forecast backtest's streaming twin: (key, day, hour)
        cents/count cells folded across micro-batches (and a restart)
        equal the one-shot groupBy, and the derived backtest — scored
        through the shared code path — equals the batch operator row
        for row."""
        from unitdb_spark.operators.timeseries import seasonal_naive_backtest
        from unitdb_spark.streaming.continuous import (
            continuous_hourly_cells,
            read_cells,
            read_forecast_backtest,
        )

        state = str(tmp_path / "cells")
        cp = str(tmp_path / "cells-cp")
        ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q = continuous_hourly_cells(ev, "event_type", "ts", "value", state, cp)
        q.awaitTermination(180)
        # restart with no new data: commit log -> no double count
        ev2 = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q2 = continuous_hourly_cells(ev2, "event_type", "ts", "value", state, cp)
        q2.awaitTermination(180)

        batch = spark.read.parquet(events_dir)
        want_cells = {
            (r["_k"], str(r["_d"]), r["_h"]): (r["_cents"], r["_c"])
            for r in batch.filter(F.col("value").isNotNull())
            .groupBy(
                F.col("event_type").alias("_k"),
                F.to_date("ts").alias("_d"),
                F.hour("ts").alias("_h"),
            )
            .agg(
                F.expr(
                    "CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)"
                ).alias("_cents"),
                F.count(F.lit(1)).alias("_c"),
            )
            .collect()
        }
        got_cells = {
            (r["_k"], str(r["_d"]), r["_h"]): (r["_cents"], r["_c"])
            for r in read_cells(spark, state).collect()
        }
        assert got_cells == want_cells

        want = {
            r["event_type"]: r.asDict()
            for r in seasonal_naive_backtest(batch, "event_type").collect()
        }
        got = {
            r["event_type"]: r.asDict()
            for r in read_forecast_backtest(spark, state).collect()
        }
        assert got == want

        # second dashboard over the SAME committed state: the rolling
        # decomposition equals the batch operator row for row
        from unitdb_spark.operators.timeseries import seasonal_decompose
        from unitdb_spark.streaming.continuous import read_seasonal_decompose

        want_d = {
            (r["event_type"], r["bucket_s"]): r.asDict()
            for r in seasonal_decompose(batch, "event_type").collect()
        }
        got_d = {
            (r["event_type"], r["bucket_s"]): r.asDict()
            for r in read_seasonal_decompose(spark, state).collect()
        }
        assert got_d == want_d


class TestContinuousKV:
    _SCHEMA = "key long, value binary, op string, op_order long"

    def _write_ops(self, spark, path, rows):
        spark.createDataFrame(rows, self._SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    def test_streamed_kv_matches_batch_reduce(self, spark, tmp_path):
        """Folded state == operators.kv.kv_state over the whole op-log,
        across two micro-batches and a no-new-data restart."""
        from unitdb_spark.operators.kv import kv_state
        from unitdb_spark.streaming.kv_sink import continuous_kv, read_kv

        src, state, cp = (str(tmp_path / d) for d in ("src", "state", "cp"))
        b1 = [
            (1, bytearray(b"v1"), "put", 10),
            (2, bytearray(b"v2"), "put", 11),
            (1, bytearray(b"v1b"), "put", 12),
        ]
        b2 = [
            (2, None, "delete", 20),
            (3, bytearray(b"v3"), "put", 21),
        ]
        self._write_ops(spark, src, b1)
        stream = spark.readStream.schema(self._SCHEMA).parquet(src)
        continuous_kv(stream, state, cp).awaitTermination(180)
        self._write_ops(spark, src, b2)
        continuous_kv(
            spark.readStream.schema(self._SCHEMA).parquet(src), state, cp
        ).awaitTermination(180)

        got = {r["key"]: bytes(r["value"]) for r in read_kv(spark, state).collect()}
        oplog = spark.read.parquet(src)
        want = {
            r["key"]: bytes(r["value"]) for r in kv_state(oplog).collect()
        }
        assert got == want == {1: b"v1b", 3: b"v3"}

        # restart with no new data: commit log makes it a no-op
        continuous_kv(
            spark.readStream.schema(self._SCHEMA).parquet(src), state, cp
        ).awaitTermination(180)
        again = {r["key"]: bytes(r["value"]) for r in read_kv(spark, state).collect()}
        assert again == want

    def test_op_order_ties_resolve_alike_in_batch_and_stream(self, spark, tmp_path):
        """On an exact op_order tie a delete beats a put, and of two
        puts the larger value wins: in kv_state and in the streamed
        fold alike, whatever the physical row order."""
        from unitdb_spark.operators.kv import kv_state
        from unitdb_spark.streaming.kv_sink import continuous_kv, read_kv

        src, state, cp = (str(tmp_path / d) for d in ("src", "state", "cp"))
        rows = []
        for k in range(200):
            rows += [(k, bytearray(b"p%d" % k), "put", k), (k, None, "delete", k)]
        for k in range(200, 400):
            rows += [(k, bytearray(b"b%d" % k), "put", k), (k, bytearray(b"a%d" % k), "put", k)]
        self._write_ops(spark, src, rows)
        continuous_kv(
            spark.readStream.schema(self._SCHEMA).parquet(src), state, cp
        ).awaitTermination(180)

        got = {r["key"]: bytes(r["value"]) for r in read_kv(spark, state).collect()}
        want = {
            r["key"]: bytes(r["value"])
            for r in kv_state(spark.read.parquet(src)).collect()
        }
        assert got == want == {k: b"b%d" % k for k in range(200, 400)}

    def test_tombstone_blocks_stale_put(self, spark, tmp_path):
        """A later batch carrying an OLDER put (lower op_order) must not
        resurrect a deleted key — the tombstone row wins the re-reduce."""
        from unitdb_spark.streaming.kv_sink import continuous_kv, read_kv

        src, state, cp = (str(tmp_path / d) for d in ("src", "state", "cp"))
        self._write_ops(spark, src, [(7, None, "delete", 100)])
        continuous_kv(
            spark.readStream.schema(self._SCHEMA).parquet(src), state, cp
        ).awaitTermination(180)
        # stale put arrives late (out-of-order source)
        self._write_ops(spark, src, [(7, bytearray(b"old"), "put", 50)])
        continuous_kv(
            spark.readStream.schema(self._SCHEMA).parquet(src), state, cp
        ).awaitTermination(180)
        assert read_kv(spark, state).count() == 0
        tomb = read_kv(spark, state, include_tombstones=True).collect()
        assert len(tomb) == 1 and tomb[0]["op"] == "delete"


def entries_stream_batch(spark, events_dir):
    """The batch twin of entries_stream (same derivation, plain read)."""
    ev = spark.read.parquet(events_dir)
    return prepare_entries(
        ev.select(
            F.concat(F.lit("events."), "event_type", F.lit(".u"), (F.col("user_id") % 10)).alias("topic"),
            F.col("props").cast("binary").alias("payload"),
            F.col("ts"),
            F.col("event_id").cast("long").alias("seq"),
        )
    )


class TestStatefulTopK:
    def test_streaming_topk_per_topic(self, spark, events_dir):
        from unitdb_spark.streaming.state import streaming_topk_per_topic

        out = streaming_topk_per_topic(entries_stream(spark, events_dir), k=3)
        q = (
            out.writeStream.format("memory")
            .queryName("state_topk")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        # final state per topic: newest 3 seqs, rank 1..3, matches batch
        final = spark.sql(
            """
            SELECT topic, seq, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY topic, rank ORDER BY seq DESC) AS rn
              FROM state_topk) WHERE rn = 1
            """
        ).toPandas()
        batch = (
            spark.read.parquet(events_dir)
            .selectExpr(
                "concat('events.', event_type, '.u', user_id % 10) AS topic",
                "event_id AS seq",
            )
            .toPandas()
        )
        top_batch = (
            batch.sort_values("seq", ascending=False)
            .groupby("topic")
            .head(3)
            .groupby("topic")["seq"]
            .apply(lambda s: tuple(sorted(s, reverse=True)))
        )
        got = final.sort_values(["topic", "rank"]).groupby("topic")["seq"].apply(
            lambda s: tuple(s)
        )
        assert dict(got) == dict(top_batch)


class TestStreamStreamJoin:
    def test_interval_join_matches_batch(self, spark, events_dir):
        """Streaming stream-stream interval join == the same function
        run in batch on the same input (withWatermark is a batch
        no-op), row for row."""
        from unitdb_spark.streaming.joins import stream_interval_join

        def split(df):
            clicks = df.filter(F.col("event_type") == "click").select(
                "user_id",
                F.col("ts").alias("click_ts"),
                F.col("event_id").alias("click_id"),
            )
            buys = df.filter(F.col("event_type") == "purchase").select(
                "user_id",
                F.col("ts").alias("buy_ts"),
                F.col("event_id").alias("buy_id"),
            )
            return clicks, buys

        batch_df = spark.read.parquet(events_dir)
        bc, bb = split(batch_df)
        expected = sorted(
            map(
                tuple,
                stream_interval_join(
                    bc, bb, "user_id", "click_ts", "buy_ts",
                    lower_seconds=0, upper_seconds=86400,
                ).select("user_id", "click_id", "buy_id").collect(),
            )
        )
        assert expected, "fixture must produce at least one attribution pair"

        stream_df = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        sc, sb = split(stream_df)
        out = stream_interval_join(
            sc, sb, "user_id", "click_ts", "buy_ts",
            lower_seconds=0, upper_seconds=86400,
        ).select("user_id", "click_id", "buy_id")
        q = (
            out.writeStream.format("memory")
            .queryName("ssj_pairs")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(map(tuple, spark.sql("SELECT * FROM ssj_pairs").collect()))
        assert got == expected

    def test_rejects_ambiguous_columns(self, spark, events_dir):
        from unitdb_spark.streaming.joins import stream_interval_join

        df = spark.read.parquet(events_dir)
        with pytest.raises(ValueError):
            stream_interval_join(df, df.withColumnRenamed("ts", "ts2"),
                                 "user_id", "ts", "ts2")
        with pytest.raises(ValueError):
            stream_interval_join(
                df.select("user_id", "ts"),
                df.select("user_id", F.col("ts").alias("ts")),
                "user_id", "ts", "ts",
            )


class TestCommitLog:
    def test_stale_round1_marker_file_is_cleared(self, spark, tmp_path):
        """Round 1 left a plain FILE at the log root; CommitLog needs a
        directory tree there. Init must clear the stale file so an
        existing round-1 pipeline restarts cleanly."""
        from unitdb_spark import fs
        from unitdb_spark.streaming.commitlog import CommitLog

        root = str(tmp_path / "messages.applied")
        fs.write_text(spark, root, "7")  # the round-1 high-water marker
        assert not fs.is_dir(spark, root)
        log = CommitLog(spark, str(tmp_path / "ckpt"), root)
        log.record(0)
        assert log.applied(0) and fs.is_dir(spark, root)

    def test_init_refuses_to_delete_non_marker_file(self, spark, tmp_path):
        """Only a genuine round-1 marker (bare batch id) is cleared; a
        misconfigured log_root pointing at an unrelated data file must
        raise, not silently destroy it."""
        import pytest as _pytest

        from unitdb_spark import fs
        from unitdb_spark.streaming.commitlog import CommitLog

        root = str(tmp_path / "precious.json")
        fs.write_text(spark, root, '{"not": "a marker"}')
        with _pytest.raises(ValueError, match="refusing"):
            CommitLog(spark, str(tmp_path / "ckpt"), root)
        assert fs.read_text(spark, root) == '{"not": "a marker"}'  # untouched

    def test_prune_other_generations_removes_stale_commits(self, spark, tmp_path):
        """A superseded query generation's commit entries must go with
        its snapshots — otherwise latest_commit can tie-break onto a
        generation whose snapshot was just deleted."""
        import json

        from unitdb_spark import fs
        from unitdb_spark.streaming.commitlog import CommitLog, latest_commit

        root = str(tmp_path / "state")
        ck_old = str(tmp_path / "ck_old")
        ck_new = str(tmp_path / "ck_new")
        fs.write_text(spark, ck_old + "/metadata", json.dumps({"id": "gen-old"}))
        fs.write_text(spark, ck_new + "/metadata", json.dumps({"id": "gen-new"}))
        old = CommitLog(spark, ck_old, root)
        old.record(9)  # stale generation, higher batch id
        new = CommitLog(spark, ck_new, root)
        new.record(1)
        new.prune_other_generations()
        assert latest_commit(spark, root) == ("gen-new", 1)
        assert not fs.exists(spark, f"{root}/_applied/gen-old")


class TestCompactWithStreaming:
    def test_compact_between_ingest_runs_preserves_everything(
        self, spark, events_dir, tmp_path
    ):
        """The real compaction lifecycle: streaming ingest fragments
        partitions (one file per micro-batch), compact() bin-packs them
        under its lease, a later ingest run appends more — no rows
        lost, no duplicates, queries unchanged."""
        from unitdb_spark import fs
        from unitdb_spark.engine import Engine

        store = str(tmp_path / "cstore")
        table = store + "/messages"
        ckpt = str(tmp_path / "cckpt")
        q = ingest_stream(entries_stream(spark, events_dir), table, ckpt)
        q.awaitTermination(120)
        eng = Engine(spark, store)
        before = eng.count(now=0)  # TTL clock before any expiry
        report = eng.compact(min_files=2, target_file_bytes=256 << 20)
        assert report, "micro-batch appends should leave compactable partitions"
        assert not fs.exists(spark, eng.table.lease_path)  # released
        assert eng.count(now=0) == before
        # post-compact ingest still works (lease released) and lands
        eng.put(b"post.compact".decode(), b"tail")
        eng.flush()
        assert eng.count(now=0) == before + 1
        # recovery dir left no debris inside the table
        names = [n for n, _, _ in fs.list_status(spark, table)]
        assert all(n.startswith("contract=") or n.startswith("_") for n in names)


class TestStreamingSessionize:
    def test_closed_sessions_match_batch_across_batches(self, spark, tmp_path):
        """Two in-order micro-batches (second run continues the first's
        checkpoint): every CLOSED session equals the batch
        gaps-and-islands sessionization row for row; each key's final
        still-open session is the only difference (append-mode lag)."""
        import datetime as dt

        from unitdb_spark.operators.window_agg import sessionize_ids
        from unitdb_spark.streaming.state import streaming_sessionize

        base = dt.datetime(2024, 3, 1)
        # user 1: three sessions (gaps 40+ min); user 2: one long session
        offs = {
            1: [0, 5, 10, 55, 60, 120, 125, 130],
            2: [0, 20, 40, 60, 80, 100, 120, 140],
        }
        rows = []
        eid = 0
        for u, mins in offs.items():
            for m in mins:
                rows.append((eid, base + dt.timedelta(minutes=m), u))
                eid += 1
        rows.sort(key=lambda r: r[1])
        schema = "event_id long, ts timestamp, user_id long"
        half = len(rows) // 2
        src = str(tmp_path / "sess_src")
        cp = str(tmp_path / "sess_cp")
        emitted: list = []

        def run(batch_rows):
            spark.createDataFrame(batch_rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            out = streaming_sessionize(
                spark.readStream.schema(
                    spark.read.parquet(src).schema
                ).option("maxFilesPerTrigger", 1).parquet(src),
                key_col="user_id",
                gap_seconds=1800,
            )
            q = (
                out.writeStream.foreachBatch(
                    lambda df, bid: emitted.extend(df.collect())
                )
                .outputMode("append")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        run(rows[:half])
        run(rows[half:])
        got = {
            (r["key"], r["session_id"]): (r["n_events"], r["start_us"], r["end_us"])
            for r in emitted
        }
        batch = sessionize_ids(
            spark.createDataFrame(rows, schema),
            gap_seconds=1800, key="user_id", tiebreak_cols=["event_id"],
        ).groupBy("user_id", "session_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.unix_micros(F.min("ts")).alias("s"),
            F.unix_micros(F.max("ts")).alias("e"),
        )
        want_all = {
            (r["user_id"], r["session_id"]): (r["n"], r["s"], r["e"])
            for r in batch.collect()
        }
        # drop each key's LAST (still-open) session from the batch view
        last = {}
        for (u, sid) in want_all:
            last[u] = max(last.get(u, 0), sid)
        want_closed = {
            ks: v for ks, v in want_all.items() if ks[1] != last[ks[0]]
        }
        assert got == want_closed
        assert len(got) >= 2  # user 1 really closed two sessions


class TestReliableSink:
    def test_crashed_subscriber_resumes_unacked_exactly_once(
        self, spark, events_dir, tmp_path
    ):
        """Kill the subscriber mid-batch (after the in-flight log
        persisted, before the ack), then resume: every message is
        delivered exactly once across crash + restart — the
        store.go:203-257 pending-log contract."""
        from unitdb_spark.streaming.pubsub import ReliableSink

        root = str(tmp_path / "sub1")
        cp = str(tmp_path / "cp")
        delivered: list[int] = []
        state = {"crash_on": 1}

        def sink(df, batch_id):
            rows = [r["seq"] for r in df.select("seq").collect()]
            if batch_id == state["crash_on"]:
                raise RuntimeError("subscriber died mid-delivery")
            delivered.extend(rows)

        rs = ReliableSink(spark, root, cp, sink)
        q = (
            entries_stream(spark, events_dir)
            .writeStream.foreachBatch(rs)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception):
            q.awaitTermination(180)
            if q.exception() is not None:
                raise q.exception()
        # the crashed batch is persisted in-flight and unacked
        state["crash_on"] = None
        assert rs.resume() == 1  # reconnect drains the pending log
        # restart the stream on the same checkpoint: the resumed batch
        # is acked (skipped), the rest flows normally
        rs2 = ReliableSink(spark, root, cp, sink)
        assert rs2.resume() == 0  # nothing pending anymore
        q2 = (
            entries_stream(spark, events_dir)
            .writeStream.foreachBatch(rs2)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(180)
        want = sorted(
            r["seq"] for r in entries_stream_batch(spark, events_dir).collect()
        )
        assert sorted(delivered) == want  # every message, exactly once

    def test_replayed_acked_batch_of_stateful_subscription_restarts(
        self, spark, events_dir, tmp_path
    ):
        """A RELIABLE subscription deduplicates with state. If the
        subscriber dies after its ack but before Spark commits the
        batch, Spark replays that batch on restart; the sink must skip
        it without failing the state store's commit check, and without
        handing it to the subscriber again."""
        import os

        from unitdb_spark.streaming.pubsub import ReliableSink

        cp = str(tmp_path / "cp")
        calls: list[int] = []
        sink = lambda df, batch_id: calls.append(batch_id)  # noqa: E731

        def run():
            rs = ReliableSink(spark, str(tmp_path / "sub"), cp, sink)
            q = (
                subscribe(entries_stream(spark, events_dir), "events...", DeliveryMode.RELIABLE)
                .writeStream.foreachBatch(rs)
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            assert q.exception() is None, q.exception()

        run()
        assert calls
        last = max(int(n) for n in os.listdir(f"{cp}/commits") if n.isdigit())
        for name in (str(last), f".{last}.crc"):
            if os.path.exists(f"{cp}/commits/{name}"):
                os.remove(f"{cp}/commits/{name}")
        before = list(calls)
        run()
        assert calls == before  # the replayed batch reached no subscriber

    def test_empty_inflight_torn_write_is_dropped_not_delivered(
        self, spark, tmp_path
    ):
        """A torn in-flight dir (no _SUCCESS) is debris from a crash
        BEFORE the durable-notify point: resume must drop it (the
        Spark checkpoint will replay that batch), never half-deliver."""
        from unitdb_spark import fs
        from unitdb_spark.streaming.pubsub import ReliableSink

        root = str(tmp_path / "sub2")
        torn = f"{root}/inflight/gen-x/3"
        fs.mkdirs(spark, torn)
        fs.write_text(spark, f"{torn}/part-torn.parquet", "half a file")
        calls = []
        rs = ReliableSink(spark, root, str(tmp_path / "cp2"), lambda df, b: calls.append(b))
        assert rs.resume() == 0
        assert not calls and not fs.exists(spark, torn)


class TestStreamingZscore:
    def test_streamed_flags_match_batch_operator(self, spark, events_dir):
        """In-order replay: the streaming detector's flags equal the
        batch trailing_zscore flags row for row (same algebra, exact
        sums on both sides)."""
        from unitdb_spark.operators.timeseries import trailing_zscore
        from unitdb_spark.streaming.state import streaming_zscore

        stream = events_as_stream(spark, events_dir, max_files_per_trigger=100)
        out = streaming_zscore(stream, key_col="event_type", n=20, z=3.0)
        q = (
            out.writeStream.format("memory")
            .queryName("zscore_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            r["event_id"]: (r["trail_n"], r["is_anomaly"])
            for r in spark.sql("SELECT * FROM zscore_stream").collect()
        }
        ev = spark.read.parquet(events_dir)
        if dict(ev.dtypes).get("ts") == "timestamp_ntz":
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        batch = trailing_zscore(ev, ["event_type"], ["ts", "event_id"], "value",
                                n=20, z=3.0)
        want = {
            r["event_id"]: (r["trail_n"], r["is_anomaly"])
            for r in batch.collect()
        }
        assert len(got) == len(want) > 0
        mismatches = {k for k in want if got[k] != want[k]}
        assert not mismatches, f"{len(mismatches)} rows diverge: {sorted(mismatches)[:5]}"
        assert any(f for _, f in got.values())  # detector actually fires

    def test_null_rows_keep_frame_slots_and_emit(self, spark, tmp_path):
        """ROWS-frame parity WITH missing values: a NULL-value row is
        emitted (value NULL, is_anomaly NULL once ≥2 trailing
        observations exist) and occupies a trailing slot, exactly like
        the batch operator's rowsBetween(-n,-1) frame."""
        import datetime as dt

        from unitdb_spark.operators.timeseries import trailing_zscore
        from unitdb_spark.streaming.state import streaming_zscore

        base = dt.datetime(2024, 1, 1)
        vals = [1.0, 2.0, None, 3.0, None, 100.0, 2.5, 2.0, None, 2.2,
                2.1, 1.9, 50.0, None, 2.0]
        rows = [
            (i, base + dt.timedelta(minutes=i), "k", v)
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        src = str(tmp_path / "null_events")
        df.coalesce(1).write.parquet(src)  # one file = one in-order batch
        out = streaming_zscore(
            events_as_stream(spark, src, max_files_per_trigger=1),
            key_col="event_type", n=4, z=2.0,
        )
        q = (
            out.writeStream.format("memory")
            .queryName("zscore_nulls")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["event_id"]: (r["value"], r["trail_n"], r["is_anomaly"])
            for r in spark.sql("SELECT * FROM zscore_nulls").collect()
        }
        batch = trailing_zscore(
            spark.read.parquet(src), ["event_type"], ["ts", "event_id"],
            "value", n=4, z=2.0,
        )
        want = {
            r["event_id"]: (r["value"], r["trail_n"], r["is_anomaly"])
            for r in batch.collect()
        }
        assert got == want  # every row emitted, NULLs included
        # the NULL rows really carry NULL value + NULL flag (not dropped)
        assert got[2][0] is None and got[8][2] is None


class TestStreamingGapFill:
    def test_matches_batch_gap_fill_row_for_row(self, spark, events_dir):
        """Streamed grid rows == batch gap_fill minus each key's final
        (still-open) bucket — same avg arithmetic, same LOCF carry,
        same all-NULL-bucket gap semantics."""
        from unitdb_spark.operators.timeseries import gap_fill
        from unitdb_spark.streaming.state import streaming_gap_fill

        # one trigger = an in-order replay (the parity domain; files are
        # not globally time-ordered, so multi-trigger replay would fold
        # early late-arriving buckets into open ones by design)
        stream = events_as_stream(spark, events_dir, max_files_per_trigger=100)
        out = streaming_gap_fill(stream, key_col="event_type", step_minutes=60)
        q = (
            out.writeStream.format("memory")
            .queryName("gapfill_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["key"], r["bucket_s"]): (r["avg_value"], r["filled_value"], r["is_gap"])
            for r in spark.sql("SELECT * FROM gapfill_stream").collect()
        }
        ev = spark.read.parquet(events_dir)
        if dict(ev.dtypes).get("ts") == "timestamp_ntz":
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        batch = gap_fill(ev, ["event_type"], "ts", "value", step_minutes=60)
        rows = batch.select(
            "event_type",
            F.unix_timestamp("bucket_ts").alias("bucket_s"),
            "avg_value",
            "filled_value",
            "is_gap",
        ).collect()
        last_bucket = {}
        for r in rows:
            k = r["event_type"]
            last_bucket[k] = max(last_bucket.get(k, 0), r["bucket_s"])
        want = {
            (r["event_type"], r["bucket_s"]): (r["avg_value"], r["filled_value"], r["is_gap"])
            for r in rows
            if r["bucket_s"] != last_bucket[r["event_type"]]
        }
        assert len(got) == len(want) > 0
        mismatch = [k for k in want if got.get(k) != want[k]]
        assert not mismatch, f"{len(mismatch)} grid rows diverge: {mismatch[:5]}"
        assert any(g for _, _, g in got.values())  # gaps actually synthesized

    def test_all_null_bucket_stays_gap_and_carry_survives(self, spark, tmp_path):
        """A bucket whose observed rows are all NULL emits as a gap row
        (avg NULL) with the fill carried across it — F.last(ignorenulls)
        semantics, matching batch."""
        import datetime as dt

        from unitdb_spark.streaming.state import streaming_gap_fill

        base = dt.datetime(2024, 1, 1)
        rows = [
            (0, base, "k", 10.0),
            (1, base + dt.timedelta(hours=1), "k", None),   # observed, NULL
            (2, base + dt.timedelta(hours=4), "k", 30.0),   # 2 gap hours before
            (3, base + dt.timedelta(hours=5), "k", 40.0),   # closes bucket 4
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        src = str(tmp_path / "gapfill_nulls")
        df.coalesce(1).write.parquet(src)
        out = streaming_gap_fill(
            events_as_stream(spark, src, max_files_per_trigger=1),
            key_col="event_type",
            step_minutes=60,
        )
        q = (
            out.writeStream.format("memory")
            .queryName("gapfill_nulls")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["bucket_s"]: (r["avg_value"], r["filled_value"], r["is_gap"])
            for r in spark.sql("SELECT * FROM gapfill_nulls").collect()
        }
        t0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
        h = 3600
        assert got[t0] == (10.0, 10.0, False)
        assert got[t0 + h] == (None, 10.0, True)      # all-NULL observed bucket
        assert got[t0 + 2 * h] == (None, 10.0, True)  # synthesized gap
        assert got[t0 + 3 * h] == (None, 10.0, True)  # synthesized gap
        assert got[t0 + 4 * h] == (30.0, 30.0, False)
        assert t0 + 5 * h not in got                  # final bucket still open


class TestStreamingKmv:
    def test_final_state_equals_batch_sketch_bitwise(self, spark, events_dir):
        """Bottom-k of a set is order-free: after a 4-file/2-per-trigger
        replay, the reconstructed final state (max n_batches per key)
        equals the batch kmv_distinct output bitwise, including the
        IEEE estimate."""
        from pyspark.sql.window import Window

        from unitdb_spark.operators.sketch import kmv_distinct, kmv_estimate
        from unitdb_spark.streaming.state import streaming_kmv

        out = streaming_kmv(
            events_as_stream(spark, events_dir, max_files_per_trigger=1),
            key_col="event_type", value_col="user_id", k=16,
        )
        q = (
            out.writeStream.format("memory")
            .queryName("kmv_stream")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        upd = spark.table("kmv_stream")
        w = Window.partitionBy("key").orderBy(F.desc("n_batches"))
        final = (
            upd.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "key", "n_kept", "kth_hash",
                F.round(kmv_estimate("n_kept", "kth_hash", 16), 6).alias("kmv_est"),
            )
        )
        got = {r["key"]: (r["n_kept"], r["kth_hash"], r["kmv_est"])
               for r in final.collect()}
        ev = spark.read.parquet(events_dir)
        want = {r["event_type"]: (r["n_kept"], r["kth_hash"], r["kmv_est"])
                for r in kmv_distinct(ev, ["event_type"], "user_id", k=16).collect()}
        assert got == want and len(got) > 0
        # a 4-batch single-file replay actually exercised multiple batches
        assert upd.agg(F.max("n_batches")).first()[0] >= 2
        # state boundedness: never more than k hashes kept
        assert upd.agg(F.max("n_kept")).first()[0] <= 16


class TestStreamingCusum:
    def test_streamed_stats_match_batch_fixed_target(self, spark, events_dir):
        """In-order replay with a fixed target: every streaming CUSUM
        statistic equals the batch closed form bit for bit (integer
        micro-units == DECIMAL(18,6) algebra)."""
        from unitdb_spark.operators.timeseries import cusum
        from unitdb_spark.streaming.state import streaming_cusum

        stream = events_as_stream(spark, events_dir, max_files_per_trigger=100)
        out = streaming_cusum(stream, key_col="event_type", target=12.0, h=500.0)
        q = (
            out.writeStream.format("memory")
            .queryName("cusum_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            r["event_id"]: (r["s_r"], r["cusum_pos_r"], r["cusum_neg_r"], r["alarm"])
            for r in spark.sql("SELECT * FROM cusum_stream").collect()
        }
        ev = spark.read.parquet(events_dir)
        if dict(ev.dtypes).get("ts") == "timestamp_ntz":
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        batch = cusum(ev, ["event_type"], ["ts", "event_id"], "value",
                      h=500.0, target=12.0)
        want = {
            r["event_id"]: (r["s_r"], r["cusum_pos_r"], r["cusum_neg_r"], r["alarm"])
            for r in batch.collect()
        }
        assert len(got) == len(want) > 0
        mismatches = {k for k in want if got[k] != want[k]}
        assert not mismatches, f"{len(mismatches)} rows diverge: {sorted(mismatches)[:5]}"
        assert any(r[3] for r in got.values())  # the chart actually alarms

    def test_state_survives_restart(self, spark, tmp_path):
        """The four-integer state carries across checkpointed runs: a
        second run continues the prefix sum, not a fresh chart."""
        import datetime as dt

        from unitdb_spark.streaming.state import streaming_cusum

        base = dt.datetime(2024, 1, 1)
        src = str(tmp_path / "src")
        cp = str(tmp_path / "cp")
        out_dir = str(tmp_path / "out")
        schema = "event_id long, ts timestamp, event_type string, value double"

        def run(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            out = streaming_cusum(
                spark.readStream.schema(
                    spark.read.parquet(src).schema
                ).parquet(src),
                key_col="event_type", target=10.0, h=5.0,
            )
            q = (
                out.writeStream.foreachBatch(
                    lambda df, bid: df.write.mode("append").parquet(out_dir)
                    if not df.isEmpty()
                    else None
                )
                .outputMode("append")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run([(i, base + dt.timedelta(minutes=i), "k", 12.0) for i in range(3)])
        run([(i + 3, base + dt.timedelta(minutes=i + 3), "k", 12.0)
             for i in range(3)])
        rows = {
            r["event_id"]: r["s_r"]
            for r in spark.read.parquet(out_dir).collect()
        }
        # dev = +2 each event; prefix sum continues 2,4,6,8,10,12
        assert rows == {i: 2.0 * (i + 1) for i in range(6)}


class TestStreamingCusumNaN:
    def test_nan_rows_emitted_with_unchanged_stats(self, spark):
        """NaN parity: the batch twin keeps NaN rows (NULL deviation,
        stats unchanged) — the streaming chart must emit them too."""
        import datetime as dt
        import math

        from unitdb_spark.streaming.state import streaming_cusum

        base = dt.datetime(2024, 1, 1)
        rows = [
            (0, base, "k", 12.0),
            (1, base + dt.timedelta(minutes=1), "k", float("nan")),
            (2, base + dt.timedelta(minutes=2), "k", 12.0),
        ]
        src = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        import tempfile

        d = tempfile.mkdtemp()
        src.write.parquet(f"{d}/src")
        out = streaming_cusum(
            spark.readStream.schema(src.schema).parquet(f"{d}/src"),
            key_col="event_type", target=10.0, h=100.0,
        )
        q = (
            out.writeStream.format("memory")
            .queryName("cusum_nan")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["event_id"]: r
            for r in spark.sql("SELECT * FROM cusum_nan").collect()
        }
        assert set(got) == {0, 1, 2}
        # the Arrow hop renders the NaN as SQL NULL (pandas cannot
        # distinguish them); the row itself and its statistics are
        # what parity is about
        assert got[1]["value"] is None
        # NaN row carries the stats as of event 0 (dev +2)
        assert got[1]["s_r"] == got[0]["s_r"] == 2.0
        assert got[2]["s_r"] == 4.0


class TestStreamingCusumNullVsNan:
    def _run(self, spark, rows, tmp_path, name):
        import tempfile

        from unitdb_spark.streaming.state import streaming_cusum

        src = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        d = tempfile.mkdtemp(dir=str(tmp_path))
        src.write.parquet(f"{d}/src")
        out = streaming_cusum(
            spark.readStream.schema(src.schema).parquet(f"{d}/src"),
            key_col="event_type", target=10.0, h=100.0,
        )
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["event_id"]: r for r in spark.sql(f"SELECT * FROM {name}").collect()}

    def test_null_rows_dropped_like_batch(self, spark, tmp_path):
        """SQL NULL is DROPPED (batch isNotNull parity) while NaN is
        kept — the Arrow hop must not conflate them."""
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        rows = [
            (0, base, "k", 12.0),
            (1, base + dt.timedelta(minutes=1), "k", None),
            (2, base + dt.timedelta(minutes=2), "k", 12.0),
        ]
        got = self._run(spark, rows, tmp_path, "cusum_nullrow")
        assert set(got) == {0, 2}  # the NULL row is gone
        assert got[2]["s_r"] == 4.0  # stats unaffected by the gap

    def test_all_nan_prefix_emits_null_stats(self, spark, tmp_path):
        """A key whose first rows are all NaN matches the batch twin:
        NULL statistics (SUM over an all-NULL window), not zeros."""
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        rows = [
            (0, base, "k", float("nan")),
            (1, base + dt.timedelta(minutes=1), "k", 12.0),
            (2, base + dt.timedelta(minutes=2), "k", float("nan")),
        ]
        got = self._run(spark, rows, tmp_path, "cusum_nanprefix")
        assert set(got) == {0, 1, 2}
        assert got[0]["s_r"] is None and got[0]["alarm"] is None
        assert got[1]["s_r"] == 2.0
        assert got[2]["s_r"] == 2.0 and got[2]["alarm"] is False


class TestContinuousJsonStats:
    def test_rolling_json_state_matches_batch(self, spark, events_dir, tmp_path):
        """The JSON field profile's streaming twin: algebraic partials
        folded across micro-batches (and a restart boundary) equal the
        one-shot aggregation, and the derived report — shared finish
        with the batch operator — equals batch json_field_stats minus
        the non-mergeable n_distinct column."""
        from unitdb_spark.operators.olap import json_field_stats
        from unitdb_spark.streaming.continuous import (
            continuous_json_stats,
            read_json_stats,
        )

        state = str(tmp_path / "js-state")
        cp = str(tmp_path / "js-cp")
        ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q = continuous_json_stats(ev, "props", "k", "event_type", state, cp)
        q.awaitTermination(180)
        # restart with no new data: commit log -> no double count
        ev2 = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q2 = continuous_json_stats(ev2, "props", "k", "event_type", state, cp)
        q2.awaitTermination(180)

        batch = spark.read.parquet(events_dir)
        want = {
            r["group"]: {k: r[k] for k in
                         ("n", "n_missing", "min_v", "max_v", "sum_v",
                          "mean_ppm")}
            for r in json_field_stats(batch, "props", "k", "event_type").collect()
        }
        got = {
            r["group"]: {k: r[k] for k in
                         ("n", "n_missing", "min_v", "max_v", "sum_v",
                          "mean_ppm")}
            for r in read_json_stats(spark, state).collect()
        }
        assert got == want


class TestContinuousM4:
    def test_rolling_m4_matches_batch(self, spark, events_dir, tmp_path):
        """The M4 twin: struct-extrema first/last plus n/min/max all
        merge algebraically, so the committed state across micro-
        batches (and a restart boundary) equals the one-shot batch
        downsample row for row."""
        from unitdb_spark.operators.timeseries import m4_downsample
        from unitdb_spark.streaming.continuous import continuous_m4, read_m4

        state = str(tmp_path / "m4-state")
        cp = str(tmp_path / "m4-cp")
        args = dict(
            key_col="event_type", ts_col="ts", value_col="value",
            order_cols=["event_id"], bucket_s=3600,
        )
        ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q = continuous_m4(
            ev, state_path=state, checkpoint=cp, **args
        )
        q.awaitTermination(180)
        ev2 = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q2 = continuous_m4(
            ev2, state_path=state, checkpoint=cp, **args
        )
        q2.awaitTermination(180)

        batch = spark.read.parquet(events_dir)
        want = {
            (r["key"], r["bucket_start_s"]): tuple(
                r[c] for c in ("n", "min_v", "max_v", "first_v", "last_v")
            )
            for r in m4_downsample(
                batch, "event_type", "ts", "value", ["event_id"], 3600
            ).collect()
        }
        got = {
            (r["key"], r["bucket_start_s"]): tuple(
                r[c] for c in ("n", "min_v", "max_v", "first_v", "last_v")
            )
            for r in read_m4(spark, state, bucket_s=3600).collect()
        }
        assert got == want


class TestContinuousBenford:
    def test_rolling_benford_matches_batch(self, spark, events_dir, tmp_path):
        """Digit counts are plain sums: the committed state across
        micro-batches (and a restart) equals the one-shot audit."""
        from unitdb_spark.operators.profile import benford_report
        from unitdb_spark.streaming.continuous import (
            continuous_benford,
            read_benford,
        )

        state = str(tmp_path / "bf-state")
        cp = str(tmp_path / "bf-cp")
        ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q = continuous_benford(ev, "value", state, cp)
        q.awaitTermination(180)
        ev2 = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q2 = continuous_benford(ev2, "value", state, cp)
        q2.awaitTermination(180)

        batch = spark.read.parquet(events_dir)
        want = {r["digit"]: r.asDict()
                for r in benford_report(batch, "value").collect()}
        got = {r["digit"]: r.asDict()
               for r in read_benford(spark, state).collect()}
        assert got == want


class TestContinuousAbc:
    def test_rolling_abc_matches_batch(self, spark, events_dir, tmp_path):
        """Per-key cents merge by sum; rank/banding at read time via
        the shared finish: the committed classification across
        micro-batches (and a restart) equals the one-shot batch."""
        from pyspark.sql import functions as F

        from unitdb_spark.operators.olap import abc_classification
        from unitdb_spark.streaming.continuous import continuous_abc, read_abc

        state = str(tmp_path / "abc-state")
        cp = str(tmp_path / "abc-cp")
        ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q = continuous_abc(ev, "user_id", "value", state, cp)
        q.awaitTermination(180)
        ev2 = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q2 = continuous_abc(ev2, "user_id", "value", state, cp)
        q2.awaitTermination(180)

        batch = spark.read.parquet(events_dir)
        want = {r["key"]: r.asDict() for r in abc_classification(
            batch, "user_id", "value"
        ).collect()}
        got = {r["key"]: r.asDict()
               for r in read_abc(spark, state).collect()}
        assert got == want


class TestStreamingMarkov:
    def test_partials_sum_to_batch_counts_across_restart(self, spark, tmp_path):
        """Two checkpointed runs over one key: the one-string state
        stitches the cross-run boundary transition, and summed
        partials equal the batch lag pairing exactly."""
        import datetime as dt

        from unitdb_spark.streaming.state import streaming_markov

        base = dt.datetime(2024, 1, 1)
        src = str(tmp_path / "src")
        cp = str(tmp_path / "cp")
        out_dir = str(tmp_path / "out")
        schema = "event_id long, ts timestamp, user_id long, event_type string"

        def run(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            out = streaming_markov(
                spark.readStream.schema(
                    spark.read.parquet(src).schema
                ).parquet(src)
            )
            q = (
                out.writeStream.foreachBatch(
                    lambda df, bid: df.write.mode("append").parquet(out_dir)
                    if not df.isEmpty()
                    else None
                )
                .outputMode("append")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        seq1, seq2 = ["a", "b", "a"], ["b", "b", "a"]
        run([
            (i, base + dt.timedelta(minutes=i), 7, s)
            for i, s in enumerate(seq1)
        ])
        run([
            (i + 3, base + dt.timedelta(minutes=i + 3), 7, s)
            for i, s in enumerate(seq2)
        ])
        got = {}
        for r in spark.read.parquet(out_dir).collect():
            assert r["key"] == 7
            got[(r["src"], r["dst"])] = got.get((r["src"], r["dst"]), 0) + r["n"]
        # full sequence a b a | b b a -> ab, ba, ab(BOUNDARY), bb, ba
        assert got == {("a", "b"): 2, ("b", "a"): 2, ("b", "b"): 1}

    def test_matches_batch_transition_counts(self, spark, tmp_path):
        """IN-ORDER replay of the real events table (three sequential
        checkpointed runs over time slices — the order-sensitive-twin
        pattern of streamed_sessions): summed streamed partials ==
        batch transition_counts row for row."""
        from pyspark.sql import functions as F

        from unitdb_spark.operators.markov import transition_counts
        from unitdb_spark.sources.events import load_events
        from unitdb_spark.streaming.state import streaming_markov

        src = str(tmp_path / "src")
        out_dir = str(tmp_path / "out")
        cp = str(tmp_path / "cp")
        ev = load_events(spark, SF).select(
            "event_id", "ts", "user_id", "event_type"
        )
        lo, hi = ev.agg(
            F.unix_timestamp(F.min("ts")), F.unix_timestamp(F.max("ts"))
        ).collect()[0]
        cut1 = F.timestamp_seconds(F.lit(int(lo) + (int(hi) - int(lo)) // 3))
        cut2 = F.timestamp_seconds(
            F.lit(int(lo) + 2 * (int(hi) - int(lo)) // 3)
        )

        def run(batch_df):
            batch_df.coalesce(1).write.mode("append").parquet(src)
            q = (
                streaming_markov(
                    spark.readStream.schema(batch_df.schema).option(
                        "maxFilesPerTrigger", 1
                    ).parquet(src)
                )
                .writeStream.foreachBatch(
                    lambda df, bid: df.write.mode("append").parquet(out_dir)
                    if not df.isEmpty()
                    else None
                )
                .outputMode("append")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        run(ev.filter(F.col("ts") < cut1))
        run(ev.filter((F.col("ts") >= cut1) & (F.col("ts") < cut2)))
        run(ev.filter(F.col("ts") >= cut2))

        streamed = {
            (r["src"], r["dst"]): r["n"]
            for r in spark.read.parquet(out_dir)
            .groupBy("src", "dst")
            .agg(F.sum("n").alias("n"))
            .collect()
        }
        ev = spark.read.parquet(f"{SF}/events.parquet")
        want = {
            (r["src"], r["dst"]): r["n"]
            for r in transition_counts(
                spark.read.parquet(f"{SF}/events.parquet"),
                "user_id", "event_type", "ts", "event_id",
            ).collect()
        }
        assert streamed == want


class TestContinuousGram:
    def test_rolling_gram_matches_batch_bitwise_across_restart(
        self, spark, tmp_path
    ):
        """Two checkpointed runs (first half of the corpus, then the
        rest): the merged Gram state finished through the shared
        batch path must equal batch PCA over the full table bit for
        bit — integer partials merge by summation, split-independent."""
        from pyspark.sql import functions as F

        from unitdb_spark.operators.pca import power_iteration, second_moment
        from unitdb_spark.streaming.continuous import (
            continuous_gram,
            read_pca_dir,
        )

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        src = str(tmp_path / "src")
        cp = str(tmp_path / "cp")
        state = str(tmp_path / "state")
        mid = emb.agg(F.expr("percentile_approx(vec_id, 0.5)")).collect()[0][0]

        def run(part_df):
            part_df.coalesce(1).write.mode("append").parquet(src)
            q = continuous_gram(
                spark.readStream.schema(part_df.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                state,
                cp,
            )
            q.awaitTermination(120)

        run(emb.filter(F.col("vec_id") <= mid))
        run(emb.filter(F.col("vec_id") > mid))
        got = {r.i: r.v for r in read_pca_dir(spark, state).collect()}
        md, _, _ = second_moment(emb)
        want = {r.i: r.v for r in power_iteration(md).collect()}
        assert got == want


class TestStreamingMarkov2:
    def test_two_string_state_stitches_across_restart(self, spark, tmp_path):
        """Runs split so one key has a single event in run 1 (state =
        (None, s)) and the triple completes only in run 2 — both
        boundary contexts must land exactly as the batch double-lag."""
        import datetime as dt

        from unitdb_spark.streaming.state import streaming_markov2

        base = dt.datetime(2024, 1, 1)
        src = str(tmp_path / "src")
        cp = str(tmp_path / "cp")
        out_dir = str(tmp_path / "out")
        schema = "event_id long, ts timestamp, user_id long, event_type string"

        def run(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = (
                streaming_markov2(
                    spark.readStream.schema(
                        spark.read.parquet(src).schema
                    ).parquet(src)
                )
                .writeStream.foreachBatch(
                    lambda df, bid: df.write.mode("append").parquet(out_dir)
                    if not df.isEmpty()
                    else None
                )
                .outputMode("append")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        # key 7: a b | a b a  -> triples (a,b,a), (b,a,b), (a,b,a)
        # key 9: a   | b a    -> triples (a,b,a)
        run([(0, base, 7, "a"),
             (1, base + dt.timedelta(minutes=1), 7, "b"),
             (2, base + dt.timedelta(minutes=2), 9, "a")])
        run([(3, base + dt.timedelta(minutes=3), 7, "a"),
             (4, base + dt.timedelta(minutes=4), 7, "b"),
             (5, base + dt.timedelta(minutes=5), 7, "a"),
             (6, base + dt.timedelta(minutes=6), 9, "b"),
             (7, base + dt.timedelta(minutes=7), 9, "a")])
        got: dict = {}
        for r in spark.read.parquet(out_dir).collect():
            k = (r["key"], r["src2"], r["src1"], r["dst"])
            got[k] = got.get(k, 0) + r["n"]
        assert got == {
            (7, "a", "b", "a"): 2,
            (7, "b", "a", "b"): 1,
            (9, "a", "b", "a"): 1,
        }

    def test_matches_batch_counts2(self, spark, tmp_path):
        """Three in-order checkpointed runs over the real events
        table: summed partials == batch transition_counts2."""
        from pyspark.sql import functions as F

        from unitdb_spark.operators.markov import transition_counts2
        from unitdb_spark.sources.events import load_events
        from unitdb_spark.streaming.state import streaming_markov2

        src = str(tmp_path / "src")
        out_dir = str(tmp_path / "out")
        cp = str(tmp_path / "cp")
        ev = load_events(spark, SF).select(
            "event_id", "ts", "user_id", "event_type"
        )
        lo, hi = ev.agg(
            F.unix_timestamp(F.min("ts")), F.unix_timestamp(F.max("ts"))
        ).collect()[0]
        cut1 = F.timestamp_seconds(F.lit(int(lo) + (int(hi) - int(lo)) // 3))
        cut2 = F.timestamp_seconds(
            F.lit(int(lo) + 2 * (int(hi) - int(lo)) // 3)
        )

        def run(batch_df):
            batch_df.coalesce(1).write.mode("append").parquet(src)
            q = (
                streaming_markov2(
                    spark.readStream.schema(batch_df.schema).option(
                        "maxFilesPerTrigger", 1
                    ).parquet(src)
                )
                .writeStream.foreachBatch(
                    lambda df, bid: df.write.mode("append").parquet(out_dir)
                    if not df.isEmpty()
                    else None
                )
                .outputMode("append")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        run(ev.filter(F.col("ts") < cut1))
        run(ev.filter((F.col("ts") >= cut1) & (F.col("ts") < cut2)))
        run(ev.filter(F.col("ts") >= cut2))
        streamed = {
            (r["src2"], r["src1"], r["dst"]): r["n"]
            for r in spark.read.parquet(out_dir)
            .groupBy("src2", "src1", "dst")
            .agg(F.sum("n").alias("n"))
            .collect()
        }
        want = {
            (r["src2"], r["src1"], r["dst"]): r["n"]
            for r in transition_counts2(
                spark.read.parquet(f"{SF}/events.parquet"),
                "user_id", "event_type", "ts", "event_id",
            ).collect()
        }
        assert streamed == want


class TestContinuousSkyline:
    def test_frontier_folds_across_restart(self, spark, tmp_path):
        """A point on the run-1 frontier is dominated by a run-2
        arrival and must leave the committed state; the final
        frontier equals the batch skyline over all rows."""
        from unitdb_spark.operators.skyline import skyline2d
        from unitdb_spark.streaming.continuous import (
            continuous_skyline,
            read_skyline,
        )

        src = str(tmp_path / "src")
        cp = str(tmp_path / "cp")
        state = str(tmp_path / "state")
        schema = "id long, a long, b int"
        r1 = [(1, 100, 5), (2, 200, 7), (3, 50, 1)]
        r2 = [(4, 90, 6), (5, 400, 7), (6, 60, 2)]  # 4 dominates 1

        def run(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = continuous_skyline(
                spark.readStream.schema("id long, a long, b int")
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                "a", "b", state, cp,
            )
            q.awaitTermination(120)

        run(r1)
        run(r2)
        got = {r.id for r in read_skyline(spark, state).collect()}
        want = {
            r.id
            for r in skyline2d(
                spark.createDataFrame(r1 + r2, schema), "a", "b"
            ).collect()
        }
        assert got == want
        assert 1 not in got and 4 in got


class TestContinuousBootstrap:
    def test_rolling_bootstrap_matches_batch_across_restart(
        self, spark, events_dir, tmp_path
    ):
        """The Poisson bootstrap's streaming twin: per-(group,
        replicate) weighted partial sums folded across micro-batches
        (and a stop/restart boundary) equal the one-shot batch
        partials — weights are pure functions of (id, replicate) —
        and the derived CI report, shared finish with the batch
        operator, equals poisson_bootstrap_ci row for row."""
        from unitdb_spark.operators.bootstrap import poisson_bootstrap_ci
        from unitdb_spark.streaming.continuous import (
            continuous_bootstrap,
            read_bootstrap_ci,
        )
        from unitdb_spark.streaming.pubsub import events_as_stream

        state = str(tmp_path / "pb-state")
        cp = str(tmp_path / "pb-cp")
        ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q = continuous_bootstrap(
            ev, "event_type", "event_id", "value", state, cp, b=12
        )
        q.awaitTermination(180)
        # restart with no new data: commit log -> no double count
        ev2 = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q2 = continuous_bootstrap(
            ev2, "event_type", "event_id", "value", state, cp, b=12
        )
        q2.awaitTermination(180)

        batch = spark.read.parquet(events_dir).filter(
            F.col("value").isNotNull() & ~F.isnan("value")
        ).select(
            "event_type", "event_id",
            F.expr(
                "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
            ).alias("cents"),
        )
        want = {
            r["event_type"]: (r.n, r.b_eff, r.mean_e6, r.lo_e6, r.hi_e6)
            for r in poisson_bootstrap_ci(
                batch, "event_type", "event_id", "cents", b=12
            ).collect()
        }
        got = {
            r["event_type"]: (r.n, r.b_eff, r.mean_e6, r.lo_e6, r.hi_e6)
            for r in read_bootstrap_ci(spark, state).collect()
        }
        assert got == want


class TestContinuousSurvival:
    def test_rolling_km_matches_batch_across_restart(
        self, spark, events_dir, tmp_path
    ):
        """The KM twin: min/max survival state folded across
        micro-batches (and a restart boundary) rebuilds the batch
        durations exactly — including the strictly-after-origin and
        same-day edge contracts — and the derived curve equals the
        one-shot kaplan_meier(time_to_event(...)) row for row."""
        from unitdb_spark.operators.survival import (
            kaplan_meier,
            time_to_event,
        )
        from unitdb_spark.streaming.continuous import (
            continuous_survival,
            read_survival,
        )
        from unitdb_spark.streaming.pubsub import events_as_stream

        state = str(tmp_path / "surv-state")
        cp = str(tmp_path / "surv-cp")
        args = (
            "user_id", "ts",
            F.col("event_type") == "signup",
            F.col("event_type") == "purchase",
            state, cp,
        )
        ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q = continuous_survival(ev, *args)
        q.awaitTermination(180)
        ev2 = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q2 = continuous_survival(ev2, *args)
        q2.awaitTermination(180)

        batch = spark.read.parquet(events_dir).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        want = kaplan_meier(
            time_to_event(
                batch, "user_id", "ts",
                origin_filter=F.col("event_type") == "signup",
                event_filter=F.col("event_type") == "purchase",
            ),
            "duration_days", "event",
        ).collect()
        got = read_survival(spark, state).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


class TestContinuousPeaks:
    def test_rolling_peaks_match_batch_across_restart(
        self, spark, events_dir, tmp_path
    ):
        """The spike-triage twin: hourly count cells folded across
        micro-batches (and a restart boundary) feed the shared
        peaks_from_cells finish, and the result equals the batch
        detect_peaks over the same value-non-null row contract."""
        from unitdb_spark.operators.timeseries import detect_peaks
        from unitdb_spark.streaming.continuous import (
            continuous_hourly_cells,
            read_peaks,
        )
        from unitdb_spark.streaming.pubsub import events_as_stream

        state = str(tmp_path / "cell-state")
        cp = str(tmp_path / "cell-cp")
        args = ("event_type", "ts", "value", state, cp)
        ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q = continuous_hourly_cells(ev, *args)
        q.awaitTermination(180)
        ev2 = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q2 = continuous_hourly_cells(ev2, *args)
        q2.awaitTermination(180)

        batch = (
            spark.read.parquet(events_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("value").isNotNull())
        )
        want = detect_peaks(batch, "event_type", "ts").collect()
        got = read_peaks(spark, state).collect()
        assert len(want) > 0
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


class TestContinuousEwma:
    def test_rolling_ewma_matches_batch_across_restart(
        self, spark, events_dir, tmp_path
    ):
        """The EWMA-chart twin: hourly count cells folded across
        micro-batches (and a restart boundary) feed the shared
        ewma_from_cells fold, and the flagged rows equal the batch
        ewma_control over the same value-non-null row contract."""
        from unitdb_spark.operators.timeseries import ewma_control
        from unitdb_spark.streaming.continuous import (
            continuous_hourly_cells,
            read_ewma,
        )
        from unitdb_spark.streaming.pubsub import events_as_stream

        state = str(tmp_path / "cell-state")
        cp = str(tmp_path / "cell-cp")
        args = ("event_type", "ts", "value", state, cp)
        ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q = continuous_hourly_cells(ev, *args)
        q.awaitTermination(180)
        ev2 = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q2 = continuous_hourly_cells(ev2, *args)
        q2.awaitTermination(180)

        batch = (
            spark.read.parquet(events_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("value").isNotNull())
        )
        want = ewma_control(batch, "event_type").collect()
        got = read_ewma(spark, state).collect()
        assert len(want) > 0
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


class TestContinuousLjungBox:
    def test_rolling_ljungbox_matches_batch(self, spark, events_dir, tmp_path):
        """The Ljung-Box twin: hourly count cells folded across
        micro-batches feed the shared ljungbox_from_cells finish, and
        the per-key Q rows equal the batch ljung_box over the same
        value-non-null row contract."""
        from unitdb_spark.operators.stats_tests import ljung_box
        from unitdb_spark.streaming.continuous import (
            continuous_hourly_cells,
            read_ljungbox,
        )
        from unitdb_spark.streaming.pubsub import events_as_stream

        state = str(tmp_path / "cell-state")
        cp = str(tmp_path / "cell-cp")
        ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q = continuous_hourly_cells(ev, "event_type", "ts", "value", state, cp)
        q.awaitTermination(180)

        batch = (
            spark.read.parquet(events_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("value").isNotNull())
        )
        want = ljung_box(batch, "event_type").collect()
        got = read_ljungbox(spark, state).collect()
        assert len(want) > 0
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


class TestContinuousDashboards:
    def test_fano_conformal_haar_runs_match_batch(
        self, spark, events_dir, tmp_path
    ):
        """Four dashboards, ONE folded cell state: the Fano verdict,
        conformal radius, Haar spectrum, and runs verdict read off the
        same committed hourly cells and each equals its batch operator
        over the value-non-null row contract."""
        from unitdb_spark.operators.stats_tests import runs_test
        from unitdb_spark.operators.timeseries import (
            conformal_backtest,
            fano_factor,
            haar_energy,
        )
        from unitdb_spark.streaming.continuous import (
            continuous_hourly_cells,
            read_conformal,
            read_fano,
            read_haar,
            read_runs,
        )
        from unitdb_spark.streaming.pubsub import events_as_stream

        state = str(tmp_path / "cell-state")
        cp = str(tmp_path / "cell-cp")
        ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q = continuous_hourly_cells(ev, "event_type", "ts", "value", state, cp)
        q.awaitTermination(180)

        batch = (
            spark.read.parquet(events_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("value").isNotNull())
        )
        pairs = [
            (read_fano(spark, state), fano_factor(batch, "event_type")),
            (read_conformal(spark, state), conformal_backtest(batch)),
            (read_haar(spark, state), haar_energy(batch, "event_type")),
            (read_runs(spark, state), runs_test(batch, "event_type")),
        ]
        for got_df, want_df in pairs:
            got = sorted(map(tuple, got_df.collect()))
            want = sorted(map(tuple, want_df.collect()))
            assert len(want) > 0
            assert got == want


class TestContinuousUserCents:
    def test_rolling_experiment_panel_matches_batch_across_restart(
        self, spark, events_dir, tmp_path
    ):
        """The experiment-state twin: per-user cents folded across
        micro-batches (and a restart boundary) equal the batch unit
        relation; the power and QTE finishes match their batch
        operators over the same value-non-null user contract."""
        from unitdb_spark.functions.portable_hash import md5_int60
        from unitdb_spark.operators.evaluation import (
            power_analysis,
            quantile_treatment_effect,
        )
        from unitdb_spark.streaming.continuous import (
            continuous_user_cents,
            read_power,
            read_qte,
        )
        from unitdb_spark.streaming.pubsub import events_as_stream

        state = str(tmp_path / "ucents")
        cp = str(tmp_path / "ucp")
        args = ("user_id", "value", state, cp)
        ev = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q = continuous_user_cents(ev, *args)
        q.awaitTermination(180)
        ev2 = events_as_stream(spark, events_dir, max_files_per_trigger=2)
        q2 = continuous_user_cents(ev2, *args)
        q2.awaitTermination(180)

        batch = spark.read.parquet(events_dir).filter(
            F.col("value").isNotNull()
        )
        units = batch.groupBy("user_id").agg(
            F.expr(
                "CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)"
            ).alias("cents")
        )
        want_p = power_analysis(units, "cents").collect()
        got_p = read_power(spark, state).collect()
        assert sorted(map(tuple, got_p)) == sorted(map(tuple, want_p))

        units_arm = units.select(
            "cents",
            (
                md5_int60(
                    F.concat(F.col("user_id").cast("string"), F.lit(":ab"))
                ) % 2
            ).cast("int").alias("arm"),
        )
        want_q = quantile_treatment_effect(units_arm, "cents", "arm").collect()
        got_q = read_qte(spark, state).collect()
        assert len(want_q) > 0
        assert sorted(map(tuple, got_q)) == sorted(map(tuple, want_q))


class TestStreamingRecords:
    def test_state_survives_restart_and_matches_batch(self, spark, tmp_path):
        """Two checkpointed runs: run 2 continues run 1's
        (cur_max, n_records) state, and the union of emissions equals
        the batch running_records window on the concatenated input."""
        import pyspark.sql.functions as F

        from unitdb_spark.operators.timeseries import running_records
        from unitdb_spark.streaming.state import streaming_records

        src = str(tmp_path / "src")
        cp = str(tmp_path / "cp")
        out = str(tmp_path / "out")
        rows1 = [(1, 10, "a", 5.0), (2, 20, "a", 3.0), (3, 30, "a", 7.0)]
        rows2 = [(4, 40, "a", 6.0), (5, 50, "a", 9.0), (6, 60, "b", 1.0)]
        schema = "event_id long, t long, event_type string, value double"

        def run(rows):
            df = spark.createDataFrame(rows, schema).select(
                "event_id",
                F.timestamp_seconds(F.col("t")).alias("ts"),
                "event_type", "value",
            )
            df.coalesce(1).write.mode("append").parquet(src)
            q = (
                streaming_records(
                    spark.readStream.schema(
                        spark.read.parquet(src).schema
                    ).option("maxFilesPerTrigger", 1).parquet(src)
                )
                .writeStream.foreachBatch(
                    lambda d, bid: d.write.mode("overwrite")
                    .parquet(f"{out}/batch={bid}")
                    if not d.isEmpty() else None
                )
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run(rows1)
        run(rows2)
        got = sorted(
            (r.key, r.id, r.value, r.record_no)
            for r in spark.read.parquet(out).collect()
        )
        # records: a: 500 (1), 700 (3), 900 (5) — 600 is NOT a record
        # because run 1's max 700 survived the restart; b: 100 (1)
        assert got == [
            ("a", 1, 500, 1), ("a", 3, 700, 2), ("a", 5, 900, 3),
            ("b", 6, 100, 1),
        ]
        batch_df = spark.createDataFrame(rows1 + rows2, schema).select(
            "event_id",
            F.timestamp_seconds(F.col("t")).alias("ts"),
            "event_type", "value",
        )
        cents = F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
        want = sorted(
            (r.key, r.id, r.value, r.record_no)
            for r in running_records(
                batch_df, "event_type", "ts", "event_id", cents
            ).collect()
        )
        assert got == want


class TestStreamingPageHinkley:
    def test_streamed_stats_match_batch(self, spark, events_dir):
        """In-order replay: every streaming PH statistic equals the
        batch stacked-window form bit for bit (integer micro-units,
        floor running mean in both paths)."""
        from unitdb_spark.operators.timeseries import page_hinkley
        from unitdb_spark.streaming.state import streaming_page_hinkley

        stream = events_as_stream(spark, events_dir, max_files_per_trigger=100)
        out = streaming_page_hinkley(
            stream, key_col="event_type", delta=0.0, lam=100.0
        )
        q = (
            out.writeStream.format("memory")
            .queryName("ph_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            r["event_id"]: (r["value_micro"], r["m_micro"],
                            r["ph_micro"], r["alarm"])
            for r in spark.sql("SELECT * FROM ph_stream").collect()
        }
        ev = spark.read.parquet(events_dir)
        if dict(ev.dtypes).get("ts") == "timestamp_ntz":
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        batch = page_hinkley(ev, ["event_type"], ["ts", "event_id"],
                             "value", delta=0.0, lam=100.0)
        want = {
            r["event_id"]: (r["value_micro"], r["m_micro"],
                            r["ph_micro"], r["alarm"])
            for r in batch.collect()
        }
        assert len(got) == len(want) > 0
        mismatches = {k for k in want if got[k] != want[k]}
        assert not mismatches, f"{len(mismatches)} rows diverge"
        assert any(r[3] for r in got.values())  # the chart actually alarms

    def test_hand_model_and_negative_floor(self, spark):
        """Pure-Python recurrence model, including a NEGATIVE running
        sum so the floor-vs-truncate distinction is exercised."""
        import datetime as dt

        from unitdb_spark.operators.timeseries import page_hinkley

        vals = [10.0, -25.0, 10.0, 100.0, 100.0, -3.5]
        rows = [
            (i, dt.datetime(2024, 1, 1, 0, 0, i), "k", v)
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        out = {r.event_id: r for r in page_hinkley(
            df, ["event_type"], ["ts", "event_id"], "value",
            delta=1.0, lam=50.0,
        ).collect()}
        n = s = m = 0
        mn = None
        for i, v in enumerate(vals):
            vu = int(round(v * 1_000_000))
            n += 1
            s += vu
            m += vu - (s // n) - 1_000_000
            mn = m if mn is None else min(mn, m)
            ph = m - mn
            r = out[i]
            assert (r.value_micro, r.m_micro, r.ph_micro) == (vu, m, ph)
            assert r.alarm == (ph > 50_000_000)
        # the 100s after the dip must alarm at lam=50
        assert out[3].alarm or out[4].alarm


class TestSnapshotSinkCrashPoints:
    """A fault during the second micro-batch of a versioned-snapshot
    sink, then a restart from the same checkpoint without the fault:
    the committed state equals the batch answer, no batch is folded
    twice, and latest_commit names a snapshot that exists. Both sink
    paths: two state-store aggregations (winner-per-key, count) and
    the skyline's read-union-merge, at two fault points: the
    commit-entry write inside CommitLog.record, and
    CommitLog.prune_other_generations after the entry exists."""

    _SCHEMA = "key long, value binary, op string, op_order long"
    _B1 = [
        (1, bytearray(b"v1"), "put", 10),
        (2, bytearray(b"v2"), "put", 11),
        (1, bytearray(b"v1b"), "put", 12),
    ]
    _B2 = [
        (2, None, "delete", 20),
        (3, bytearray(b"v3"), "put", 21),
        (1, bytearray(b"v1c"), "put", 22),
    ]

    @pytest.mark.parametrize("point", ["record", "prune"])
    @pytest.mark.parametrize("sink", ["kv", "key_counts", "skyline"])
    def test_restart_after_fault_in_second_batch(
        self, spark, tmp_path, monkeypatch, sink, point
    ):
        from pyspark.errors import StreamingQueryException

        from unitdb_spark import fs
        from unitdb_spark.operators.kv import kv_state
        from unitdb_spark.operators.skyline import skyline2d
        from unitdb_spark.streaming.commitlog import CommitLog, latest_commit
        from unitdb_spark.streaming.continuous import (
            continuous_key_counts,
            continuous_skyline,
            read_key_counts,
            read_skyline,
        )
        from unitdb_spark.streaming.kv_sink import continuous_kv, read_kv

        src, state, cp = (str(tmp_path / d) for d in ("src", "state", "cp"))

        def write_ops(rows):
            spark.createDataFrame(rows, self._SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        def run():
            stream = spark.readStream.schema(self._SCHEMA).parquet(src)
            if sink == "kv":
                q = continuous_kv(stream, state, cp)
            elif sink == "skyline":
                q = continuous_skyline(stream, "op_order", "key", state, cp)
            else:
                q = continuous_key_counts(stream, "key", state, cp)
            q.awaitTermination(180)

        write_ops(self._B1)
        run()
        write_ops(self._B2)

        hits = []
        if point == "record":
            real = fs.write_text

            def faulty(spark_, path, text):
                if "/_applied/" in path:
                    hits.append(path)
                    raise OSError("injected: commit-entry write")
                return real(spark_, path, text)

            monkeypatch.setattr(fs, "write_text", faulty)
        else:

            def faulty(log):
                hits.append(log.log_root)
                raise OSError("injected: prune_other_generations")

            monkeypatch.setattr(CommitLog, "prune_other_generations", faulty)
        with pytest.raises(StreamingQueryException):
            run()
        assert len(hits) == 1
        monkeypatch.undo()
        run()

        oplog = spark.read.parquet(src)
        if sink == "kv":
            got = {r["key"]: bytes(r["value"]) for r in read_kv(spark, state).collect()}
            want = {r["key"]: bytes(r["value"]) for r in kv_state(oplog).collect()}
            assert got == want == {1: b"v1c", 3: b"v3"}
        elif sink == "skyline":
            got = sorted(r["op_order"] for r in read_skyline(spark, state).collect())
            want = sorted(
                r["op_order"] for r in skyline2d(oplog, "op_order", "key").collect()
            )
            assert got == want == [10, 11, 21]
        else:
            got = {r["_k"]: r["_n"] for r in read_key_counts(spark, state).collect()}
            want = {r["key"]: r["count"] for r in oplog.groupBy("key").count().collect()}
            assert got == want == {1: 3, 2: 2, 3: 1}
        # two micro-batches in, both committed, each once
        qid, last = latest_commit(spark, state)
        assert last == 1
        assert fs.is_dir(spark, f"{state}/v_{qid}_{last}")
        entries = sorted(n for n, _, _ in fs.list_status(spark, f"{state}/_applied/{qid}"))
        assert entries == ["0", "1"]

    def test_stateless_checkpoint_is_refused_before_start(self, spark, tmp_path):
        """A checkpoint with committed batches but no state store (what
        a stateless foreachBatch query leaves behind) cannot resume a
        streaming aggregation: snapshot_sink says so and names the
        checkpoint instead of starting a query that fails on a missing
        state file."""
        from unitdb_spark import fs
        from unitdb_spark.streaming.continuous import continuous_key_counts

        src, state, cp = (str(tmp_path / d) for d in ("src", "state", "cp"))
        spark.createDataFrame(self._B1, self._SCHEMA).write.parquet(src)
        stream = spark.readStream.schema(self._SCHEMA).parquet(src)
        stream.writeStream.foreachBatch(lambda df, bid: None).option(
            "checkpointLocation", cp
        ).trigger(availableNow=True).start().awaitTermination(180)
        assert fs.list_status(spark, f"{cp}/commits")
        assert not fs.exists(spark, f"{cp}/state")

        with pytest.raises(ValueError, match="fresh checkpoint") as err:
            continuous_key_counts(stream, "key", state, cp)
        assert cp in str(err.value)
        assert not spark.streams.active
