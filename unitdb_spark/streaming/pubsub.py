"""Pub/sub on Structured Streaming.

Maps the reference's uTP server dataflow (reference: hdl_conn.go:
434-476 PUBLISH, conn.go:248-313 fan-out, hdl_conn.go:348-381 RELAY,
docs/utp.md:123-171 delivery modes) onto streaming primitives:

- PUBLISH  -> ``ingest_stream``: any streaming DataFrame of entries is
  appended to the messages table via foreachBatch (one micro-batch =
  one tiny-log group commit — memdb/tiny_log.go:202-301; the streaming
  checkpoint replaces the WAL — wal/wal.go).
- SUBSCRIBE -> ``subscribe``: a streaming query over the ingest stream
  filtered with the same symmetric topic-match expression as batch Get;
  each subscription is an independent streaming query (trie fan-out
  becomes predicate evaluation inside the stream).
- RELAY    -> ``relay``: historical replay is literally batch Get
  (store/store.go:170-181 calls the same DB.Get).
- Delivery modes (docs/utp.md:123-171):
  EXPRESS  = at-least-once: plain streaming sink;
  RELIABLE = exactly-once-ish: idempotent dedup on msg_id with a
             watermark-bounded state (dropDuplicates);
  BATCH    = grouped delivery: processingTime trigger + per-trigger
             batch, mirroring the 100 ms/1000-msg outbound batcher
             (server/internal/batch.go:11-221).

Scale: each subscription filter is a codegen predicate on the shared
ingest stream — N subscriptions share one scan per micro-batch when
multiplexed via ``fanout_once`` (subscription registry joined as a
broadcast stream-static join), which is how 10^5 subscriptions stay
O(1) scans per batch.
"""

from __future__ import annotations

from enum import IntEnum

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from unitdb_spark import fs
from unitdb_spark.core.model import MASTER_CONTRACT
from unitdb_spark.core.topic import parse_topic
from unitdb_spark.operators.topic_match import topic_match_expr
from unitdb_spark.table import MessagesTable, with_topic_columns


class DeliveryMode(IntEnum):
    """docs/utp.md:123-171; conn.go:273-300."""

    EXPRESS = 0
    RELIABLE = 1
    BATCH = 2


def prepare_entries(df: DataFrame) -> DataFrame:
    """Normalize a raw streaming/batch DataFrame of entries
    (topic, payload[, contract, ts, expires_at, seq, msg_id]) into the
    messages schema with derived topic columns."""
    cols = set(df.columns)
    if "contract" not in cols:
        df = df.withColumn("contract", F.lit(MASTER_CONTRACT).cast("long"))
    if "ts" not in cols:
        df = df.withColumn("ts", F.current_timestamp())
    elif dict(df.dtypes).get("ts") == "timestamp_ntz":
        # messages schema (and event-time ops downstream) use the
        # session-tz TIMESTAMP; NTZ inputs coerce here, not at the sink
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if "expires_at" not in cols:
        df = df.withColumn("expires_at", F.lit(None).cast("timestamp"))
    if "msg_id" not in cols:
        df = df.withColumn("msg_id", F.lit(None).cast("binary"))
    if "encrypted" not in cols:
        df = df.withColumn("encrypted", F.lit(False))
    if "seq" not in cols:
        # streaming-safe monotonic-ish ordering key: event-time micros
        # shifted left 12 bits with a content-hash tiebreak in the low
        # bits. Distinct messages sharing a timestamp (second-granular
        # sources are common) would otherwise collide on seq, and
        # downstream treats seq as identity (RELIABLE dedup fallback,
        # stateful top-K seen-set) — colliding seqs silently drop
        # messages. Headroom: the shift overflows a signed 64-bit long
        # once micros >= 2^51, around May 2041 — not ~2255 as round 1
        # claimed. The encoding is nevertheless kept STABLE at 12 bits:
        # rows persisted under it order by seq, and shrinking the shift
        # would rank every new row below every existing one (newest-
        # first Gets would serve stale data forever). Before 2041 the
        # encoding needs a versioned bump + store rewrite.
        df = df.withColumn(
            "seq",
            F.shiftleft(F.unix_micros(F.col("ts")), 12)
            + F.pmod(F.xxhash64(F.col("topic"), F.col("payload")), F.lit(4096)),
        )
    return with_topic_columns(df)


def ingest_stream(
    entries: DataFrame,
    table_path: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """PUBLISH path: stream entries into the messages table.

    foreachBatch append = group commit; checkpoint = WAL. The Spark
    checkpoint alone is at-least-once: a crash after the append but
    before the checkpoint commit replays the whole batch as duplicate
    rows. The applied-batch commit log beside the table closes that
    replay path (a batch whose id is logged for this checkpoint
    generation is skipped — see streaming.commitlog for why the log is
    keyed by query id, not a bare high-water mark), shrinking the
    duplicate window to the instants between the data commit (one log
    version, never half visible) and the batch record; exactly-once needs
    the batch id in that version too. Same discipline as
    streaming.continuous and the reference's WAL-release-after-sync
    (db_sync.go).
    """
    from unitdb_spark.streaming.commitlog import CommitLog

    table = MessagesTable(entries.sparkSession, table_path)
    log = CommitLog(entries.sparkSession, checkpoint, table_path + ".applied")

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        if log.skip_replayed(batch_df, batch_id):
            return  # replayed batch already in the table
        if not batch_df.isEmpty():
            table.append(batch_df.select(
                "seq", "msg_id", "contract", "topic", "ts", "expires_at",
                "payload", "encrypted",
            ))
        log.record(batch_id)

    writer = entries.writeStream.foreachBatch(_commit).option(
        "checkpointLocation", checkpoint
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def subscribe(
    stream: DataFrame,
    topic: str,
    mode: DeliveryMode = DeliveryMode.EXPRESS,
    contract: int = MASTER_CONTRACT,
    watermark: str = "10 minutes",
) -> DataFrame:
    """SUBSCRIBE: filtered view of the ingest stream for one pattern.

    Returns the transformed streaming DataFrame; callers attach their
    sink (memory/kafka/foreachBatch) and trigger per delivery mode.
    """
    spec = parse_topic(topic)
    out = stream.filter(F.col("contract") == F.lit(contract)).filter(
        topic_match_expr(spec)
    )
    if mode == DeliveryMode.RELIABLE:
        # exactly-once-ish: drop redelivered messages within the
        # watermark horizon (NOTIFY/RECEIPT ledger parity,
        # store/store.go:183-288). Two correctness points:
        # - the dedup key falls back to seq when msg_id is NULL
        #   (prepare_entries emits NULL ids; dropDuplicates groups all
        #   NULLs together and would keep exactly one message ever);
        # - dropDuplicatesWithinWatermark, not dropDuplicates: plain
        #   dropDuplicates never evicts state unless the event-time
        #   column is part of the key, so its ledger grows unboundedly.
        # domain prefixes keep the two keyspaces disjoint: without
        # them, a msg_id whose hex rendering equals another NULL-id
        # row's decimal seq string would dedup two distinct messages
        out = out.withColumn(
            "_dedup_key",
            F.coalesce(
                F.concat(F.lit("m:"), F.hex(F.col("msg_id"))),
                F.concat(F.lit("s:"), F.col("seq").cast("string")),
            ),
        )
        out = (
            out.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["_dedup_key"])
            .drop("_dedup_key")
        )
    return out


def fanout_once(
    stream: DataFrame, subscriptions: DataFrame
) -> DataFrame:
    """Multiplexed fan-out: ONE scan per micro-batch for all
    subscriptions (conn.go:248-313's per-message trie lookup, inverted).

    ``subscriptions`` is a static/slowly-changing DataFrame
    (sub_id, topic, contract) of *patterns*; matching is the symmetric
    wildcard predicate over pre-split parts, evaluated as a broadcast
    stream-static join. Output: one row per (message, matching sub).
    """
    # per-subscription delivery attributes (delay_ms, mode) ride along
    # when present, so the batch manager downstream can group flushes
    extra = [c for c in ("delay_ms", "mode") if c in subscriptions.columns]
    subs = with_topic_columns(
        subscriptions.select(
            "sub_id",
            F.col("topic").alias("s_topic"),
            F.col("contract").alias("s_contract"),
            *extra,
        ),
        topic_col="s_topic",
    ).withColumnsRenamed(
        {
            "parts": "s_parts",
            "depth": "s_depth",
            "has_tail": "s_has_tail",
            "is_pattern": "s_is_pattern",
        }
    )
    # symmetric match, fully column-vs-column (both sides unknown until
    # runtime): equality fast path OR pattern-vs-concrete both ways
    def one_way(p: str, c: str) -> str:
        # pattern side (column prefix p) vs the other side treated as
        # concrete (prefix c), whose trailing '...' counts as one
        # literal level, as in core.topic.topic_match
        length = f"({c}depth + CAST({c}has_tail AS INT))"
        token = f"IF(i < {c}depth, get({c}parts, i), '...')"
        return (
            f"(IF({p}has_tail, {p}depth <= {length}, {p}depth = {length})"
            f" AND forall(transform({p}parts, (t, i) -> t = '*' OR t = {token}), x -> x))"
        )

    match = F.expr(
        f"(s_topic = topic OR {one_way('s_', '')} OR {one_way('', 's_')})"
        " AND s_contract = contract"
    )
    return stream.join(F.broadcast(subs), on=match, how="inner")


def flush_group_expr(
    batch_interval_ms: int, ts_col: str = "ts", delay_col: str = "delay_ms"
) -> "F.Column":
    """timeID(delay) parity (server/internal/batch.go:93-108): the
    outbound batch a message belongs to = its delivery due time
    (event ts + the subscription's delay) quantized to the interval —
    so two subscriptions with different delays flush in different
    groups, exactly as the reference's batch manager groups by
    ``timeID(delay)``."""
    due_ms = (F.unix_micros(F.col(ts_col)) / F.lit(1000)) + F.coalesce(
        F.col(delay_col).cast("long"), F.lit(0)
    )
    return F.floor(due_ms / F.lit(batch_interval_ms)).cast("long")


def batched_writer(
    df: DataFrame,
    sink_fn,
    checkpoint: str,
    batch_interval_ms: int = 100,
    available_now: bool = False,
    delay_col: str | None = None,
):
    """BATCH delivery mode: group outbound messages per trigger interval
    (100 ms default, mirroring server/internal/batch.go:14-18).

    With ``delay_col`` (e.g. fanout output carrying each subscription's
    ``delay_ms``), messages are further split into per-due-time flush
    groups inside every micro-batch and ``sink_fn(group_df, (batch_id,
    flush_group))`` fires once per group, in due-time order. The
    driver-side loop is bounded by distinct (delay, interval-window)
    combinations in one micro-batch — subscriptions share a handful of
    delay values, so this is dozens of groups, not rows.
    """
    if delay_col is not None:
        grouped = df.withColumn(
            "_flush_group", flush_group_expr(batch_interval_ms, delay_col=delay_col)
        )
        user_sink = sink_fn

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            groups = sorted(
                r[0] for r in batch_df.select("_flush_group").distinct().collect()
            )
            for g in groups:
                user_sink(
                    batch_df.filter(F.col("_flush_group") == g).drop("_flush_group"),
                    (batch_id, g),
                )

        df, sink_fn = grouped, _sink
    trigger = (
        {"availableNow": True}
        if available_now
        else {"processingTime": f"{batch_interval_ms} milliseconds"}
    )
    return (
        df.writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger)
        .start()
    )


class ReliableSink:
    """Resumable reliable delivery: a persisted in-flight log around a
    foreachBatch sink (the missing half of delivery mode 2).

    Reference parity: the store keeps every outbound message in a
    pending log and deletes it only on COMPLETE
    (store/store.go:203-257); the uTP flow is NOTIFY → RECEIVE →
    RECEIPT → COMPLETE (docs/utp.md:153-171), and a reconnecting
    subscriber is re-served whatever the pending log still holds. The
    Spark mapping takes the micro-batch as the delivery unit:

      1. persist the batch under ``<root>/inflight/<gen>/<batch_id>``
         (the NOTIFY is durable before the subscriber sees anything);
      2. deliver the PERSISTED copy to ``sink_fn(df, batch_id)`` — what
         is on disk is exactly what was handed over, so a later resume
         redelivers identical content;
      3. ack: commit-log entry (COMPLETE) + drop the in-flight dir.

    ``resume()`` — the crashed-subscriber reconnect — redelivers every
    persisted-but-unacked batch from ANY generation (a subscriber that
    restarts with a fresh checkpoint still drains its old generation's
    pending log), acking each. Call it before restarting the stream.

    Delivery to the sink is at-least-once with one crash window
    (between sink return and ack — the same window as the reference's
    re-NOTIFY after a lost RECEIPT); client-visible exactly-once means
    an idempotent sink keyed on batch content or msg ids, exactly as
    uTP clients ack by message id. Scale: the in-flight write is one
    bounded parquet append per micro-batch (executor-side); ack is one
    marker-file create; resume is driver-light directory listing.
    """

    def __init__(self, spark: SparkSession, root: str, checkpoint: str, sink_fn) -> None:
        from unitdb_spark.streaming.commitlog import CommitLog

        self.spark = spark
        self.root = root.rstrip("/")
        self.sink_fn = sink_fn
        self.log = CommitLog(spark, checkpoint, f"{self.root}/acked")

    def _inflight(self, qid: str, batch_id: int) -> str:
        return f"{self.root}/inflight/{qid}/{int(batch_id)}"

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.log.skip_replayed(batch_df, batch_id):
            return  # replayed, already COMPLETE
        qid = self.log.query_id
        inflight = self._inflight(qid, batch_id)
        fs.delete(self.spark, inflight)  # torn earlier attempt
        if batch_df.isEmpty():
            self.log.record(batch_id)
            return
        batch_df.write.parquet(inflight)        # durable NOTIFY
        self.sink_fn(self.spark.read.parquet(inflight), batch_id)
        self.log.record(batch_id)               # COMPLETE
        fs.delete(self.spark, inflight)

    def resume(self) -> int:
        """Redeliver every persisted-but-unacked batch (any generation)
        in NUMERIC batch order — directory listings come back
        lexicographic ('10' < '9'), and an order-sensitive sink must
        see batch 9 before 10 on the recovery path exactly as on the
        live path. Returns how many batches were redelivered."""
        base = f"{self.root}/inflight"
        redelivered = 0
        for qid, _, qid_is_dir in sorted(fs.list_status(self.spark, base)):
            qdir = f"{base}/{qid}"
            if not qid_is_dir:
                continue
            bids = sorted(
                int(name)
                for name, _, is_dir in fs.list_status(self.spark, qdir)
                if is_dir and name.isdigit()
            )
            high = self.log.last_for(qid)
            for bid in bids:
                bdir = f"{qdir}/{bid}"
                if not self.log.applied_for(qid, bid):
                    if high is not None and bid < high:
                        # marker pruned AFTER ack: foreachBatch runs
                        # batches sequentially and Spark commits N
                        # before starting N+1, so a later acked batch
                        # proves this one completed — a stale inflight
                        # dir here is leftover from a crash between
                        # record() and the inflight delete, NOT an
                        # undelivered batch; redelivering would
                        # double-feed an order-sensitive sink
                        pass
                    elif not fs.exists(self.spark, f"{bdir}/_SUCCESS"):
                        # torn in-flight write: the Spark checkpoint
                        # never committed this batch either — it will
                        # replay through __call__; don't deliver half
                        fs.delete(self.spark, bdir)
                        continue
                    else:
                        self.sink_fn(self.spark.read.parquet(bdir), bid)
                        self.log.record_for(qid, bid)
                        redelivered += 1
                fs.delete(self.spark, bdir)
        return redelivered


def relay(engine, topic: str, last: str | None = None, now: float | None = None):
    """RELAY: historical replay = batch Get (store/store.go:170-181)."""
    from unitdb_spark.core.model import Query

    q = Query(topic=topic, last=last) if last else Query(topic=topic)
    return engine.get_df(q, now=now)


def prepare_events_stream_dir(
    spark: SparkSession, sf_dir: str, target_dir: str, n_files: int = 8
) -> None:
    """Materialize the events table as n parquet files so a file-source
    stream replays it in n micro-batches (F3 fixture scaffolding)."""
    from unitdb_spark.sources.events import load_events

    load_events(spark, sf_dir).repartition(n_files).write.mode("overwrite").parquet(
        target_dir
    )


def events_as_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Replay a (µs-timestamped) events directory as a file stream.

    Parquet written without timezone metadata reads back TIMESTAMP_NTZ
    in Spark 4, which event-time ops (withWatermark, window) reject —
    normalize `ts` to the session-tz TIMESTAMP (sessions run UTC, so
    wall-clock values are unchanged)."""
    df = spark.read.parquet(events_dir)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream
