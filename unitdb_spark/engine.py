"""Engine: the public unitdb-equivalent API surface on Spark.

Maps the reference's embedded-DB API (reference: db.go:50-482,
batch.go:60-293) onto DataFrame operations:

- ``Open``   -> Engine.open (SparkSession + table path)
- ``Put/PutEntry`` -> buffered driver-side rows, flushed as one atomic
  Parquet append (the tiny-log 100 ms group commit collapses into the
  flush — memdb/tiny_log.go:202-301): atomic, as every write commits
  at one point like unitdb's WAL sync (db_sync.go), a create-if-absent
  version of the messages table's log (``MessagesTable``)
- ``Get``    -> one declarative DataFrame expression: contract filter →
  topic match → trailing-window cutoff → TTL filter → tombstone
  anti-join → newest-first top-K (db.go:222-319)
- ``Delete/DeleteEntry`` -> tombstone file + read-time anti-join
  (db.go:389-425); forbidden when immutable (options.go:102-119)
- ``Batch``  -> context manager; commit = one log version holding the
  batch's data and tombstone files, abort = drop buffer
  (batch.go:60-293)
- ``Count``  -> live-entry count (db.go:474-482)

Scale notes (100 TB): every Get compiles to a single Catalyst plan. It
prunes only the ``contract`` partition: a traced Get reads every file
of its contract (``get_mix`` seed 7: 30 files and 252,788 rows for
1,355 returned). Only a ``?last=`` Get's ``ts`` filter reaches Parquet
row groups; no Get prunes a ``p_date`` partition. The tombstone side
of the anti-join is broadcast (deletes are rare relative to data). The
driver still walks rows: ``_capped_fetch`` iterates every fetched row
to enforce the byte cap, and ``get_many`` sorts each query's payloads
on the driver.
"""

from __future__ import annotations

import datetime as dt
import math
import time
from collections import deque
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

from unitdb_spark import fs

from unitdb_spark.core.model import (
    MASTER_CONTRACT,
    MAX_PAYLOAD_BYTES,
    Entry,
    Query,
    _SeqSource,
    message_id,
    message_id_seq,
    new_contract,
)
from unitdb_spark.core.topic import parse_topic
from unitdb_spark.table import MESSAGES_SCHEMA, MessagesTable, ttl_live_expr


class ImmutableError(RuntimeError):
    pass


class ResultTooLarge(RuntimeError):
    """get()/get_many() would buffer more payload bytes on the driver
    than EngineOptions.max_get_result_bytes allows."""


def _capped_fetch(
    df: DataFrame, cap: int | None, what: str, hint: str
) -> Iterator[tuple[Row, bytes]]:
    """Stream ``df`` to the driver one partition at a time
    (``toLocalIterator``), yielding (row, payload bytes), and raise
    ``ResultTooLarge`` once the payloads seen pass ``cap`` bytes (None
    = no cap)."""
    total = 0
    for n, r in enumerate(df.toLocalIterator(), 1):
        p = bytes(r["payload"] or b"")
        total += len(p)
        if cap is not None and total > cap:
            raise ResultTooLarge(
                f"{what} result passed {cap} bytes at row {n}; "
                f"raise max_get_result_bytes or use {hint}"
            )
        yield r, p


#: sentinel distinguishing "not passed" from an explicit None (= no cap)
_UNSET = object()


@dataclass
class EngineOptions:
    """Subset of options.go:102-252 that has meaning on Spark."""

    immutable: bool = False
    flush_every: int = 50_000  # driver buffer bound (tiny-log parity)
    # payload encryption parity (options.go WithEncryption + reference
    # chacha20-poly1305 value codec, db.go:281-294): AES-GCM via Spark's
    # built-in aes_encrypt/aes_decrypt — encryption/decryption runs
    # JVM-side on executors, never in Python. Key must be 16/24/32 bytes.
    encryption_key: bytes | None = None
    # None = "encrypt everything iff a key is set" (store-wide
    # WithEncryption, the round-1 behavior). False + key = mixed store:
    # only entries flagged Entry.encryption are encrypted (per-entry
    # WithEncryption, entry.go:54-95).
    encrypt_all: bool | None = None
    # driver-memory guard for the list-returning get()/get_many() API
    # (the reference's [][]byte return is inherently driver-resident;
    # limit 100k × payload ≤1 GB is a ~silent-OOM product without a
    # cap). None disables the guard. get_df is the scale path.
    max_get_result_bytes: int | None = 512 << 20


class Engine:
    """A unitdb-compatible message store on Spark + Parquet."""

    def __init__(self, spark: SparkSession, path: str, options: EngineOptions | None = None) -> None:
        self.spark = spark
        self.path = str(path)
        self.options = options or EngineOptions()
        self.table = MessagesTable(spark, str(Path(self.path) / "messages"))
        self.tombstones_path = self.table.tombstones_path
        self._seq = _SeqSource()
        self._buffer: list[Row] = []
        self._metrics: dict[str, int] = {"puts": 0, "gets": 0, "dels": 0}
        # per-op latency reservoirs (meter.go:100-115: 50-sample window)
        self._latencies: dict[str, deque] = {
            op: deque(maxlen=50) for op in ("get", "put", "del")
        }
        # every version records the store's max seq: no job at open
        self.table.refresh()
        self._seq.advance_to(self.table.max_seq)

    # ------------------------------------------------------------- open
    @classmethod
    def open(cls, spark: SparkSession, path: str, **opts) -> "Engine":
        """db.go:50-210 Open(). Scheme-agnostic: mkdir goes through the
        Hadoop FS API, like every other path operation (fs.py)."""
        fs.mkdirs(spark, str(path))
        return cls(spark, path, EngineOptions(**opts))

    def destroy(self) -> None:
        fs.delete(self.spark, self.path)
        self.table.forget()

    # ------------------------------------------------------------ write
    def put(self, topic: str, payload: bytes | str, contract: int = MASTER_CONTRACT) -> int:
        """db.go:336-341 Put(): append one message under a contract."""
        return self.put_entry(Entry(topic=topic, payload=_as_bytes(payload), contract=contract))

    @property
    def _encrypt_all(self) -> bool:
        if self.options.encrypt_all is not None:
            return self.options.encrypt_all
        return self.options.encryption_key is not None

    def _validate_entry(self, entry: Entry) -> None:
        """Write-path validation (db.go:351-360) — shared by the direct
        put path and Batch staging so errors surface BEFORE anything is
        buffered or persisted."""
        parse_topic(entry.topic)
        if len(entry.payload) > MAX_PAYLOAD_BYTES:
            raise ValueError("payload exceeds 1GB")
        if entry.encryption and self.options.encryption_key is None:
            raise ValueError("Entry.encryption requires a store encryption_key")

    def _make_row(self, entry: Entry, ts: float | None = None) -> tuple[int, Row]:
        """Seq assignment + full row construction for one entry.

        A caller-supplied msg_id (NewID + WithID flow, entry.go:61-66)
        pins the row's seq to the one embedded in the id — otherwise
        delete_entry would tombstone a seq no row carries."""
        spec = parse_topic(entry.topic)
        now = ts if ts is not None else time.time()
        ttl = entry.ttl_seconds()
        if entry.msg_id is not None:
            seq = message_id_seq(entry.msg_id)
            self._seq.advance_to(seq)
        else:
            seq = self._seq.next()
        row = Row(
            seq=seq,
            msg_id=entry.msg_id or message_id(seq, entry.contract, now),
            contract=entry.contract,
            topic=spec.raw,
            ts=dt.datetime.fromtimestamp(now, dt.timezone.utc).replace(tzinfo=None),
            expires_at=(
                dt.datetime.fromtimestamp(now + ttl, dt.timezone.utc).replace(tzinfo=None)
                if ttl is not None
                else None
            ),
            payload=bytes(entry.payload),
            encrypted=bool(entry.encryption or self._encrypt_all),
        )
        return seq, row

    def put_entry(self, entry: Entry, ts: float | None = None) -> int:
        """db.go:343-387 PutEntry(): validated, TTL-resolved append."""
        self._validate_entry(entry)
        seq, row = self._make_row(entry, ts)
        self._buffer.append(row)
        self._metrics["puts"] += 1
        if len(self._buffer) >= self.options.flush_every:
            self.flush()
        return seq

    def put_df(self, df: DataFrame) -> None:
        """Bulk ingest path: append a DataFrame already in messages
        schema (seq, msg_id?, contract, topic, ts, expires_at, payload).
        This is the 100 TB path — no driver-side rows. The max(seq) the
        seq counter needs is observed during the write
        (``MessagesTable.append``)."""
        self.flush()
        cols = {c for c in df.columns}
        if "msg_id" not in cols:
            df = df.withColumn("msg_id", F.lit(None).cast("binary"))
        if "expires_at" not in cols:
            df = df.withColumn("expires_at", F.lit(None).cast("timestamp"))
        if "encrypted" not in cols:
            df = df.withColumn("encrypted", F.lit(self._encrypt_all))
        self._append(df.select([f.name for f in MESSAGES_SCHEMA.fields]))

    def flush(self) -> None:
        """Group commit (tiny-log writeLoop parity,
        memdb/tiny_log.go:202-301): one atomic append per flush. The
        rows go to new files first and become visible together when
        one log version names them."""
        if not self._buffer:
            return
        df = self.spark.createDataFrame(self._buffer, MESSAGES_SCHEMA)
        self._append(df)
        self._buffer.clear()

    def _append(self, df: DataFrame, tombstones: list[str] = ()) -> None:
        """One atomic append of encrypted rows (and a batch's tombstone
        files), the commit unit of flush, put_df and batch commit, timed
        into the put reservoir: one version of the table's log."""
        t0 = time.monotonic()
        self.table.append(self._codec(df, F.aes_encrypt), tombstones)
        self._seq.advance_to(self.table.max_seq)
        self._latencies["put"].append(time.monotonic() - t0)

    def _codec(self, df: DataFrame, aes: Callable) -> DataFrame:
        """Value-codec parity (db.go:281-294, chacha20-poly1305 there,
        AES-GCM here): ``aes`` (F.aes_encrypt on append, F.aes_decrypt on
        read) runs JVM-side on executors; payloads at rest are
        ciphertext, everything else stays queryable plaintext. Only
        rows whose ``encrypted`` marker is set are touched, so a mixed
        store (per-entry WithEncryption) round-trips correctly.

        A NULL marker means the row predates the column (a store written
        when encryption_key implied encrypt-everything and no marker was
        stored) — those rows follow the store-wide setting, not False:
        treating them as plaintext would return raw ciphertext from
        get() with no error."""
        key = self.options.encryption_key
        if key is None:
            return df
        enc = F.coalesce(F.col("encrypted"), F.lit(self._encrypt_all))
        return df.withColumn(
            "payload",
            F.when(enc, aes(F.col("payload"), F.lit(key), F.lit("GCM")))
            .otherwise(F.col("payload")),
        )

    # ------------------------------------------------------------- read
    def get_df(self, query: Query | str, now: float | None = None) -> DataFrame:
        """db.go:222-319 Get() as a single declarative plan; returns the
        full rows (callers project payload). Building it starts no Spark
        job; its one filesystem call is the log read that finds no new
        version (see ``_live_df``)."""
        from unitdb_spark.operators.get import apply_get

        self._metrics["gets"] += 1
        q = Query(topic=query) if isinstance(query, str) else query
        return apply_get(self._live_df([q.contract]), q, now=now)

    def get(
        self,
        query: Query | str,
        now: float | None = None,
        max_result_bytes: int | None = _UNSET,
    ) -> list[bytes]:
        """Payloads, newest-first (the reference's [][]byte return).

        Driver-memory guard: results stream to the driver one partition
        at a time (``toLocalIterator``) with a running byte count, and
        the fetch ABORTS with ``ResultTooLarge`` once accepted payloads
        exceed ``max_result_bytes`` (default
        ``EngineOptions.max_get_result_bytes``, 512 MB; None disables)
        — so a ``limit=100000`` query over GB-sized payloads fails
        loudly part-way instead of OOMing the driver after buffering
        everything. ``get_df`` is the scale path: it never materializes
        results driver-side and has no cap.

        A store whose ``messages/`` or ``tombstones/`` directory does not
        exist reads as holding no messages or no deletes: ``[]``, not an
        error."""
        cap = (
            self.options.max_get_result_bytes
            if max_result_bytes is _UNSET
            else max_result_bytes
        )
        t0 = time.monotonic()
        rows = self.get_df(query, now=now).select("payload")
        out = [p for _, p in _capped_fetch(rows, cap, "get()", "get_df()")]
        self._latencies["get"].append(time.monotonic() - t0)
        return out

    def get_many(
        self, queries: list[Query | str], now: float | None = None
    ) -> list[list[bytes]]:
        """Multi-topic relay (store/store.go:170-181) fused to ONE
        table scan: per-query newest-first payload lists, same results
        as N separate ``get`` calls."""
        from unitdb_spark.operators.get import apply_get_many

        t0 = time.monotonic()
        self._metrics["gets"] += len(queries)
        qs = [Query(topic=q) if isinstance(q, str) else q for q in queries]
        rows = apply_get_many(self._live_df({q.contract for q in qs}), qs, now=now).select(
            "query_id", "seq", "payload"
        )
        out: list[list[tuple[int, bytes]]] = [[] for _ in queries]
        for r, p in _capped_fetch(
            rows,
            self.options.max_get_result_bytes,
            "get_many()",
            "apply_get_many directly",
        ):
            out[r["query_id"]].append((r["seq"], p))
        self._latencies["get"].append(time.monotonic() - t0)
        return [[p for _, p in sorted(l, reverse=True)] for l in out]

    def _live_df(self, contracts: Iterable[int] | None = None) -> DataFrame:
        """The committed rows (of ``contracts`` only, when given) minus
        tombstoned seqs, decrypted. Both come from one version of the
        log: reading the table reads any new version, and a store with
        no tombstone file plans no anti-join."""
        self.flush()
        df = self.table.read(contracts)
        tombs = self.table.read_tombstones()
        if tombs is not None:
            # deletes are rare → broadcast anti-join, no shuffle of the big side
            df = df.join(F.broadcast(tombs), on="seq", how="left_anti")
        return self._codec(df, F.aes_decrypt)

    # ----------------------------------------------------------- delete
    def delete(self, seq: int) -> None:
        """db.go:389-425 Delete(): tombstone by sequence, as one
        tombstone file committed as one log version."""
        if self.options.immutable:
            raise ImmutableError("delete forbidden: store is immutable")
        t0 = time.monotonic()
        self._metrics["dels"] += 1
        self.table.commit(add_tombstones=self.table.write_tombstones([seq]))
        self._latencies["del"].append(time.monotonic() - t0)

    def delete_entry(self, entry: Entry) -> None:
        self.delete(_entry_seq(entry))

    # ------------------------------------------------------------ batch
    def batch(self) -> "Batch":
        """batch.go:60-293: atomic multi-topic batch."""
        return Batch(self)

    def batch_fn(self, fn) -> None:
        """db.go:434-447 Batch(fn): managed batch — commit iff ``fn``
        returns without raising; any error aborts the whole batch."""
        with self.batch() as b:
            fn(b)

    # ------------------------------------------------------------ admin
    def count(self, now: float | None = None) -> int:
        """db.go:474-482 Count(): live entries (TTL + tombstones applied)."""
        return self._live_df().filter(ttl_live_expr(now)).count()

    def file_size(self) -> int:
        """db.go:474-482 FileSize(): bytes on storage for this store
        (messages + tombstones; buffered rows not yet flushed don't
        count, matching the reference where only synced files do).
        One recursive content-summary listing — no data read."""
        return fs.tree_bytes(self.spark, self.path)

    def varz(self) -> dict:
        """meter.go:28-90 Varz(): op counters + per-op latency
        percentiles from a trailing 50-sample reservoir
        (metrics/timeseries.go:24-44, P50..P999 as there)."""
        out: dict = dict(self._metrics)
        for op, samples in self._latencies.items():
            if not samples:
                continue
            s = sorted(samples)

            def pct(p: float) -> float:
                return s[min(int(p * len(s)), len(s) - 1)]

            out[f"{op}_latency"] = {
                "p50": pct(0.50),
                "p75": pct(0.75),
                "p95": pct(0.95),
                "p99": pct(0.99),
                "p999": pct(0.999),
                "hmean": len(s) / sum(1.0 / x for x in s if x > 0) if any(s) else 0.0,
                "n": len(s),
            }
        return out

    # ------------------------------------------------------ maintenance
    # compact, vacuum and purge_expired are unitdb's background reclaim
    # jobs (leasing.go, expiry_window.go). Each one only picks partitions
    # and says how to rewrite one; ``_rewrite`` commits them.

    def _rewrite(
        self,
        rewrites: dict[str, Callable[[DataFrame], DataFrame]],
        retire: Iterable[str] = (),
    ) -> dict[str, tuple[int, int]]:
        """Write ``rewrites[part](rows of part)`` for each partition,
        then commit one version that adds the new files, drops the files
        read and retires the tombstone files ``retire``. If another
        writer committed first, a partition any of whose read files it
        dropped is skipped (its new files deleted, and nothing retired,
        or its deleted rows would come back) and the commit retried; a
        file appended meanwhile stays. Dropped files are deleted after
        the commit; a crash anywhere leaves the old version or the new.
        Returns {part: (files read, files written)} as committed."""
        t = self.table
        by_part = t.partitions()
        done: dict[str, tuple[list[str], list[str]]] = {}
        for part, fn in rewrites.items():
            kept = Observation()
            new = t.write(fn(t.read_partition(part)).observe(kept, F.count(F.lit(1)).alias("n")), part)
            if not kept.get["n"]:  # the write's one empty file
                for f in new:
                    fs.delete(self.spark, f"{t.path}/{f}")
                new = []
            done[part] = (by_part[part], new)
        retire = sorted(retire)
        while True:
            for part in [p for p, (old, _) in done.items() if not all(f in t.files for f in old)]:
                for f in done.pop(part)[1]:
                    fs.delete(self.spark, f"{t.path}/{f}")
                retire = []
            retire = [f for f in retire if f in t.tombstones]
            if not done and not retire:
                return {}
            if t.commit(
                add=[f for _, new in done.values() for f in new],
                remove=[f for old, _ in done.values() for f in old],
                remove_tombstones=retire,
            ):
                break
        for old, _ in done.values():
            for f in old:
                fs.delete(self.spark, f"{t.path}/{f}")
        for f in retire:
            fs.delete(self.spark, f"{t.tombstones_path}/{f}")
        return {p: (len(old), len(new)) for p, (old, new) in done.items()}

    def purge_expired(self, now: float | None = None) -> None:
        """Background expirer parity (expiry_window.go:28-148): rewrite
        the partitions that hold a row with ``expires_at <= now``,
        dropping those rows. Partitions with nothing expired are not
        touched, so the cost tracks expired data, not table size; a
        partition left with no row loses its files. Committed by
        ``_rewrite``: no row is lost and no seq is reused at a crash."""
        self.flush()
        if not self.table.exists():
            return
        live = ttl_live_expr(now or time.time())
        dead = self.table.read().filter(~live).select("contract", "p_date").distinct()
        self._rewrite({
            _part_dir(r["contract"], r["p_date"]): lambda df: df.filter(live).sortWithinPartitions("seq")
            for r in dead.collect()
        })

    def vacuum(self) -> dict[str, int]:
        """Physically apply delete tombstones, then drop them — the
        free-block reclaim half of Delete (reference: deletes return
        blocks to the free lists for reuse, leasing.go +
        db_internal.go:143; here tombstoned rows leave the Parquet
        files and the read path's anti-join shrinks to nothing).

        Selective like compact(): the partitions whose seq range holds
        a tombstoned seq are found by JOINING the tombstone relation
        against the broadcast partition-range aggregate — the rewrite
        cost tracks deleted data, not table size, and a MASS delete
        (GDPR-style, millions of tombstones) stays fully distributed:
        nothing serializes through the driver except the
        affected-partition list, and the per-partition rewrite is an
        anti-JOIN on seq, never a driver-built IN-list. The rewrites
        and the retirement of the tombstone files read are one version
        (``_rewrite``); tombstones committed after that read stay for
        the next run. Returns {partition_dir: rows_removed}.
        """
        self.flush()
        t = self.table
        rows = t.read()
        tombs = t.read_tombstones()
        if tombs is None:
            return {}
        retire = list(t.tombstones)
        tomb_seqs = tombs.distinct()
        removed: dict[str, int] = {}
        # affected-partition discovery is a JOIN, not a driver-side
        # intersect: a mass delete may tombstone millions of seqs, which
        # must never serialize through the driver or inflate a plan
        # IN-list. The partition-range aggregate (one row per partition)
        # is the broadcast side; the only collect is the affected-partition
        # list itself.
        ranges = rows.groupBy("contract", "p_date").agg(F.min("seq").alias("lo"), F.max("seq").alias("hi"))
        for r in _tombstone_affected(ranges, tomb_seqs).collect():
            part = _part_dir(r["contract"], r["p_date"])
            n = t.read_partition(part).join(tomb_seqs, "seq", "leftsemi").count()
            if n:
                removed[part] = n
        done = self._rewrite(
            {part: lambda df: _partition_kept(df, tomb_seqs) for part in removed}, retire
        )
        return {part: removed[part] for part in done}

    def compact(
        self,
        target_file_bytes: int = 128 << 20,
        min_files: int = 4,
    ) -> dict[str, tuple[int, int]]:
        """Selective small-file compaction (free-block/defrag parity,
        leasing.go + db_internal.go:143 — there reclaiming deleted
        blocks; here bin-packing micro-batch appends).

        Streaming ingest appends one file per (contract, p_date) per
        micro-batch, so a hot partition accretes files over time. This
        rewrites ONLY partitions holding >= ``min_files`` data files,
        coalescing each to ceil(bytes / target_file_bytes) seq-sorted
        files — it never touches healthy partitions, so the job's cost
        tracks fragmentation, not table size (compaction of a day's
        worth of micro-batches reads a day, not the decade). The file
        counts come from the log, not a directory walk.

        Appends go on meanwhile; the rewrites are one version, committed
        by ``_rewrite``. Returns {partition_dir: (files_before,
        files_after)}.
        """
        self.flush()
        self.table.refresh()
        rewrites = {}
        for part, files in self.table.partitions().items():
            if len(files) < min_files:
                continue
            n_out = max(1, math.ceil(fs.tree_bytes(self.spark, f"{self.table.path}/{part}") / target_file_bytes))
            if n_out < len(files):
                # sort AFTER coalesce: the merged output files stay
                # seq-sorted end to end, the layout `append` writes —
                # sorting before would leave concatenated sorted runs.
                # Gets do not prune on it: only a ?last= Get's ts filter
                # reaches row groups.
                rewrites[part] = lambda df, n=n_out: df.coalesce(n).sortWithinPartitions("seq")
        return self._rewrite(rewrites)

    def new_contract(self) -> int:
        return new_contract()

    def new_id(self, contract: int = MASTER_CONTRACT) -> bytes:
        return message_id(self._seq.next(), contract)

    def sync(self) -> None:
        """db.go:452 Sync(): force-persist buffered writes (the ticker
        goroutine's job there; here one atomic append)."""
        self.flush()

    def close(self) -> None:
        """db.go:213-220 Close(): flush pending writes and drop buffers.
        The SparkSession is owned by the caller and stays open."""
        self.flush()
        self._buffer.clear()


class Batch:
    """All-or-nothing write batch (batch.go:60-293).

    Entries buffer locally; ``write()`` stages them; ``commit()`` is a
    single atomic append; ``abort()``/exception drops everything.
    """

    def __init__(self, engine: Engine) -> None:
        self.engine = engine
        self._entries: list[tuple[Entry, float | None]] = []
        self._deletes: list[int] = []
        self._default_contract: int | None = None
        self._committed = False

    def set_options(self, contract: int | None = None) -> None:
        """batch.go:29 SetOptions(): batch-wide defaults (contract)."""
        self._default_contract = contract

    def put(self, topic: str, payload: bytes | str, contract: int | None = None) -> None:
        c = contract if contract is not None else (self._default_contract or MASTER_CONTRACT)
        self.put_entry(Entry(topic=topic, payload=_as_bytes(payload), contract=c))

    def put_entry(self, entry: Entry, ts: float | None = None) -> None:
        # validate eagerly (topic AND payload) so a bad entry fails at
        # staging time, before anything could persist — abort-safe
        self.engine._validate_entry(entry)
        self._entries.append((entry, ts))

    def delete(self, seq: int) -> None:
        """batch.go:108 Delete(): tombstone staged until commit."""
        if self.engine.options.immutable:
            raise ImmutableError("delete forbidden: store is immutable")
        self._deletes.append(int(seq))

    def delete_entry(self, entry: Entry) -> None:
        self.delete(_entry_seq(entry))

    def write(self) -> None:  # staging no-op kept for API parity
        pass

    def commit(self) -> None:
        """All-or-nothing: every entry was validated at staging time;
        the rows and the tombstones are written to new files, bypassing
        the engine's incremental buffer (no flush_every flush can fire
        mid-batch), and then ONE log version names them all. A reader
        sees the batch's puts and deletes together or neither, and a
        failure before the commit persists nothing."""
        eng = self.engine
        eng.flush()  # earlier direct puts are a separate commit unit
        tombs = eng.table.write_tombstones(self._deletes) if self._deletes else []
        rows = [eng._make_row(entry, ts)[1] for entry, ts in self._entries]
        if rows:
            eng._append(eng.spark.createDataFrame(rows, MESSAGES_SCHEMA), tombs)
        elif tombs:
            eng.table.commit(add_tombstones=tombs)
        eng._metrics["puts"] += len(self._entries)
        eng._metrics["dels"] += len(self._deletes)
        self._entries.clear()
        self._deletes.clear()
        self._committed = True

    def abort(self) -> None:
        self._entries.clear()
        self._deletes.clear()

    def __enter__(self) -> "Batch":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is None:
            self.commit()
        else:
            self.abort()  # fn error -> nothing persisted (db.go:427-447)
        return False


def _as_bytes(payload: bytes | str) -> bytes:
    return payload.encode("utf-8") if isinstance(payload, str) else bytes(payload)


def _entry_seq(entry: Entry) -> int:
    """The seq a DeleteEntry targets: the one embedded in its id."""
    if entry.msg_id is None:
        raise ValueError("delete requires message id")
    return message_id_seq(entry.msg_id)


def _part_dir(contract: int, p_date: dt.date) -> str:
    return f"contract={contract}/p_date={p_date}"


def _tombstone_affected(ranges: DataFrame, tomb_seqs: DataFrame) -> DataFrame:
    """Partitions whose [lo, hi] seq range holds at least one
    tombstoned seq — as a JOIN with the partition-range aggregate on
    the broadcast side (one row per partition), so the tombstone
    relation can be arbitrarily large without ever touching the
    driver. Returns distinct (contract, p_date)."""
    return (
        tomb_seqs.join(
            F.broadcast(ranges),
            (tomb_seqs["seq"] >= ranges["lo"]) & (tomb_seqs["seq"] <= ranges["hi"]),
        )
        .select("contract", "p_date")
        .distinct()
    )


def _partition_kept(pdf: DataFrame, tomb_seqs: DataFrame) -> DataFrame:
    """Surviving rows of one partition under a tombstone set: an
    anti-join on seq (never a driver-built IN-list — a mass delete
    must stay distributed), seq-sorted for the rewrite."""
    return pdf.join(tomb_seqs, "seq", "left_anti").sortWithinPartitions("seq")
