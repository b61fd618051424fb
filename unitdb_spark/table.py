"""The `messages` table: canonical schema, derivation, partitioned I/O.

Replaces the reference's entire storage stack (WAL, tiny-log, memdb,
index/data/window files, trie, bloom filters, leasing — reference:
db_sync.go, memdb/, wal/, trie.go, filter.go, leasing.go) with a
partitioned Parquet layout that Catalyst can prune:

- partitioned by ``contract`` (tenant prefix pruning — query.go:106,
  db.go:238) and ``p_date`` (time-block pruning — time_window.go:67-69);
- dictionary encoding stands in for store-topic-once
  (db_internal.go:271-276); snappy is the codec parity
  (db_internal.go:292).

At 100 TB, contract partitions bound each tenant's scan, and a
``?last=`` Get's ``p_date`` bound (``p_date_since_sql``) bounds it to
the dates its window reaches. Nothing stands in for the reverse-time
window chains below a partition: ``ts`` and ``expires_at`` are stored
as INT96 (Spark's default ``outputTimestampType``), which Parquet
writes no min/max statistics for, so their pushed filters skip no row
group. Files within a partition are written sorted by ``seq``.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import re
import time
import uuid
from collections import Counter
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from unitdb_spark import fs
from unitdb_spark.core.topic import WILDCARD_TAIL

MESSAGES_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("msg_id", T.BinaryType(), True),
        T.StructField("contract", T.LongType(), False),
        T.StructField("topic", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("expires_at", T.TimestampType(), True),
        T.StructField("payload", T.BinaryType(), True),
        # per-entry encryption marker (entry.go WithEncryption; the
        # reference packs this bit into the stored ID,
        # db_internal.go:304-306 — a plain boolean column lets reads
        # decrypt selectively and Parquet stats skip fully-plaintext
        # row groups)
        T.StructField("encrypted", T.BooleanType(), True),
    ]
)

def with_topic_columns(df: DataFrame, topic_col: str = "topic") -> DataFrame:
    """Add ``parts``/``depth``/``has_tail`` derived from the topic string.

    Pure built-in expressions (split / size / endswith) — no UDF — so
    the derivation runs JVM-side inside whole-stage codegen.
    ``parts`` excludes a trailing '...' token; ``has_tail`` records it
    (write-side wildcard, message/topic.go:36-42).
    """
    t = F.col(topic_col)
    tail = t.endswith(F.lit(WILDCARD_TAIL))
    body = F.when(
        tail, F.expr(f"substring({topic_col}, 1, length({topic_col}) - 3)")
    ).otherwise(t)
    parts = F.when(body == F.lit(""), F.array().cast("array<string>")).otherwise(
        F.split(body, r"\.")
    )
    out = (
        df.withColumn("has_tail", tail)
        .withColumn("parts", parts)
        .withColumn("depth", F.size(parts))
    )
    # is_pattern marks write-side wildcards. Guarding the symmetric
    # reverse match with this plain boolean makes a static Get's whole
    # predicate `Or(topic = 'a.b', is_pattern)` — pushable to Parquet,
    # so row groups holding only concrete topics prune on stats instead
    # of being scanned (critical at 100 TB where patterns are rare).
    return out.withColumn(
        "is_pattern",
        F.col("has_tail") | F.exists("parts", lambda p: p == F.lit("*")),
    )


def with_partition_columns(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    return df.withColumn("p_date", F.to_date(F.col(ts_col)))


class MessagesTable:
    """Partitioned-Parquet messages store with a log of committed files.

    Layout: ``<path>/contract=<c>/p_date=<d>/<file>.parquet``. A Get prunes
    on ``contract`` (the reference's contract-prefix routing), and a
    ``?last=`` Get on ``p_date`` too; any other Get reads every file of
    its contract (``get_mix`` seed 7: 30 files, 252,788 rows for 1,355
    returned). No Get skips a row group: ``ts`` is INT96, without
    min/max statistics.

    Every write commits at one point, the log ``<path>/_log/<v>.json``
    (Structured Streaming's file-sink metadata log; Delta Lake's design).
    A version lists the files it adds and removes, the seqs it deletes
    (``delete``) or a vacuum applied (``retire``) and the store's max
    seq, and ``fs.create_atomic`` publishes it whole or not at all: of
    two writers racing for a version, one wins. New files are written
    under ``_stage/<uuid>/`` and moved into their directories under
    store-unique names (one write repeats names across partitions).
    Reads pass Spark the committed names as a ``pathGlobFilter`` (its
    listing skips ``_log`` and ``_stage``), so a file is invisible until
    a version names it; a crash before the commit leaves garbage files,
    never rows. Nothing reclaims those files yet.
    """

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.forget()

    def forget(self) -> None:
        """Drop what the table knows; call it after deleting the store."""
        self.version = -1
        self.files: set[str] = set()  # data files, relative to path
        self.deleted: set[int] = set()  # deleted seqs no vacuum applied yet
        self.tombstones: set[str] = set()  # files of an older store's deletes
        self.max_seq = 0
        self._loaded = False

    # ------------------------------------------------------------- log
    def _log_file(self, version: int) -> str:
        return f"{self.path}/_log/{version:020d}.json"

    def refresh(self) -> None:
        """Read the versions committed since the last call: on a current
        table one fs call, the read that finds no next version. The
        first call converts an older store (``_convert``,
        ``_inline_tombstones``)."""
        while (text := fs.read_text(self.spark, self._log_file(self.version + 1))) is not None:
            self._apply(json.loads(text))
        if not self._loaded:
            self._loaded = True
            if self.version < 0:
                self._convert()
            self._inline_tombstones()

    def _apply(self, entry: dict) -> None:
        self.version += 1
        for have, drop, add in ((self.files, "remove", "add"), (self.deleted, "retire", "delete"),
                                (self.tombstones, "remove_tombstones", "add_tombstones")):
            have.difference_update(entry.get(drop, ()))
            have.update(entry.get(add, ()))
        self.max_seq = max(self.max_seq, entry["max_seq"])

    def commit(self, max_seq: int | None = None, **change) -> bool:
        """Publish the next version of ``change``: lists of data files
        (``add``/``remove``) and of seqs (``delete``/``retire``); True
        once it wins. When another writer created that version first,
        the table reads it. A change that only adds cannot conflict, so
        it is retried at the next version; one that removes returns
        False, and the caller decides whether it still holds."""
        entry = {k: sorted(v) for k, v in change.items() if v}
        while True:
            entry["max_seq"] = max(self.max_seq, max_seq or 0)
            if fs.create_atomic(self.spark, self._log_file(self.version + 1), json.dumps(entry)):
                self._apply(entry)
                return True
            self.refresh()
            if any(change.get(k) for k in ("remove", "retire", "remove_tombstones")):
                return False

    def _inline_tombstones(self) -> None:
        """Move the deletes of an older store into the log: its
        ``tombstones/`` files (named by versions it wrote, or by
        ``_convert``) are read in one Spark job, one version records
        their seqs and drops the files, then the directory goes. A crash
        anywhere leaves files this redoes at the next open."""
        root = self.path.rsplit("/", 1)[0] + "/tombstones"
        while self.tombstones:
            seqs = [r.seq for r in self._scan(root, self.tombstones, "seq long").collect()]
            self.commit(delete=seqs, remove_tombstones=self.tombstones)
        fs.delete(self.spark, root)

    def _convert(self) -> None:
        """Give a store written before the log its version 0, from one
        listing of each directory, after renaming files whose names
        repeat (a crash before the commit leaves a store this converts
        again). A file in an older sparkmsg's partition swap directory
        was left by a crash, and the partition may be missing or doubled:
        it raises. The empty directories a finished swap left go."""
        root = self.path.rsplit("/", 1)[0]
        swap = root + "/.compact-part"
        if fs.list_files(self.spark, swap + "/*/*/*/*"):
            raise RuntimeError(f"{swap} holds files of an interrupted partition swap of an older "
                               "sparkmsg; put each partition back from stage/ or trash/, remove it, reopen")
        fs.delete(self.spark, swap)
        data, tombs = (
            {f for f in _tail(fs.list_files(self.spark, pattern), depth) if not re.search(r"(^|/)[_.]", f)}
            for pattern, depth in ((f"{self.path}/*/*/*.parquet", 3), (f"{root}/tombstones/*.parquet", 1))
        )
        if not data and not tombs:
            return
        names = Counter(f.rsplit("/", 1)[-1] for f in data)
        uid = uuid.uuid4().hex
        for i, f in enumerate(sorted(data)):
            if names[f.rsplit("/", 1)[-1]] > 1:
                new = f"{f.rsplit('/', 1)[0]}/part-{i:05d}-{uid}.parquet"
                fs.rename(self.spark, f"{self.path}/{f}", f"{self.path}/{new}")
                data.remove(f)
                data.add(new)
        top = self._scan(self.path, data, self._full_schema()).agg(F.max("seq")).first()[0]
        self.commit(add=data, add_tombstones=tombs, max_seq=top)

    # ----------------------------------------------------------- write
    def write(self, df: DataFrame, part: str | None = None) -> list[str]:
        """Write rows as new files no version names yet, moved out of the
        stage into their partition directory (``part``, or the one they
        were written to) under store-unique names; returns them. ``df``
        holds message rows, or with ``part`` the stored columns of the
        rows replacing partition ``part``. Message rows are sorted by
        ``seq`` within each file (reverse-time layout parity,
        time_window.go:37-40), though a Get reads every file of the
        partitions it keeps regardless."""
        writer = df.write
        if part is None:
            # one task per (contract, date) -> one right-sized file per
            # partition dir; AQE splits any skewed partition. The sort
            # key is the partition columns THEN seq: the dynamic-partition
            # writer needs rows ordered by (contract, p_date) and would
            # drop a bare seq sort as redundant under its own (r12).
            writer = (
                with_partition_columns(with_topic_columns(df))
                .repartition(F.col("contract"), F.col("p_date"))
                .sortWithinPartitions("contract", "p_date", "seq")
                .write.partitionBy("contract", "p_date")
            )
        uid = uuid.uuid4().hex
        stage = f"{self.path}/_stage/{uid}"
        writer.parquet(stage)
        if self.version < 0:
            # the store's first write: convert an old store before a new
            # file is in its directories, then commit a version 0, so a
            # crash from here on is not taken for an old store
            self.refresh()
            if self.version < 0:
                self.commit()
        depth = 3 if part is None else 1  # contract=/p_date=/file, or file
        written = _tail(fs.list_files(self.spark, stage + "/*" * depth + ".parquet"), depth)
        names = {
            rel: f"{rel.rpartition('/')[0] if part is None else part}/part-{i:05d}-{uid}.parquet"
            for i, rel in enumerate(sorted(written))
        }
        # one mkdirs per directory no committed file is in: a local disk
        # copies a file renamed into a missing directory
        for d in {n.rpartition("/")[0] for n in names.values()} - {f.rpartition("/")[0] for f in self.files}:
            fs.mkdirs(self.spark, f"{self.path}/{d}")
        for rel, name in names.items():
            fs.rename(self.spark, f"{stage}/{rel}", f"{self.path}/{name}")
        fs.delete(self.spark, stage)
        return list(names.values())

    def append(self, df: DataFrame, delete: list[int] = ()) -> None:
        """Write fully-derived rows and commit them, with any deleted
        seqs, as one version: all become visible together, or none. The
        rows' highest seq is observed during the write (a separate
        aggregate would run the input plan twice)."""
        obs = Observation()
        add = self.write(df.observe(obs, F.max("seq").alias("max_seq")))
        if add or delete:
            self.commit(add=add, delete=delete, max_seq=obs.get["max_seq"])

    # ------------------------------------------------------------ read
    def read(self, contracts: Iterable[int] | None = None) -> DataFrame:
        """The committed rows, of ``contracts`` only when given. Spark lists
        the directory and keeps the files named (Hadoop matches each listed
        file against every name); with none, Spark is not asked."""
        self.refresh()
        files = self.files
        if contracts is not None:
            dirs = tuple(f"contract={int(c)}/" for c in contracts)
            files = [f for f in files if f.startswith(dirs)]
        return self._scan(self.path, files, self._full_schema())

    def read_deleted(self) -> DataFrame | None:
        """The pending deleted seqs as of the last ``read`` or
        ``refresh``, or None when there is none (then a Get plans no
        anti-join); no fs call and no Spark job. Built from an Arrow
        table, so Spark plans a ``LocalRelation``: a list of tuples
        would plan an RDD scan that runs a Python job at every Get."""
        if self.deleted:
            return self.spark.createDataFrame(pa.table({"seq": pa.array(self.deleted, pa.int64())}))
        return None

    def partitions(self) -> dict[str, list[str]]:
        """The committed data files of each partition directory, as of
        the last ``read`` or ``refresh``."""
        out: dict[str, list[str]] = {}
        for f in sorted(self.files):
            out.setdefault(f.rsplit("/", 1)[0], []).append(f)
        return out

    def read_partition(self, part: str) -> DataFrame:
        """The stored columns of one partition's committed files."""
        return self._scan(f"{self.path}/{part}", self.partitions()[part], DATA_SCHEMA)

    def _scan(self, root: str, files, schema) -> DataFrame:
        """Spark's read of directory ``root``, kept to ``files`` by their
        (store-unique) names."""
        if not files:
            return self.spark.createDataFrame([], schema)
        names = sorted(re.sub(r"([\\{}\[\]*?,])", r"\\\1", f.rsplit("/", 1)[-1]) for f in files)
        return self.spark.read.schema(schema).option("pathGlobFilter", "{" + ",".join(names) + "}").parquet(root)

    def exists(self) -> bool:
        """True when the table has committed data files."""
        self.refresh()
        return bool(self.files)

    @staticmethod
    def _full_schema() -> T.StructType:
        fields = [f for f in MESSAGES_SCHEMA.fields if f.name != "contract"]
        fields += [
            T.StructField("has_tail", T.BooleanType(), True),
            T.StructField("parts", T.ArrayType(T.StringType()), True),
            T.StructField("depth", T.IntegerType(), True),
            T.StructField("is_pattern", T.BooleanType(), True),
            T.StructField("contract", T.LongType(), True),
            T.StructField("p_date", T.DateType(), True),
        ]
        return T.StructType(fields)


#: the columns stored IN a partition's files: everything but the
#: directory-encoded partition columns. Reads pass it explicitly —
#: inferring from one legacy file would drop columns it lacks (the
#: `encrypted` marker, turning mixed-store ciphertext into "plaintext").
DATA_SCHEMA = T.StructType(
    [f for f in MessagesTable._full_schema().fields if f.name not in ("contract", "p_date")]
)


def _tail(paths: Iterable[str], depth: int) -> list[str]:
    """The last ``depth`` components of each path."""
    return ["/".join(p.split("/")[-depth:]) for p in paths]


def now_sql(now: float | dt.datetime | None) -> str:
    """The read clock as a SQL term: ``current_timestamp()``, or the
    instant ``F.lit`` gives the naive UTC datetime of ``now`` (epoch
    seconds or a datetime). py4j sends a naive datetime as
    ``time.mktime`` seconds plus its microseconds, and
    ``timestamp_micros`` takes exactly that."""
    return "current_timestamp()" if now is None else f"timestamp_micros({_micros(now)})"


def _micros(now: float | dt.datetime | None) -> int:
    """The instant ``now_sql`` names, in epoch microseconds (the wall
    clock for None)."""
    if now is None:
        return time.time_ns() // 1000
    if not isinstance(now, dt.datetime):
        now = dt.datetime.fromtimestamp(now, dt.timezone.utc)
    d = now.replace(tzinfo=None)
    return int(time.mktime(d.timetuple())) * 1_000_000 + d.microsecond


#: the widest offset from UTC a Spark session time zone can have
_MAX_ZONE_OFFSET_US = 18 * 3600 * 1_000_000
_DAY_US = 86_400 * 1_000_000
#: the unix day of 0001-01-01: a bound before it would keep every date
#: (and could overflow ``date_from_unix_date``'s int argument)
_FIRST_UNIX_DATE = -719_162


def p_date_since_sql(now: float | dt.datetime | None, seconds: float) -> str | None:
    """A ``p_date`` bound that keeps every row with ``ts`` at or after
    ``now`` minus ``seconds``, or None when no date is that old. A row's
    ``p_date`` is the date of its ``ts`` in the writer's session time
    zone, at most 18 h off UTC, so none of those rows is dated before the
    UTC date of the cutoff less 18 h; the reader's time zone plays no
    part. With ``now`` None the bound is taken from the wall clock now,
    no later than the ``current_timestamp()`` the query runs at."""
    days = math.floor((_micros(now) - seconds * 1e6 - _MAX_ZONE_OFFSET_US) / _DAY_US)
    return f"p_date >= date_from_unix_date({days})" if days > _FIRST_UNIX_DATE else None


def ttl_live_sql(now: str) -> str:
    """Expired entries are silently skipped at read
    (time_window.go:63-65, 239-251). ``now`` is a SQL timestamp term
    (``now_sql``)."""
    return f"(expires_at IS NULL OR expires_at > {now})"


def ttl_live_expr(now: float | dt.datetime | None) -> Column:
    """``ttl_live_sql`` at ``now`` as a Column."""
    return F.expr(ttl_live_sql(now_sql(now)))
