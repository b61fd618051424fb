"""The `messages` table: canonical schema, derivation, partitioned I/O.

Replaces the reference's entire storage stack (WAL, tiny-log, memdb,
index/data/window files, trie, bloom filters, leasing — reference:
db_sync.go, memdb/, wal/, trie.go, filter.go, leasing.go) with a
partitioned Parquet layout that Catalyst can prune:

- partitioned by ``contract`` (tenant prefix pruning — query.go:106,
  db.go:238) and ``p_date`` (time-block pruning — time_window.go:67-69);
- Parquet min/max stats on ``seq``/``ts`` stand in for the reverse-time
  window chains; dictionary encoding stands in for store-topic-once
  (db_internal.go:271-276); snappy is the codec parity
  (db_internal.go:292).

At 100 TB the same layout holds: date partitions bound each scan,
contract partitions bound each tenant, and files within a partition are
written sorted by ``seq`` so newest-first top-K reads touch few
row-groups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

#: columns derived from `topic` at write time (never stored stale)
DERIVED_COLUMNS = ("parts", "depth", "has_tail", "is_pattern", "p_date")


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
    """Partitioned-Parquet messages store.

    Layout: ``<path>/contract=<c>/p_date=<d>/part-*.parquet`` — both
    partition columns are prunable by Catalyst, reproducing the
    reference's contract-prefix routing + timeID pruning for free.
    """

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    @property
    def lease_path(self) -> str:
        """Maintenance lease marker — a dot-free SIBLING of the table dir
        (never inside it, where it would parse as a partition value).
        While this file exists, one of `Engine.compact`, `Engine.vacuum`
        or `Engine.purge_expired` owns the table: appends refuse loudly
        instead of racing its partition swap."""
        return self.path.rstrip("/") + ".compact-lease"

    def append(self, df: DataFrame) -> None:
        """Atomic Parquet append of fully-derived rows.

        Rows are sorted by ``seq`` within each output partition so that
        row-group min/max stats on ``seq``/``ts`` make newest-first
        top-K scans skip old row groups (reverse-time layout parity,
        time_window.go:37-40).

        Refuses while the maintenance lease is held: a file appended to
        a partition between a job's listing and its directory swap
        would be silently deleted with the old partition (leasing.go
        parity — writers there also wait out the lease).
        """
        from unitdb_spark import fs

        if fs.exists(self.spark, self.lease_path):
            raise RuntimeError(
                "messages table is held by compact/vacuum/purge_expired "
                f"(lease at {self.lease_path}); retry after it finishes"
            )
        out = with_partition_columns(with_topic_columns(df))
        # cluster rows by partition key before the write: one task per
        # (contract, date) -> one right-sized file per partition dir
        # instead of n_tasks x n_dirs small files; AQE splits any
        # skewed partition. seq-sort within gives row-group stats that
        # newest-first scans prune on.
        # sort key = partition cols THEN seq: the dynamic-partition
        # writer requires task rows ordered by (contract, p_date) and
        # plans its own sort when the child ordering doesn't match —
        # a bare seq sort is ELIMINATED as redundant under it (r12:
        # the executed plan showed Sort[contract, p_date] only, so the
        # documented seq-within-file layout rode on sort-internals
        # luck). The combined key satisfies the writer's requirement
        # (one sort, no planner-inserted extra) and makes the
        # row-group min/max-on-seq property structural.
        (
            out.repartition(F.col("contract"), F.col("p_date"))
            .sortWithinPartitions("contract", "p_date", "seq")
            .write.mode("append")
            .partitionBy("contract", "p_date")
            .parquet(self.path)
        )

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], self._full_schema())
        return self.spark.read.schema(self._full_schema()).parquet(self.path)

    def exists(self) -> bool:
        """True when the table directory exists and holds data files.

        Goes through the Hadoop FileSystem API so any Spark-readable
        scheme works (s3a://, hdfs://, gs://, file:) — local pathlib
        would silently report 'no table' for every object-store path,
        turning each Get/Count into an empty result."""
        from unitdb_spark import fs

        return fs.has_files(self.spark, self.path)

    def file_size(self) -> int:
        """Total bytes of the table's data files (db.go:474-482
        FileSize parity — there the sum of index/data/log sizes)."""
        from unitdb_spark import fs

        return fs.tree_bytes(self.spark, self.path)

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


def ttl_live_expr(now: Column, expires_col: str = "expires_at") -> Column:
    """Expired entries are silently skipped at read
    (time_window.go:63-65, 239-251)."""
    e = F.col(expires_col)
    return e.isNull() | (e > now)
