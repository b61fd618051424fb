"""Streaming KV upsert sink: memdb semantics maintained continuously.

`operators.kv` answers point-in-time KV questions by re-reducing the
whole op-log; fine for audits, wrong cost model for a hot state table
refreshed per micro-batch at 100 TB of history. Here the winner per
key is one streaming aggregation,

    state = groupBy(key).max(struct(op_order, op = 'delete', op, value))

which Spark's state store folds batch by batch: each refresh touches
only the keys in the batch, never the op-log history. The struct
orders by op_order first and then puts a delete above a put, so a
delete wins an exact op_order tie. Delete winners stay in the state as
tombstone rows (bounded by key cardinality), so a replayed or
out-of-order lower-`op_order` put can never resurrect a deleted key;
`read_kv` filters them out.

Publishing and crash safety are the versioned-snapshot protocol of
``streaming.commitlog.snapshot_sink``.

Scale note: each refresh rewrites the full state snapshot. That is the
honest cost of crash-safe versioning over plain parquet; when live-key
cardinality itself is huge relative to batches, the right tool is a
transactional table format whose MERGE rewrites only touched files.

Op-log schema (same as operators.kv): (key LONG, value BINARY,
op STRING ['put','delete'], op_order LONG).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unitdb_spark.operators.kv import winners
from unitdb_spark.streaming.commitlog import read_snapshot, snapshot_sink


def read_kv(spark: SparkSession, state_path: str, include_tombstones: bool = False) -> DataFrame:
    """Current committed KV state. (key, value) of live keys — or the
    raw winner rows including delete tombstones when asked."""
    snap = read_snapshot(spark, state_path, "KV snapshot")
    if include_tombstones:
        return snap
    return snap.filter(F.col("op") == "put").select("key", "value")


def continuous_kv(
    oplog: DataFrame,
    state_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Start the streaming query maintaining the KV state table under
    ``state_path`` from an op-log stream. Returns the StreamingQuery."""
    return snapshot_sink(
        winners(oplog), state_path, checkpoint,
        trigger_available_now=trigger_available_now,
    )
