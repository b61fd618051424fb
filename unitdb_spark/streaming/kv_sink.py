"""Streaming KV upsert sink: memdb semantics maintained continuously.

`operators.kv` answers point-in-time KV questions by re-reducing the
whole op-log; fine for audits, wrong cost model for a hot state table
refreshed per micro-batch at 100 TB of history. This sink folds each
batch of ops into a materialized current-state snapshot:

    batch_winners = last op per key IN THE BATCH     -- O(|batch|)
    state         = winner-per-key(state ∪ winners)  -- O(|state|+|batch|)

so per-refresh cost is bounded by live-key cardinality plus batch
size, never by op-log history. Delete winners are kept as tombstone
rows inside the snapshot (bounded by key cardinality) so a replayed or
out-of-order lower-`op_order` put can never resurrect a deleted key;
`read_kv` filters them out.

Crash safety is the versioned-snapshot protocol of
``streaming.commitlog.snapshot_sink``.

Scale note: each refresh rewrites the full state snapshot. That is the
honest cost of crash-safe versioning over plain parquet; when live-key
cardinality itself is huge relative to batches, the right tool is a
transactional table format whose MERGE rewrites only touched files —
the fold logic here maps 1:1 onto such a sink.

Op-log schema (same as operators.kv): (key LONG, value BINARY,
op STRING ['put','delete'], op_order LONG).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unitdb_spark.streaming.commitlog import read_snapshot, snapshot_sink

_STATE_COLS = ["key", "value", "op", "op_order"]


def _winners(ops: DataFrame) -> DataFrame:
    """Last op per key (ties broken toward 'put' < 'delete' reversed —
    i.e. delete wins an exact op_order tie, the conservative choice)."""
    w = Window.partitionBy("key").orderBy(
        F.desc("op_order"), F.desc(F.col("op") == "delete")
    )
    return (
        ops.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*_STATE_COLS)
    )


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
        oplog,
        state_path,
        checkpoint,
        lambda b: _winners(b.select(*_STATE_COLS)),
        _winners,
        trigger_available_now,
    )
