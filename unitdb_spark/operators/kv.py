"""memdb-semantics key-value emulation (SURVEY §2.1 #17).

The reference's memdb is a uint64-key KV store with time-block
versioning used for server session/in-flight-message state
(reference: memdb/db.go:124-438: Put/Get/Lookup/Delete/Keys/Batch).
As SURVEY §2.1 notes it is not ported as storage; its *semantics* —
last-write-wins per key with delete visibility, point-in-time lookup —
are expressed over an op-log DataFrame so the F4 fixture checks run
against the same declarative engine as everything else.

Op-log schema: (key LONG, value BINARY, op STRING ['put','delete'],
op_order LONG).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def winners(ops: DataFrame) -> DataFrame:
    """The last op per key, as (key, value, op, op_order): the highest
    ``op_order`` wins, and a delete wins an exact ``op_order`` tie (the
    conservative choice; two puts tied on ``op_order`` resolve to the
    larger value). One aggregation on key, which Spark's state store
    can also fold batch by batch (`streaming.kv_sink`)."""
    last = F.max(
        F.struct("op_order", (F.col("op") == "delete").alias("_del"), "op", "value")
    ).alias("_w")
    return ops.groupBy("key").agg(last).select(
        "key", "_w.value", "_w.op", "_w.op_order"
    )


def kv_state(oplog: DataFrame, as_of_order: int | None = None) -> DataFrame:
    """Current (or point-in-time) state: the `winners` whose op is a
    put; a 'delete' winner removes the key (memdb/db.go Get/Delete
    visibility)."""
    log = oplog
    if as_of_order is not None:
        log = log.filter(F.col("op_order") <= as_of_order)
    return winners(log).filter(F.col("op") == "put").select("key", "value")


def kv_get(oplog: DataFrame, key: int) -> bytes | None:
    rows = kv_state(oplog.filter(F.col("key") == key)).collect()
    if not rows:
        return None
    v = rows[0]["value"]
    return bytes(v) if v is not None else None  # put-with-NULL stays None


def kv_count(oplog: DataFrame) -> int:
    return kv_state(oplog).count()
