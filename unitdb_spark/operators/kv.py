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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def kv_state(oplog: DataFrame, as_of_order: int | None = None) -> DataFrame:
    """Current (or point-in-time) state: last op per key wins; a
    'delete' winner removes the key (memdb/db.go Get/Delete visibility).

    One shuffle on key; row_number picks the winner.
    """
    log = oplog
    if as_of_order is not None:
        log = log.filter(F.col("op_order") <= as_of_order)
    w = Window.partitionBy("key").orderBy(F.desc("op_order"))
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") == "put"))
        .select("key", "value")
    )


def kv_get(oplog: DataFrame, key: int) -> bytes | None:
    rows = kv_state(oplog.filter(F.col("key") == key)).collect()
    if not rows:
        return None
    v = rows[0]["value"]
    return bytes(v) if v is not None else None  # put-with-NULL stays None


def kv_count(oplog: DataFrame) -> int:
    return kv_state(oplog).count()
