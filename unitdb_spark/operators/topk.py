"""Top-K / ranking operators.

The reference's only ranking construct is the newest-first global
sort + limit with per-topic merge (reference: db.go:242-315,
time_window.go:220-330). On Spark both shapes compile to
TakeOrderedAndProject / window + filter — no driver-side loops.

Scale notes: ``orderBy(desc).limit(k)`` becomes per-partition top-K +
a single K-row merge on the driver (TakeOrderedAndProject) — no full
sort, no full shuffle. Per-key top-K shuffles once on the key; for
skewed keys AQE skew-join/salting applies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_key(
    df: DataFrame,
    keys: list[str],
    k: int,
    order: Column | None = None,
    rank_name: str = "rn",
) -> DataFrame:
    """K newest rows per key via row_number over a partitioned window.

    One shuffle on ``keys``; rank column retained (callers may project
    it away). Deterministic given a total ``order``.
    """
    w = Window.partitionBy(*keys).orderBy(order if order is not None else F.desc("seq"))
    return df.withColumn(rank_name, F.row_number().over(w)).filter(F.col(rank_name) <= k)


def topk_per_key_salted(
    df: DataFrame,
    keys: list[str],
    k: int,
    order: list[Column],
    salt: Column,
    n_salts: int = 32,
    rank_name: str = "rn",
) -> DataFrame:
    """Skew-proof per-key top-K: two-stage ranking, the window twin of
    `skew.salted_agg`.

    `topk_per_key`'s single window serializes each key through one
    task — at 100 TB a hot topic's billion rows sort in one reducer.
    Stage 1 ranks within (keys + salt) so the hot key spreads over
    ``n_salts`` tasks and only the per-salt top-K survive; stage 2
    re-ranks the ≤ k·n_salts finalists per key. Identical to the
    single-window top-K when ``order`` is a TOTAL order (the same
    determinism contract `topk_per_key` already documents): the
    global top-K of a key is contained in the union of its per-salt
    top-Ks, whatever the salt assignment.

    ``order`` must be a list of Column sort expressions (e.g.
    ``[F.desc("value"), F.asc("id")]``); ``salt`` any per-row
    deterministic salt (`skew.hash_salt`). Two shuffles, both bounded:
    (keys, salt) carries the data once; the finalist exchange carries
    keys × n_salts × k rows.
    """
    w1 = Window.partitionBy(*keys, "_salt").orderBy(*order)
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn(rank_name, F.row_number().over(w2))
        .filter(F.col(rank_name) <= k)
        .drop("_salt", "_r1")
    )
