"""Skew mitigation: salted two-phase aggregation and salted joins.

AQE's skew-join splitting (enabled in session.py) only covers joins —
a `groupBy` whose key distribution has heavy hitters (one hot topic at
100 TB receiving most of the traffic) still funnels every row of the
hot key through one reducer. The classic fix is salting:

- `salted_agg`: phase 1 groups by (key, salt) so the hot key's rows
  spread over `n_salts` reducers and are partially reduced there;
  phase 2 merges the ≤ n_salts partial rows per key. Works for any
  algebraic aggregate (sum/count/min/max — anything with a merge
  function); the second shuffle carries keys × salts rows, i.e. is
  negligible.
- `replicate_small_for_salted_join`: the matching join-side trick —
  explode the small/dim side once per salt so a salted fact key still
  finds its row. Only needed when AQE is off or the engine predates
  runtime skew handling; kept here so the technique is first-class.

Salt derivation is `pmod(xxhash64(entropy_col), n_salts)` — stable,
JVM-side, and uniform; for rows with no natural entropy column use
`F.rand(seed)` via `random_salt`.

The opposite shape lives here too: `fan_out` spreads an input with too
FEW partitions (one small file = one task) before CPU-bound work.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: (merge_fn_name) for each supported phase-1 aggregate: how phase 2
#: combines partial results. count partials merge by SUM.
_MERGE = {
    "sum": "sum",
    "count": "sum",
    "min": "min",
    "max": "max",
}


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` when it has fewer
    partitions, else return it unchanged.

    CPU-bound work sitting directly on a scan runs one task per input
    split, so a one-file/one-row-group input would run it serially. At
    scale the scan already has enough splits and this is a no-op.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def hash_salt(entropy: Column | str, n_salts: int) -> Column:
    """Deterministic uniform salt in [0, n_salts) from any column with
    per-row entropy (seq, msg_id, ts...)."""
    c = F.col(entropy) if isinstance(entropy, str) else entropy
    return F.pmod(F.xxhash64(c), F.lit(n_salts)).alias("_salt")


def random_salt(n_salts: int, seed: int = 42) -> Column:
    return (F.rand(seed) * n_salts).cast("int").alias("_salt")


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str | Column]],
    salt: Column,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-proof groupBy.

    ``aggs`` maps output column -> (agg_fn, input_col_or_Column) with
    agg_fn in {sum, count, min, max} (pass a decimal-cast Column for
    order-independent exact sums). Phase 1 reduces (keys + salt) partitions —
    the hot key's rows land on n_salts reducers instead of one; phase 2
    merges n_salts partials per key. Equivalent to
    ``df.groupBy(keys).agg(...)`` for these algebraic functions.
    """
    for fn, _ in aggs.values():
        if fn not in _MERGE:
            raise ValueError(f"salted_agg supports {sorted(_MERGE)}; got {fn!r}")
    phase1 = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(
        *[
            getattr(F, fn)(col).alias(f"_p_{out}")
            for out, (fn, col) in aggs.items()
        ]
    )
    return phase1.groupBy(*keys).agg(
        *[
            getattr(F, _MERGE[fn])(f"_p_{out}").alias(out)
            for out, (fn, _) in aggs.items()
        ]
    )


def replicate_small_for_salted_join(
    small: DataFrame, n_salts: int
) -> DataFrame:
    """Cross the small side with salts 0..n_salts-1 (adds `_salt`), so
    `big.withColumn('_salt', hash_salt(...))` joins on keys + _salt
    with the hot key spread across n_salts tasks."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    return small.select("*", salts)
