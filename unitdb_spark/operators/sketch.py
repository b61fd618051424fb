"""Engine-portable distinct-count sketch: K-minimum-values (KMV).

The reference's Varz surface exposes approximate stats; Spark's
``approx_count_distinct`` is a HyperLogLog++ whose register layout is
engine-specific — fine in production, impossible to oracle-check
against another engine. KMV (Bar-Yossef et al. 2002, the bottom-k
sketch) is the portable twin: keep the k smallest hash values of the
distinct inputs; with h_k = the k-th smallest hash normalized to
[0, 1), the estimator (k-1)/h_k is unbiased with relative error
≈ 1/sqrt(k-2). Built on the repo-wide ``md5_int60`` hash, every number
it produces is replayable in any SQL engine — the DuckDB oracle runs
the identical pipeline and hash-matches.

Scale shape: one (keys, value) distinct shuffle + one per-key top-k
window that Spark rewrites to WindowGroupLimit (map-side partial
top-k before the exchange, so the second shuffle carries ≤ k rows per
key per input partition, not the distinct stream). Per-key state is k
longs — mergeable by unioning and re-taking the bottom k, which is
what a 1000-executor rollup wants. For pure speed with no
cross-engine contract, ``approx_count_distinct`` remains the
one-shuffle HLL path (`events_approx_stats`); this operator is the
checkable one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from unitdb_spark.functions.portable_hash import INT60_DENOM, md5_int60


def _bottom_k(
    df: DataFrame, keys: list[str], value_col: str, k: int
) -> DataFrame:
    """The shared bottom-k relation (keys + _h): distinct values, md5
    hashing, WindowGroupLimit cut — `kmv_distinct` summarizes it,
    `kmv_sketch` materializes it; ONE construction so the hash family
    and the cut can never diverge between the two outputs."""
    distinct = (
        df.filter(F.col(value_col).isNotNull())
        .select(*keys, value_col)
        .distinct()
    )
    hashed = distinct.select(
        *keys, md5_int60(F.col(value_col).cast("string")).alias("_h")
    )
    w = Window.partitionBy(*keys).orderBy("_h")
    return hashed.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )


def kmv_distinct(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per ``keys``: bottom-k md5 sketch of distinct ``value_col``.

    Output: keys + (n_kept, kth_hash, kmv_est) where ``n_kept`` is
    min(k, exact distinct), ``kth_hash`` the k-th smallest 60-bit hash
    (integer-exact across engines), and ``kmv_est`` the rounded
    distinct-count estimate — exact when the group holds fewer than k
    distinct values (the sketch has seen them all).
    """
    agg = _bottom_k(df, keys, value_col, k).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("_h").alias("kth_hash"),
    )
    return agg.select(
        *keys, "n_kept", "kth_hash",
        F.round(kmv_estimate("n_kept", "kth_hash", k), 6).alias("kmv_est"),
    )


def kmv_estimate(n_kept_col: str, kth_hash_col: str, k: int):
    """The KMV estimator as ONE pinned IEEE expression — (k-1)/h_k with
    h normalized by 2^60, evaluated as (k-1) * (2^60 / h) in every
    engine (and in the streaming twin) so the doubles are identical."""
    return F.when(
        F.col(n_kept_col) < k, F.col(n_kept_col).cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        * (F.lit(INT60_DENOM) / F.col(kth_hash_col).cast("double"))
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    quantiles: list[float],
    lo: float = 0.0,
    hi: float = 1000.0,
    n_buckets: int = 20,
) -> DataFrame:
    """Approximate quantiles by linear interpolation inside a
    fixed-bucket histogram — the engine-portable counterpart of
    KLL/t-digest (the same estimator a dashboard derives from a
    histogram panel). Fixed boundaries make the sketch mergeable
    (bucket counts add) and SQL-replayable; accuracy is bounded by
    the bucket width, which is the published histogram-sketch
    trade-off.

    est(q) = bucket_lo + (q·N − cum_prev) / n_bucket · width, taken in
    the first bucket whose cumulative count reaches q·N. Every step is
    one IEEE multiply/divide in pinned order — bit-exact across
    engines; the output is rounded to 6 decimals per repo convention.

    Scale shape: one (keys, bucket) partial-agg shuffle (the histogram
    — counts combine map-side), then windows over the tiny histogram
    relation (keys × n_buckets rows), never over events.

    Output: keys + (quantile, n, est_r).
    """
    if not quantiles:
        raise ValueError("histogram_quantiles: need at least one quantile")
    if not all(0.0 < q < 1.0 for q in quantiles):
        raise ValueError("histogram_quantiles: quantiles must be in (0, 1)")
    hist = histogram_counts(df, value_col, keys, lo, hi, n_buckets)
    return quantiles_from_histogram(
        hist, keys, quantiles, lo, hi, n_buckets
    )


def histogram_counts(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    lo: float = 0.0,
    hi: float = 1000.0,
    n_buckets: int = 20,
) -> DataFrame:
    """The fixed-bucket histogram relation (keys, bucket, n_b) —
    `histogram_quantiles`' build stage split out because bucket
    counts are the MERGEABLE state: partitions/days/stream batches
    sum, so a rollup or a streaming twin folds partial histograms
    and finishes through `quantiles_from_histogram` bit-identically
    to the one-shot pass."""
    if n_buckets < 1:
        raise ValueError("histogram_counts: n_buckets must be >= 1")
    if not hi > lo:
        raise ValueError("histogram_counts: need hi > lo (got a degenerate range)")
    width = (hi - lo) / n_buckets
    bucket = F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(0),
        ),
        F.lit(n_buckets - 1),
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_b"))
    )


def quantiles_from_histogram(
    hist: DataFrame,
    keys: list[str],
    quantiles: list[float],
    lo: float = 0.0,
    hi: float = 1000.0,
    n_buckets: int = 20,
) -> DataFrame:
    """`histogram_quantiles`' finish stage over an already-built (or
    merged) histogram relation — the same pinned-order interpolation,
    windows over keys × n_buckets rows only."""
    width = (hi - lo) / n_buckets
    w_cum = Window.partitionBy(*keys).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy(*keys)
    cum = (
        hist.withColumn("cum", F.sum("n_b").over(w_cum))
        .withColumn("cum_prev", F.col("cum") - F.col("n_b"))
        .withColumn("n", F.sum("n_b").over(w_all))
    )
    ex = cum.withColumn(
        "quantile", F.explode(F.array(*[F.lit(float(q)) for q in quantiles]))
    ).withColumn("target", F.col("quantile") * F.col("n").cast("double"))
    # cum is strictly increasing over the buckets present, so
    # cum_prev < target <= cum selects exactly one bucket per quantile
    picked = ex.filter(
        (F.col("cum_prev").cast("double") < F.col("target"))
        & (F.col("target") <= F.col("cum").cast("double"))
    )
    est = (
        F.lit(lo)
        + F.col("bucket").cast("double") * F.lit(width)
        + (F.col("target") - F.col("cum_prev").cast("double"))
        / F.col("n_b").cast("double")
        * F.lit(width)
    )
    return picked.select(
        *keys, "quantile", "n", F.round(est, 6).alias("est_r")
    )


def kmv_sketch(
    df: DataFrame, keys: list[str], value_col: str, k: int = 64
) -> DataFrame:
    """Per-key KMV sketch as a VALUE: the sorted bottom-k distinct
    hash array (``sketch``), not just its summary — the form you
    persist per partition/day and merge later. Same WindowGroupLimit
    cut as ``kmv_distinct``.
    """
    return _bottom_k(df, keys, value_col, k).groupBy(*keys).agg(
        F.array_sort(F.collect_list("_h")).alias("sketch")
    )


def kmv_merge(
    sketches: DataFrame, group_keys: list[str], k: int = 64,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Merge fine-grained KMV sketches up to coarser keys — the
    operation a 1000-executor rollup (or a daily-partition backfill)
    runs instead of rescanning raw data. bottom-k(bottom-k(A) ∪
    bottom-k(B)) = bottom-k(A ∪ B), so the merged summary is bitwise
    the direct sketch over the union (driver-checked:
    `events_kmv_merged` shares the direct sketch's oracle verbatim).

    One aggregation: flatten collected arrays → distinct → sort →
    slice k. collect_list order is nondeterministic, but the
    distinct+sort makes the result order-free. The merged relation is
    sketch-sized (groups × k longs), never data-sized.

    Output: group_keys + (n_kept, kth_hash, kmv_est).
    """
    merged = sketches.groupBy(*group_keys).agg(
        F.slice(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list(sketch_col)))
            ),
            1, k,
        ).alias("_m")
    )
    return merged.select(
        *group_keys,
        F.size("_m").cast("long").alias("n_kept"),
        F.element_at("_m", F.size("_m")).alias("kth_hash"),
    ).select(
        *group_keys, "n_kept", "kth_hash",
        F.round(kmv_estimate("n_kept", "kth_hash", k), 6).alias("kmv_est"),
    )


def kmv_set_algebra(
    sketches: DataFrame,
    key_col: str,
    k: int = 64,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Audience-overlap estimates between every unordered PAIR of keys
    from their KMV sketch VALUES alone — the set-algebra half of the
    bottom-k sketch (Beyer et al. '07): never rescan the raw data to
    ask "how much do the click and purchase audiences overlap?".

    For each pair (a < b):
      - union sketch U = bottom-k(Sa ∪ Sb)   (exact integer set ops —
        bottom-k of a union is computable from the two bottom-k's)
      - n_common = |U ∩ Sa ∩ Sb|, the union minima seen by BOTH sides
      - jaccard_r ≈ J(A, B): n_common / |U|, the classic bottom-k
        Jaccard estimator
      - union_est: the KMV estimator over U (exact when |U| < k)
      - inter_est_r = jaccard · union_est (inclusion-exclusion gives
        the overlap size)

    The input relation is sketch-sized (keys × k longs) — the pair
    join is over sketches, never data, so this costs nothing at any
    data scale. Every integer is exact; the three estimates are
    pinned-order IEEE expressions rounded to 6, SQL-replayable.

    Output: (key_a, key_b, k_union, kth_hash, n_common, jaccard_r,
    union_est_r, inter_est_r).
    """
    a = sketches.select(
        F.col(key_col).alias("key_a"), F.col(sketch_col).alias("_sa")
    )
    b = sketches.select(
        F.col(key_col).alias("key_b"), F.col(sketch_col).alias("_sb")
    )
    pairs = a.join(b, F.col("key_a") < F.col("key_b"))
    u = F.slice(
        F.array_sort(F.array_distinct(F.concat(F.col("_sa"), F.col("_sb")))),
        1,
        k,
    )
    with_u = pairs.select(
        "key_a",
        "key_b",
        F.size(u).cast("long").alias("k_union"),
        F.element_at(u, F.size(u)).alias("kth_hash"),
        F.size(
            F.array_intersect(F.array_intersect(u, F.col("_sa")), F.col("_sb"))
        )
        .cast("long")
        .alias("n_common"),
    )
    union_est = F.when(
        F.col("k_union") < k, F.col("k_union").cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        * (F.lit(INT60_DENOM) / F.col("kth_hash").cast("double"))
    )
    jac = F.col("n_common").cast("double") / F.col("k_union").cast("double")
    return with_u.select(
        "key_a",
        "key_b",
        "k_union",
        "kth_hash",
        "n_common",
        F.round(jac, 6).alias("jaccard_r"),
        F.round(union_est, 6).alias("union_est_r"),
        F.round(jac * union_est, 6).alias("inter_est_r"),
    )


def population_stability(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    keys: list[str],
    lo: float = 0.0,
    hi: float = 1000.0,
    n_buckets: int = 10,
    eps_ppm: int = 100,
) -> DataFrame:
    """Population Stability Index — THE production drift alarm for
    score/feature distributions (PSI < 0.1 stable, 0.1-0.25 watch,
    > 0.25 shifted). Compares df_a (baseline) vs df_b (current) per
    key over fixed buckets:

        PSI = Σ_i (p_i − q_i) · ln(p_i / q_i)

    Cross-engine contract: bucket proportions are exact integer ppm
    (floored), floored to ``eps_ppm`` so empty buckets contribute a
    finite penalty (the standard PSI epsilon, here exact by
    construction); each bucket's term gets one libm ln on identical
    ppm-ratio doubles, round-6, summed as DECIMAL — order-free.

    Fixed boundaries make both histograms mergeable (the same property
    as ``histogram_quantiles``); the PSI itself runs over keys ×
    n_buckets rows, never data-sized relations.

    Output: keys + (n_a, n_b, psi_r).
    """
    if n_buckets < 2:
        raise ValueError("population_stability: need n_buckets >= 2")
    if not hi > lo:
        raise ValueError("population_stability: need hi > lo")
    width = (hi - lo) / n_buckets
    bucket = F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(0),
        ),
        F.lit(n_buckets - 1),
    )

    def hist(df, side):
        return (
            df.filter(F.col(value_col).isNotNull())
            .groupBy(*keys, bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias(f"n_{side}"))
        )

    # dense (key, bucket) grid so empty buckets still pay the epsilon
    grid = (
        df_a.select(*keys).unionByName(df_b.select(*keys)).distinct()
        .crossJoin(
            df_a.sparkSession.range(n_buckets).select(
                F.col("id").cast("int").alias("bucket")
            )
        )
    )
    joined = (
        grid.join(hist(df_a, "a"), [*keys, "bucket"], "left")
        .join(hist(df_b, "b"), [*keys, "bucket"], "left")
        .withColumn("n_a", F.coalesce("n_a", F.lit(0)))
        .withColumn("n_b", F.coalesce("n_b", F.lit(0)))
    )
    w_all = Window.partitionBy(*keys)
    tot_a = F.sum("n_a").over(w_all)
    tot_b = F.sum("n_b").over(w_all)
    p = F.greatest(
        F.floor(F.col("n_a") * F.lit(1_000_000) / F.greatest(tot_a, F.lit(1))),
        F.lit(eps_ppm),
    ).cast("double")
    q = F.greatest(
        F.floor(F.col("n_b") * F.lit(1_000_000) / F.greatest(tot_b, F.lit(1))),
        F.lit(eps_ppm),
    ).cast("double")
    term = F.round(
        ((p - q) / F.lit(1_000_000.0)) * F.log(p / q), 6
    ).cast("decimal(18,6)")
    per_bucket = joined.select(
        *keys, term.alias("_t"), F.col("n_a").alias("_na"),
        F.col("n_b").alias("_nb"),
    )
    return per_bucket.groupBy(*keys).agg(
        F.sum("_na").alias("n_a"),
        F.sum("_nb").alias("n_b"),
        F.sum("_t").cast("double").alias("psi_r"),
    )


# ------------------------------------------------------- portable HLL

HLL_P = 6  #: default precision: m = 64 registers per key
_HLL_ALPHA64 = 0.709  # Flajolet et al. 2007 alpha_m for m = 64
_POW55 = 1 << 55  # 2^55 — the Z-sum integer scale


def hll_registers(
    df: DataFrame, keys: list[str], value_col: str, p: int = HLL_P
) -> DataFrame:
    """Per (keys, register): the max leading-zero rank — the
    ENGINE-PORTABLE HyperLogLog register relation (Flajolet, Fusy,
    Gandouet & Meunier 2007) built on the repo-wide md5 hash, so any
    SQL engine replays it bitwise (unlike ``approx_count_distinct``'s
    engine-private HLL++ layout).

    Register index = the top ``p`` bits of the 60-bit hash; rank rho =
    1 + leading zeros of the remaining ``60-p`` bits (an empty
    remainder ranks 61-p). bit_length via length(bin(x)) — Spark and
    DuckDB agree on minimal binary strings — keeps the whole relation
    in exact integers.

    The register relation IS the mergeable state (MAX per register):
    executors combine map-side, days union and re-MAX, and the
    streaming twin folds the same max in Spark's state store — the
    property HLL is famous for, kept SQL-checkable.

    Output: keys + (reg int, rho int). Scale: one distinct shuffle +
    one (keys, reg) max agg — ≤ 2^p rows of state per key.
    """
    distinct = df.select(*keys, value_col).distinct()
    return (
        hll_ranks(distinct, keys, value_col, p)
        .groupBy(*keys, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_ranks(
    df: DataFrame, keys: list[str], value_col: str, p: int = HLL_P
) -> DataFrame:
    """keys + (reg, rho) for every row whose ``value_col`` is not null:
    the per-value input of `hll_registers`' MAX. A duplicate value
    repeats its (reg, rho), so the MAX needs no distinct — which lets
    a stream feed it to one streaming aggregation."""
    rem_bits = 60 - p
    hashed = df.filter(F.col(value_col).isNotNull()).select(
        *keys, md5_int60(F.col(value_col).cast("string")).alias("_h")
    )
    rem = F.col("_h") % F.lit(1 << rem_bits)
    return hashed.select(
        *keys,
        # integer div — a double route would round: _h has 60 bits
        F.expr(f"_h div {1 << rem_bits}").cast("long").alias("reg"),
        F.when(rem == 0, F.lit(rem_bits + 1))
        .otherwise(F.lit(rem_bits + 1) - F.length(F.expr(f"bin(_h % {1 << rem_bits})")))
        .cast("int")
        .alias("rho"),
    )


def hll_estimate_from_registers(
    regs: DataFrame, keys: list[str], p: int = HLL_P
) -> DataFrame:
    """Fold a register relation into the raw HLL estimate.

    The harmonic mean stays INTEGER until the single pinned float:
    z_scaled = sum over all m registers of 2^(55 - rho) (untouched
    registers contribute 2^55 each) is an exact BIGINT (m·2^55 <
    2^61), and hll_raw_est = round(alpha_m · m² · 2^55 / z_scaled, 6)
    is one pinned IEEE division. NO small/large-range corrections:
    they need ln(), a transcendental the cross-engine exactness
    contract forbids — the small range belongs to the KMV sketch
    (`kmv_distinct`, exact below k), which is why the two sketches
    ship together.

    Output: keys + (n_regs_set, z_scaled, hll_raw_est).
    """
    m = 1 << p
    if p != 6:
        raise ValueError("alpha is pinned for p=6 (m=64) only")
    agg = regs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_regs_set"),
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), 55 - rho)")
        ).cast("long").alias("_z_set"),
    )
    z = (
        F.col("_z_set")
        + (F.lit(m) - F.col("n_regs_set")) * F.lit(_POW55)
    ).cast("long")
    return agg.select(
        *keys,
        "n_regs_set",
        z.alias("z_scaled"),
    ).select(
        *keys,
        "n_regs_set",
        "z_scaled",
        F.round(
            F.lit(_HLL_ALPHA64 * m * m)
            * (F.lit(float(_POW55)) / F.col("z_scaled").cast("double")),
            6,
        ).alias("hll_raw_est"),
    )


def hll_distinct(
    df: DataFrame, keys: list[str], value_col: str, p: int = HLL_P
) -> DataFrame:
    """Per ``keys``: the portable-HLL distinct estimate
    (`hll_registers` folded by `hll_estimate_from_registers`)."""
    return hll_estimate_from_registers(
        hll_registers(df, keys, value_col, p), keys, p
    )


def hll_overlap(
    df: DataFrame, key_col: str, value_col: str, p: int = HLL_P
) -> DataFrame:
    """Pairwise audience overlap between every two key values,
    estimated from HLL registers by inclusion-exclusion — the
    mergeable-state counterpart of `kmv_set_algebra`: the union
    sketch of two keys is the register-wise MAX of their sketches (an
    HLL exactness, not an approximation on top of one), so
    overlap ≈ est(A) + est(B) − est(A∪B).

    Everything up to the three estimates is exact integers (the three
    z-sums); each estimate is the pinned single-division expression,
    and the overlap is one pinned subtraction of the rounded
    estimates. The overlap of small audiences can go NEGATIVE —
    that's the estimator's variance showing, reported honestly (KMV
    gives the exact small-range answer; this is the merge-at-scale
    path).

    Output: (key_a, key_b, est_a, est_b, est_union, overlap_est)
    with key_a < key_b. Scale: |keys|² × 2^p rows of register work —
    control-plane next to the corpus scan that built the registers.
    """
    regs = hll_registers(df, [key_col], value_col, p)
    est = hll_estimate_from_registers(regs, [key_col], p).select(
        F.col(key_col), F.col("hll_raw_est").alias("_e")
    )
    keys = regs.select(F.col(key_col).alias("_k")).distinct()
    pairs = (
        keys.select(F.col("_k").alias("key_a"))
        .join(keys.select(F.col("_k").alias("key_b")))
        .filter(F.col("key_a") < F.col("key_b"))
    )
    both = pairs.join(
        regs,
        (F.col(key_col) == F.col("key_a"))
        | (F.col(key_col) == F.col("key_b")),
    )
    union_regs = both.groupBy("key_a", "key_b", "reg").agg(
        F.max("rho").alias("rho")
    )
    union_est = hll_estimate_from_registers(
        union_regs, ["key_a", "key_b"], p
    ).select("key_a", "key_b", F.col("hll_raw_est").alias("_eu"))
    return (
        union_est.join(
            est.select(F.col(key_col).alias("key_a"), F.col("_e").alias("est_a")),
            "key_a",
        )
        .join(
            est.select(F.col(key_col).alias("key_b"), F.col("_e").alias("est_b")),
            "key_b",
        )
        .select(
            "key_a", "key_b", "est_a", "est_b",
            F.col("_eu").alias("est_union"),
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("_eu"), 6
            ).alias("overlap_est"),
        )
    )


def mg_summary(
    counts: DataFrame,
    part_col: str,
    item_col: str,
    count_col: str,
    k: int = 16,
) -> DataFrame:
    """Misra-Gries heavy-hitter summary per partition unit — from
    EXACT per-(partition, item) counts, the order-free canonical form
    the mergeable-summaries literature uses (Agarwal et al. '12,
    MERGEABLE SUMMARIES Lemma 1): subtract the (k+1)-th largest count
    from every counter and keep the strictly-positive ones (≤ k by
    construction; items tied AT the pivot drop). Counter values are
    LOWER bounds on the true counts, each within n_part/(k+1).

    Output: (part, item, counter) — ≤ k rows per partition unit.

    Scale: one (part)-partitioned rank window over the per-part item
    relation; WindowGroupLimit applies to the rank ≤ k+1 cut.
    """
    base = counts.select(
        F.col(part_col).alias("_p"),
        F.col(item_col).alias("_i"),
        F.col(count_col).cast("long").alias("_c"),
    )
    w = Window.partitionBy("_p").orderBy(
        F.col("_c").desc(), F.col("_i").asc()
    )
    ranked = base.withColumn("_rk", F.row_number().over(w))
    pivot = ranked.filter(F.col("_rk") == k + 1).select(
        "_p", F.col("_c").alias("_pv")
    )
    return (
        ranked.filter(F.col("_rk") <= k)
        .join(pivot, "_p", "left")
        .select(
            F.col("_p").alias("part"),
            F.col("_i").alias("item"),
            (F.col("_c") - F.coalesce(F.col("_pv"), F.lit(0)))
            .alias("counter"),
        )
        .filter(F.col("counter") > 0)
    )


def mg_merge(summaries: DataFrame, k: int = 16) -> DataFrame:
    """Merge Misra-Gries summaries across partition units: sum
    counters per item, then apply the same subtract-(k+1)-th-largest
    rule once more (the Agarwal merge — per-item cumulative error
    stays ≤ n_total/(k+1) however many summaries fold in, which is
    exactly what a 1000-executor per-day rollup needs).

    Input: the `mg_summary` relation (part, item, counter). Output:
    (item, mg_est) — ≤ k rows, exact integers, deterministic
    (count-desc, item-asc tie-break throughout).

    Scale: the input is ≤ k × parts rows (control-plane); one sum
    agg + one rank over that bounded relation.
    """
    summed = summaries.groupBy("item").agg(
        F.sum("counter").cast("long").alias("_m")
    )
    w = Window.orderBy(F.col("_m").desc(), F.col("item").asc())
    ranked = summed.withColumn("_rk", F.row_number().over(w))
    # always-one-row pivot (NULL when fewer than k+1 items) — a bare
    # cross join against an empty filter would erase the summary
    pivot = ranked.agg(
        F.max(F.when(F.col("_rk") == k + 1, F.col("_m"))).alias("_pv")
    )
    return (
        ranked.filter(F.col("_rk") <= k)
        .join(F.broadcast(pivot), how="cross")
        .select(
            "item",
            (F.col("_m") - F.coalesce(F.col("_pv"), F.lit(0)))
            .alias("mg_est"),
        )
        .filter(F.col("mg_est") > 0)
    )


def histogram_entropy(hist: DataFrame, keys: list[str]) -> DataFrame:
    """Shannon entropy of a fixed-bucket histogram relation
    (keys, bucket, n_b) in EXACT INTEGER micro-log10 units — the
    drift/health readout next to `quantiles_from_histogram`, and a
    third production user of the exactlog primitive: a collapsing
    entropy means the value distribution degenerated (constant
    values, a stuck sensor), a jump means a new mode appeared.

        H = Σ_b (n_b/N)·log10(N/n_b)
          → h_micro = (Σ_b n_b·(µ(N) − µ(n_b))) div N

    with µ = ulog10_micro — every step an exact integer op, so the
    finish replays bit-identically in SQL and over MERGED partial
    histograms (bucket counts are plain sums): a streaming fold of
    the same state hashes equal to the one-shot build by
    construction.

    Output: (*keys, n_buckets, n, h_micro). Empty buckets never
    appear in the relation (groupBy semantics), matching the SQL
    oracle's GROUP BY exactly.

    Scale: the histogram relation is keys × ≤ n_buckets rows — the
    ulog projection layers and the final agg are control-plane cost.
    """
    from unitdb_spark.functions.exactlog import with_ulog10

    tot = hist.groupBy(*keys).agg(
        F.sum("n_b").cast("long").alias("_t"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )
    pairs = with_ulog10(
        hist.join(tot, keys).select(
            *keys,
            F.col("n_b").cast("long").alias("_c"),
            "_t",
            "n_buckets",
        ),
        {"_uc": "_c", "_ut": "_t"},
    )
    return (
        pairs.groupBy(*keys)
        .agg(
            F.first("n_buckets").alias("n_buckets"),
            F.first("_t").alias("n"),
            F.sum(F.col("_c") * (F.col("_ut") - F.col("_uc"))).alias("_s"),
        )
        .select(
            *keys,
            "n_buckets",
            "n",
            # all terms nonneg and n > 0: truncating div is floor
            F.expr("_s div n").cast("long").alias("h_micro"),
        )
    )
