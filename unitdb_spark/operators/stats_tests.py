"""Classical hypothesis tests as single-pass DataFrame aggregations.

The A/B readout (`evaluation.ab_test_report`) covers the two-proportion
case; real experiment review also needs independence checks over
categorical panels (chi-squared), a rank test that survives heavy-tailed
metrics (Mann-Whitney), and a monotone-association measure that ignores
outliers (Spearman). All three reduce to counts, ranks, and exact
integer/DECIMAL moments — no sampling, no scipy.

Cross-engine determinism follows the repo convention: every sum that
crosses rows is an exact integer/DECIMAL aggregate (order-free); each
float statistic is ONE pinned expression over those exact inputs,
rounded to 6 — identical on any IEEE engine.

Reference parity: unitdb itself stops at Varz counters/percentiles
(/root/reference/server/varz.go:140); these are the analytics-surface
extensions SURVEY §2.4 budgets for experiment review.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unitdb_spark.operators.timeseries import count_cells, d38, dense_cells

_PPM = 1_000_000


def rank_table(per_value: DataFrame, value: str, partition=()) -> DataFrame:
    """The distinct-value rank table behind every doubled-midrank
    statistic: ``per_value`` (one row per distinct ``value``, per
    ``partition`` if given, with its row count ``t_v``) plus ``below``,
    the rows strictly before the value in its partition. It is one
    cumulative window over values, not rows, so it stays small where
    values quantize (cents, latencies, the micro grid)."""
    w = (
        Window.partitionBy(*partition)
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return per_value.withColumn(
        "below", F.coalesce(F.sum("t_v").over(w), F.lit(0))
    )


def rank2() -> Column:
    """Twice the midrank of a `rank_table` row: a tie group covers
    ranks below+1 .. below+t_v, so 2·midrank = 2·below + t_v + 1, an
    exact integer, and every rank sum stays exact."""
    return F.lit(2) * F.col("below") + F.col("t_v") + 1


def tie3() -> Column:
    """The tie correction Σ(t³ − t) over a `rank_table`, summed in
    DECIMAL(38,0) (t³ overflows int64 at the billions-of-rows
    envelope)."""
    t = d38(F.col("t_v"))
    return F.sum(t * t * t - t)


def chi_square_independence(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """One-row chi-squared test of independence over two categoricals.

    The contingency table is a grouped count; absent cells still carry
    their full expected mass, so the level cross-product is rebuilt
    (levels × levels — tiny) and left-joined to the observed counts.
    Per-cell contribution uses the algebraic form

        (o·N − r·c)² / (r·c·N)   ==  (o − e)²/e,  e = r·c/N

    so every operand is an exact integer; the division is ONE pinned
    double expression floored into micro-units (×1e6), and the final
    statistic is the exact BIGINT sum of those per-cell integers —
    order-free, engine-identical.

    Output: (n, r_levels, c_levels, dof, chi2_micro).

    Scale: one shuffle on (row, col) for the cell counts; totals are
    windows over the cells relation (levels², not rows). Integer
    envelope: o·N must fit the double's exact-integer range before the
    pinned division — fine up to ~9·10¹⁵ products; past that, cast the
    products to DECIMAL(38,0) first (same pinned shape).

    NULL contract (same as the sibling tests): rows where either
    category is NULL are excluded up front. Without the filter a NULL
    level survives groupBy but never matches the null-unsafe [r, c]
    rebuild join, so its observed mass silently coalesces to 0 (or
    divides by a zero row/col total under ANSI). Callers that want
    NULL as a real level must map it to a sentinel first.
    """
    cells = (
        df.select(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
        .filter(F.col("r").isNotNull() & F.col("c").isNotNull())
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    # full level cross-product so zero-observed cells contribute e
    full = (
        cells.select("r").distinct()
        .crossJoin(cells.select("c").distinct())
        .join(cells, ["r", "c"], "left")
        .select("r", "c", F.coalesce("o", F.lit(0)).alias("o"))
    )
    wr = Window.partitionBy("r")
    wc = Window.partitionBy("c")
    wall = Window.partitionBy()
    t = full.select(
        "r", "c", "o",
        F.sum("o").over(wr).alias("rt"),
        F.sum("o").over(wc).alias("ct"),
        F.sum("o").over(wall).alias("nn"),
    )
    num = (
        F.col("o").cast("double") * F.col("nn").cast("double")
        - F.col("rt").cast("double") * F.col("ct").cast("double")
    )
    den = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        * F.col("nn").cast("double")
    )
    contrib = F.floor(num * num * F.lit(float(_PPM)) / den).cast("long")
    per_cell = t.select(
        "r", "c", "nn", contrib.alias("contrib_micro")
    )
    return per_cell.agg(
        F.max("nn").cast("long").alias("n"),
        F.countDistinct("r").cast("long").alias("r_levels"),
        F.countDistinct("c").cast("long").alias("c_levels"),
        (
            (F.countDistinct("r") - 1) * (F.countDistinct("c") - 1)
        ).cast("long").alias("dof"),
        F.sum("contrib_micro").cast("long").alias("chi2_micro"),
    )


def mann_whitney_u(
    df: DataFrame, value_col: str, arm_col
) -> DataFrame:
    """One-row Mann-Whitney U (rank-sum) test between two arms.

    The nonparametric cousin of the A/B readout: compares the full
    value DISTRIBUTIONS, so a heavy-tailed metric (revenue, latency)
    cannot let a handful of whales fake a win. ``arm_col`` is a 0/1
    column (hash-assign units like `ab_test_report`).

    Rank bookkeeping is exact by doubling: the midrank of a tied group
    is (2·below + ties + 1)/2, so TWICE the midrank is an integer —
    every rank sum lives in BIGINT (`u_a2` = 2·U_A). Ranks come from
    one cumulative window over the DISTINCT-value relation (values,
    not rows). The normal-approximation z applies the standard tie
    correction Σ(t³−t) — again an exact integer aggregate — and is
    the single pinned float, NULL when every value ties (variance 0).

    Output: (n_a, n_b, u_a2, z_r).
    """
    base = df.select(
        F.col(value_col).alias("_v"), arm_col.cast("int").alias("_arm")
    ).filter(F.col("_v").isNotNull() & ~F.isnan(F.col("_v").cast("double")))
    per_val = base.groupBy("_v").agg(
        F.count(F.when(F.col("_arm") == 0, 1)).alias("na_v"),
        F.count(F.when(F.col("_arm") == 1, 1)).alias("nb_v"),
    ).withColumn("t_v", F.col("na_v") + F.col("nb_v"))
    agg = rank_table(per_val, "_v").agg(
        F.sum("na_v").alias("n_a"),
        F.sum("nb_v").alias("n_b"),
        F.sum(d38(F.col("na_v")) * d38(rank2())).alias("r_a2"),
        tie3().alias("tie3"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    # 2·U_A, exact in DECIMAL; the emitted BIGINT column bounds the
    # OUTPUT envelope at n_a·n_b < 2^63 (~3e9 rows per side) — the
    # accumulation itself can no longer wrap
    u_a2 = F.col("r_a2") - d38(na) * d38(na + 1)
    naD, nbD, nD = (
        na.cast("double"), nb.cast("double"), n.cast("double")
    )
    var = (
        naD * nbD / F.lit(12.0)
        * (
            (nD + F.lit(1.0))
            - F.col("tie3").cast("double") / (nD * (nD - F.lit(1.0)))
        )
    )
    z = (
        (u_a2.cast("double") - naD * nbD)
        / F.lit(2.0)
        / F.sqrt(var)
    )
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        u_a2.cast("long").alias("u_a2"),
        F.when(
            (var > F.lit(0.0)) & (na > 0) & (nb > 0), F.round(z, 6)
        ).alias("z_r"),
    )


def wilcoxon_signed_rank(
    df: DataFrame, diff_col: str
) -> DataFrame:
    """One-row Wilcoxon signed-rank test over precomputed paired
    differences — the PAIRED companion of `mann_whitney_u` (Wilcoxon
    1945): each unit is its own control, so between-unit variance
    cancels and a pre/post effect needs far fewer units than the
    unpaired test.

    Input: one INTEGER difference per unit (compute pre/post in exact
    cents upstream; zero differences drop, the standard treatment).
    Ranks of |d| use the doubled-midrank trick (2·below + t + 1 — an
    exact integer), so w_plus2 = 2·W+ and w_minus2 = 2·W− are BIGINT
    with w_plus2 + w_minus2 = 2·n(n+1)/2 by construction. The
    normal-approximation z applies the tie correction Σ(t³−t) and is
    the single pinned float: z = (w_plus2 − n(n+1)/2) /
    sqrt((2·n(n+1)(2n+1) − tie3) / 12).

    Output: (n, w_plus2, w_minus2, z_r) — z NULL when n = 0 or every
    |d| ties into zero variance.
    """
    base = df.select(F.col(diff_col).cast("long").alias("_d")).filter(
        F.col("_d").isNotNull() & (F.col("_d") != 0)
    )
    per = base.groupBy(F.abs(F.col("_d")).alias("_a")).agg(
        F.count(F.when(F.col("_d") > 0, 1)).alias("np_v"),
        F.count(F.when(F.col("_d") < 0, 1)).alias("nn_v"),
    ).withColumn("t_v", F.col("np_v") + F.col("nn_v"))
    agg = rank_table(per, "_a").agg(
        F.sum("t_v").alias("n"),
        F.sum(d38(F.col("np_v")) * d38(rank2())).alias("wp2"),
        F.sum(d38(F.col("nn_v")) * d38(rank2())).alias("wm2"),
        tie3().alias("tie3"),
    )
    n = F.col("n")
    inner = (
        F.lit(2).cast("decimal(38,0)") * d38(n) * d38(n + 1)
        * d38(F.lit(2) * n + 1)
        - F.col("tie3")
    )
    z = (
        (
            F.col("wp2").cast("double")
            - n.cast("double") * (n.cast("double") + F.lit(1.0)) / F.lit(2.0)
        )
        / F.sqrt(inner.cast("double") / F.lit(12.0))
    )
    return agg.select(
        F.coalesce(n, F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.col("wp2"), F.lit(0)).cast("long").alias("w_plus2"),
        F.coalesce(F.col("wm2"), F.lit(0)).cast("long").alias("w_minus2"),
        F.when(
            (n > 0) & (inner > 0), F.round(z, 6)
        ).alias("z_r"),
    )


def cliffs_delta(
    df: DataFrame, value_col: str, arm_col
) -> DataFrame:
    """One-row Cliff's delta effect size between two arms — the
    nonparametric "how big, not just how sure" companion of
    `mann_whitney_u` (Cliff 1993): delta = P(a > b) - P(a < b) over
    all cross-arm pairs, scale-free and whale-proof where a mean
    difference is not.

    Exact-integer identity, no new pairwise work: with u_a2 = 2·U_A
    from the MWU machinery (midranks doubled, ties counted half),
    delta = (u_a2 - n_a·n_b) / (n_a·n_b) — rendered in ppm by
    cross-multiplied integer division (Spark `div` / DuckDB `//`,
    floor semantics agree on negatives). The magnitude label uses
    Romano et al. 2006 thresholds (0.147 / 0.33 / 0.474), compared in
    exact ppm — no float ceil knife-edges.

    Output: (n_a, n_b, u_a2, delta_ppm, magnitude).
    """
    base = mann_whitney_u(df, value_col, arm_col)
    delta = F.expr(
        "((u_a2 - n_a * n_b) * 1000000L) div (n_a * n_b)"
    ).cast("long")
    mag = (
        F.when(F.abs(F.col("delta_ppm")) < 147_000, F.lit("negligible"))
        .when(F.abs(F.col("delta_ppm")) < 330_000, F.lit("small"))
        .when(F.abs(F.col("delta_ppm")) < 474_000, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return (
        base.select("n_a", "n_b", "u_a2", delta.alias("delta_ppm"))
        .select("n_a", "n_b", "u_a2", "delta_ppm", mag.alias("magnitude"))
    )


def spearman_corr(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """One-row Spearman rank correlation between two numeric columns.

    Pearson (`olap.correlation_matrix`) answers "linear on the raw
    scale"; Spearman answers "monotone", which is what a curation
    signal audit usually wants (does quality score RANK documents like
    the gold signal does?). Implementation: midranks-doubled (exact
    integers, same trick as `mann_whitney_u`) for each column via one
    cumulative window over its distinct values, then the Pearson
    formula over the integer rank pairs with exact DECIMAL(38,0)
    moments and ONE pinned float finish, round-6, NULL on zero
    variance (a constant column has no rank order).

    Output: (n, rho_r).
    """
    base = df.select(
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).filter(
        F.col("_x").isNotNull() & ~F.isnan("_x")
        & F.col("_y").isNotNull() & ~F.isnan("_y")
    )

    def ranks(col: str, out: str) -> DataFrame:
        per = base.groupBy(col).agg(F.count(F.lit(1)).alias("t_v"))
        return rank_table(per, col).select(col, rank2().alias(out))

    pairs = base.join(ranks("_x", "rx2"), "_x").join(ranks("_y", "ry2"), "_y")
    rx, ry = d38(F.col("rx2")), d38(F.col("ry2"))
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rx).alias("sx"),
        F.sum(ry).alias("sy"),
        F.sum(rx * rx).alias("sxx"),
        F.sum(ry * ry).alias("syy"),
        F.sum(rx * ry).alias("sxy"),
    )
    from unitdb_spark.operators.olap import pinned_pearson

    return m.select(
        F.col("n").cast("long").alias("n"),
        pinned_pearson(
            F.col("n"), F.col("sx"), F.col("sy"),
            F.col("sxx"), F.col("syy"), F.col("sxy"),
        ).alias("rho_r"),
    )


def ks_two_sample(df: DataFrame, value_col: str, arm_col) -> DataFrame:
    """One-row two-sample Kolmogorov-Smirnov distance — the
    distribution-drift test to run between two cohorts or two time
    periods when PSI's fixed binning is too coarse. D = max |ECDF_A −
    ECDF_B| evaluated WITHOUT floats: at each distinct value,

        |cumA·n_b − cumB·n_a|

    is an exact cross-multiplied integer (the ECDF difference times
    n_a·n_b), so the max and its location are engine-exact; d_ppm is
    the single pinned floor at the end. The location reported is the
    SMALLEST value attaining the max (deterministic tie rule).

    Output: (n_a, n_b, d_scaled, d_ppm, ks_at).

    Scale: one value-group agg + one ordered pass over DISTINCT
    values (same envelope as `mann_whitney_u`: pre-quantize metrics
    with ≳1e8 distinct values). Integer envelope: cum·n must stay in
    BIGINT — n_a·n_b < 9·10¹⁸, i.e. ~3·10⁹ rows per side.
    """
    base = df.select(
        F.col(value_col).alias("_v"), arm_col.cast("int").alias("_arm")
    ).filter(
        F.col("_v").isNotNull() & ~F.isnan(F.col("_v").cast("double"))
    )
    per = base.groupBy("_v").agg(
        F.count(F.when(F.col("_arm") == 0, 1)).alias("na_v"),
        F.count(F.when(F.col("_arm") == 1, 1)).alias("nb_v"),
    )
    w = (
        Window.partitionBy()
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy()
    cum = per.select(
        "_v",
        F.sum("na_v").over(w).alias("ca"),
        F.sum("nb_v").over(w).alias("cb"),
        F.sum("na_v").over(wall).alias("n_a"),
        F.sum("nb_v").over(wall).alias("n_b"),
    )
    # cross-multiplied ECDF difference in DECIMAL(38,0): int64 would
    # wrap silently past ~3e9 rows per side (Spark) or raise (DuckDB)
    d = F.abs(
        d38(F.col("ca")) * d38(F.col("n_b"))
        - d38(F.col("cb")) * d38(F.col("n_a"))
    )
    scored = cum.select(
        "n_a", "n_b", d.alias("_d"), F.col("_v").cast("double").alias("_vd")
    )
    agg = scored.groupBy("n_a", "n_b").agg(
        F.max("_d").alias("d_scaled"),
        # smallest value attaining the max: max over (d, -v) then negate
        (-F.max(F.struct(F.col("_d").alias("d"),
                         (-F.col("_vd")).alias("nv")))["nv"]).alias("ks_at"),
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("d_scaled").cast("long").alias("d_scaled"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            # pinned DOUBLE ratio — doubles cannot wrap, and both
            # engines evaluate the identical expression
            F.floor(
                F.col("d_scaled").cast("double") * F.lit(1_000_000.0)
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ),
        ).cast("long").alias("d_ppm"),
        "ks_at",
    )


def pettitt_test(
    df: DataFrame, ts_col: str, value_col: str, order_cols=None
) -> DataFrame:
    """One-row Pettitt changepoint test: the rank-based detector for a
    single unknown shift in a series — the complement of the CUSUM
    chart, which needs a KNOWN target mean. Using doubled midranks
    (exact integers, the `mann_whitney_u` trick),

        U_t = Σ_{i≤t} rank2ᵢ − t·(n+1)

    is exact BIGINT at every prefix t; the statistic K = max|U_t| and
    its location (earliest time attaining the max) are engine-exact
    with no floats anywhere.

    Output: (n, k_stat, t_at_s) — the changepoint as epoch seconds of
    the LAST observation of the left segment.

    Scale: one value-group pass for ranks (distinct-value envelope as
    `mann_whitney_u`) + one time-ordered cumulative window (global —
    a single series by construction; partition upstream to test many
    keys).
    """
    order_cols = order_cols or []
    base = df.select(
        F.col(ts_col).cast("timestamp").alias("_ts"),
        F.col(value_col).cast("double").alias("_v"),
        *[F.col(c) for c in order_cols],
    ).filter(F.col("_v").isNotNull() & ~F.isnan("_v"))
    per = base.groupBy("_v").agg(F.count(F.lit(1)).alias("t_v"))
    ranks = rank_table(per, "_v").select("_v", rank2().alias("r2"))
    wt = Window.partitionBy().orderBy("_ts", *order_cols)
    wn = Window.partitionBy()
    seq = base.join(ranks, "_v").select(
        "_ts",
        F.sum("r2").over(
            wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_cum"),
        F.row_number().over(wt).alias("_t"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    # U_t in doubled units: Σ r2 − t·(n+1); |U| max, earliest ts tie
    # rule. The final shape is stats × best (global aggregates, one
    # row each) so the ONE-ROW output contract holds even when the
    # t < n filter empties the prefix relation (n ≤ 1, all-NULL
    # input): n still reports, k_stat/t_at_s read NULL (the test is
    # undefined on a 0/1-point series, not absent).
    u = F.col("_cum") - F.col("_t") * (F.col("_n") + 1)
    scored = seq.select(
        F.abs(u).alias("_au"),
        F.unix_micros(F.col("_ts")).alias("_us"),
    ).filter(F.col("_t") < F.col("_n"))  # t = n gives U_n = 0 trivially
    stats = seq.agg(
        F.coalesce(F.max("_n"), F.lit(0)).cast("long").alias("n")
    )
    best = scored.agg(
        F.max("_au").alias("k_stat"),
        (-F.max(F.struct(F.col("_au").alias("a"),
                         (-F.col("_us")).alias("nu")))["nu"]).alias("_at_us"),
    )
    return stats.join(best).select(
        "n",
        F.col("k_stat").cast("long").alias("k_stat"),
        F.floor(F.col("_at_us") / F.lit(1_000_000)).cast("long")
        .alias("t_at_s"),
    )


def mann_kendall(
    cells: DataFrame,
    key_col: str,
    t_col: str = "t",
    y_col: str = "y",
) -> DataFrame:
    """Per-key Mann-Kendall monotone-trend test (Mann '45, Kendall
    '75) — the nonparametric "is this series drifting?" detector that
    complements Pettitt (single SHIFT) and the Holt family (trend
    MAGNITUDE): it answers significance with no distribution or
    linearity assumption, which is the triage question over thousands
    of metric series.

        S      = Σ_{i<j} sign(y_j − y_i)               (by t order)
        Var(S) = [n(n−1)(2n+5) − Σ_g g(g−1)(2g+5)] / 18

    with g ranging over tie-group sizes of y. Everything is exact
    integer: S is a BIGINT sum of signs, ``var18`` keeps Var×18 so
    the tie correction never divides, and the α=0.05 two-sided
    decision (|z| > 1.96 with the standard ±1 continuity correction)
    is the cross-multiplied integer test

        180000·(|S|−1)² > 38416·var18        (1.96² = 38416/10⁴,
                                              ×18 both sides)

    lifted to DECIMAL(38,0) so n⁴-sized squares cannot wrap. No float
    exists anywhere — the oracle replays bitwise.

    Input: the CELL relation — one row per (key, t, y) with integer y
    (counts/micro-units), already aggregated upstream, so its size is
    keys × observation span regardless of event volume.

    Output: (key, n, s, var18, trend) with trend ∈ {−1, 0, +1}
    (signed significant direction; 0 = no significant trend, n ≤ 1
    and all-tied series included).

    Scale: the pairwise relation is a per-key self-join — cost
    Σ_k n_k², bounded by the CELL contract (n_k = series length, e.g.
    days), never by event volume; ties and n are single map-side-
    combined aggs. One shuffle on key for the join, one for each agg.
    """
    a = cells.select(
        F.col(key_col).alias("_k"),
        F.col(t_col).alias("_t"),
        F.col(y_col).cast("long").alias("_y"),
    ).filter(F.col("_t").isNotNull() & F.col("_y").isNotNull())
    i, j = a.alias("i"), a.alias("j")
    s_rel = (
        i.join(j, (F.col("i._k") == F.col("j._k"))
               & (F.col("i._t") < F.col("j._t")))
        .groupBy(F.col("i._k").alias("_k"))
        .agg(
            F.sum(F.signum(F.col("j._y") - F.col("i._y")).cast("long"))
            .alias("s")
        )
    )
    n_rel = a.groupBy("_k").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tie_rel = (
        a.groupBy("_k", "_y")
        .agg(F.count(F.lit(1)).cast("long").alias("_g"))
        .groupBy("_k")
        .agg(
            F.sum(
                F.col("_g") * (F.col("_g") - 1) * (2 * F.col("_g") + 5)
            ).cast("long").alias("_tie3")
        )
    )
    out = (
        n_rel.join(tie_rel, "_k")
        .join(s_rel, "_k", "left")
        .select(
            "_k", "n",
            F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("s"),
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("_tie3")
            ).cast("long").alias("var18"),
        )
    )
    m = F.abs(F.col("s")) - 1  # continuity-corrected margin
    sig = (
        (F.col("s") != 0)
        & (F.col("var18") > 0)
        & (
            F.lit(180000).cast("decimal(38,0)")
            * m.cast("decimal(38,0)") * m.cast("decimal(38,0)")
            > F.lit(38416).cast("decimal(38,0)")
            * F.col("var18").cast("decimal(38,0)")
        )
    )
    return out.select(
        F.col("_k").alias(key_col),
        "n", "s", "var18",
        F.when(sig, F.signum(F.col("s")).cast("int"))
        .otherwise(F.lit(0)).alias("trend"),
    )


def jackknife_ratio(
    cells: DataFrame,
    key_col: str,
    num_col: str,
    den_col: str,
) -> DataFrame:
    """Per-key delete-1 jackknife for a RATIO estimator (Quenouille
    '56, Tukey '58) — the standard-error machinery the point
    estimates lack: a ratio of sums (revenue per event, cents per
    order) is a NONLINEAR statistic, so its variance has no closed
    sum form; the jackknife's leave-one-unit-out replicates estimate
    it without distributional assumptions.

    Input: the CELL relation — one row per (key, resampling unit)
    with integer numerator/denominator sums (e.g. per-day cents and
    counts), already aggregated, so its size is keys × units
    regardless of event volume. Units with denominator ≤ 0 are
    excluded (the ratio is undefined there); keys with < 2 usable
    units are dropped (delete-1 needs a remainder).

    Determinism: each leave-one-out ratio is quantized ONCE as
    r_i = floor((Sy−y_i)/(Sx−x_i) · 10⁶) — floor of a pinned double,
    the repo's float→integer idiom — and every cross-row moment after
    that is exact: S1 = Σ r_i (BIGINT), Q2 = Σ r_i² (DECIMAL(38,0)
    lift), and the centered sum-of-squares by the algebraic identity

        Σ (n·r_i − S1)²  =  n²·Q2 − n·S1²            (exact, single
                                                      pass, no join
                                                      back on a mean)

    The jackknife variance  (n−1)/n · Σ(R_i − R̄)²  then comes out of
    ONE pinned float expression: q·(n−1)/n³/10¹², round-6; the
    standard error is its IEEE sqrt (correctly rounded by spec),
    round-6.

    Output: (key, n, sy, sx, r_e6, s1_e6, var_r, se_r) — n usable
    units, total sums, the full-sample ratio in micro-units, the
    LOO-ratio sum in micro-units, jackknife variance and SE of the
    ratio.

    Scale: two map-side-combined aggs on key + one broadcastable join
    of the unit relation against the key totals. The cell contract
    bounds everything by keys × units.
    """
    a = cells.select(
        F.col(key_col).alias("_k"),
        F.col(num_col).cast("long").alias("_y"),
        F.col(den_col).cast("long").alias("_x"),
    ).filter(F.col("_y").isNotNull() & (F.col("_x") > 0))
    g = a.groupBy("_k").agg(
        F.sum("_y").alias("sy"),
        F.sum("_x").alias("sx"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).filter(F.col("n") >= 2)
    loo = a.join(g, "_k").select(
        "_k",
        F.floor(
            (
                (F.col("sy") - F.col("_y")).cast("double")
                / (F.col("sx") - F.col("_x")).cast("double")
            )
            * F.lit(1_000_000.0)
        ).cast("long").alias("_r"),
    )
    stats = loo.groupBy("_k").agg(
        F.sum("_r").cast("long").alias("s1_e6"),
        F.sum(d38(F.col("_r")) * d38(F.col("_r"))).alias("_q2"),
    )
    nd = d38(F.col("n"))
    s1d = d38(F.col("s1_e6"))
    q = nd * nd * F.col("_q2") - nd * s1d * s1d
    inner = (
        q.cast("double")
        * (F.col("n") - 1).cast("double")
        / (
            F.col("n").cast("double")
            * F.col("n").cast("double")
            * F.col("n").cast("double")
        )
        / F.lit(1_000_000_000_000.0)
    )
    return g.join(stats, "_k").select(
        F.col("_k").alias(key_col),
        "n", "sy", "sx",
        F.floor(
            (F.col("sy").cast("double") / F.col("sx").cast("double"))
            * F.lit(1_000_000.0)
        ).cast("long").alias("r_e6"),
        "s1_e6",
        F.round(inner, 6).alias("var_r"),
        F.round(F.sqrt(inner), 6).alias("se_r"),
    )


def cramers_v(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """Cramér's V effect size on top of `chi_square_independence` —
    the answer to the chi-squared test's classic failure mode at
    scale: with millions of rows EVERYTHING is "significant", and V =
    sqrt(χ² / (n·min(r−1, c−1))) ∈ [0, 1] is the sample-size-free
    strength that tells a real association from a χ²-inflated one.

    Rides the χ² operator's exact BIGINT `chi2_micro`; V is ONE
    pinned float over exact inputs (χ²_micro/10⁶ / (n·min), IEEE
    sqrt, round-6), NULL when undefined (n = 0 or a single level on
    either axis).

    Output: (n, r_levels, c_levels, dof, chi2_micro, v_r).
    """
    base = chi_square_independence(df, row_col, col_col)
    mind = F.least(F.col("r_levels") - 1, F.col("c_levels") - 1)
    inner = (
        F.col("chi2_micro").cast("double")
        / F.lit(1_000_000.0)
        / (F.col("n").cast("double") * mind.cast("double"))
    )
    return base.select(
        "n", "r_levels", "c_levels", "dof", "chi2_micro",
        F.when(
            (F.col("n") > 0) & (mind > 0), F.round(F.sqrt(inner), 6)
        ).alias("v_r"),
    )


#: floor(2·ln(40)·1e6) — the Pettitt α=0.05 significance constant for
#: the cross-multiplied integer test (p ≤ α ⟺ 6K²/(n³+n²) ≥ ln(2/α);
#: K is carried DOUBLED, so 6K² = 1.5·K2² and the test becomes
#: 3·K2²·1e6 ≥ LN40_2_E6·(n³+n²)). Computed once here and injected
#: into BOTH engines — the literal-table idiom.
import math as _math

LN40_2_E6 = _math.floor(2 * _math.log(40) * 1_000_000)


def binseg_changepoints(
    cells: DataFrame,
    t_col: str = "t",
    y_col: str = "y",
    min_seg: int = 5,
) -> DataFrame:
    """MULTIPLE changepoints by binary segmentation (Scott & Knott
    '74 scheme) over a single integer series — the recursive upgrade
    of `pettitt_test`, which finds exactly one shift: split at the
    Pettitt point if significant, then test each half once more
    (depth 2 → up to 3 changepoints), the standard triage depth for
    "did this metric shift, and did it shift back?".

    Per segment the statistic is the exact doubled-midrank Pettitt
    machinery (BIGINT U_t prefixes); significance at α = 0.05 uses
    the asymptotic bound p ≈ 2·exp(−6K²/(n³+n²)) CROSS-MULTIPLIED to
    the integer test 3·K2²·10⁶ ≥ LN40_2_E6·(n³+n²) (K2 = doubled K;
    the only non-integer is the module-level literal, injected into
    both engines; the driver-side test runs on Python ints — exact
    at any magnitude — and the oracle lifts to HUGEINT).
    A split must leave ≥ ``min_seg`` observations on each side.

    Output: one row per EVALUATED segment — (seg, lo_t, hi_t, n,
    k2, split_t, significant) with seg ∈ {'root','L','R'}; L/R rows
    exist only when the root split fired. ``split_t`` is the LAST
    observation of the left part (the Pettitt convention).

    Scale: the statistic runs on the CELL relation (a single series
    by construction — the `pettitt_test` contract; the windows are
    the allowlisted tiny-series class). The recursion is a
    fixed-depth driver loop with one 1-row collect per segment
    (bounded control-plane reads, the kmeans-centroid class).
    """
    def seg_stats(df):
        base = df.select(
            F.col(t_col).cast("long").alias("_t"),
            F.col(y_col).cast("long").alias("_y"),
        ).filter(F.col("_t").isNotNull() & F.col("_y").isNotNull())
        per = base.groupBy("_y").agg(F.count(F.lit(1)).alias("t_v"))
        ranks = rank_table(per, "_y").select("_y", rank2().alias("r2"))
        wt = Window.partitionBy().orderBy("_t")
        wn = Window.partitionBy()
        seq = base.join(ranks, "_y").select(
            "_t",
            F.sum("r2").over(
                wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("_cum"),
            F.row_number().over(wt).alias("_i"),
            F.count(F.lit(1)).over(wn).alias("_n"),
        )
        u = F.col("_cum") - F.col("_i") * (F.col("_n") + 1)
        scored = seq.select(
            "_t", "_i", "_n", F.abs(u).alias("_au")
        ).filter(F.col("_i") < F.col("_n"))
        stats = seq.agg(F.coalesce(F.max("_n"), F.lit(0)).alias("n"))
        best = scored.agg(
            F.max("_au").alias("k2"),
            (-F.max(F.struct(F.col("_au").alias("a"),
                             (-F.col("_t")).alias("nt")))["nt"])
            .alias("split_t"),
            (-F.max(F.struct(F.col("_au").alias("a"),
                             (-F.col("_t")).alias("nt2"),
                             F.col("_i").alias("i")))["i"])
            .alias("_neg_i"),
        )
        row = stats.join(best).collect()[0]
        n = int(row["n"])
        if row["k2"] is None:
            return n, 0, None, 0
        # left size = rank index of the split row (earliest argmax)
        return n, int(row["k2"]), int(row["split_t"]), -int(row["_neg_i"])

    def significant(n, k2):
        return (
            n > 0
            and 3 * k2 * k2 * 1_000_000 >= LN40_2_E6 * (n**3 + n * n)
        )

    base = cells.select(
        F.col(t_col).cast("long").alias(t_col),
        F.col(y_col).cast("long").alias(y_col),
    ).filter(F.col(t_col).isNotNull())
    lo_hi = base.agg(
        F.min(t_col).alias("lo"), F.max(t_col).alias("hi")
    ).collect()[0]
    lo, hi = lo_hi["lo"], lo_hi["hi"]
    spark = cells.sparkSession
    out_rows = []
    n0, k20, t0, left_n0 = seg_stats(base)
    sig0 = (
        significant(n0, k20)
        and t0 is not None
        and left_n0 >= min_seg
        and (n0 - left_n0) >= min_seg
    )
    out_rows.append(("root", lo, hi, n0, k20, t0, sig0))
    if sig0:
        for name, seg in (
            ("L", base.filter(F.col(t_col) <= F.lit(t0))),
            ("R", base.filter(F.col(t_col) > F.lit(t0))),
        ):
            n, k2, t, left_n = seg_stats(seg)
            sig = (
                significant(n, k2)
                and t is not None
                and left_n >= min_seg
                and (n - left_n) >= min_seg
            )
            b = seg.agg(
                F.min(t_col).alias("lo"), F.max(t_col).alias("hi")
            ).collect()[0]
            out_rows.append((name, b["lo"], b["hi"], n, k2, t, sig))
    return spark.createDataFrame(
        out_rows,
        "seg string, lo_t long, hi_t long, n long, k2 long, "
        "split_t long, significant boolean",
    )


# chi-squared 0.95 quantiles for dof 1..12, in micro units — computed
# once (Wilson-Hilferty-checked against standard tables) and injected
# as LITERALS into both engines so neither evaluates a transcendental
# (the NDCG-log2 / RRF convention).
LB_CRIT_MICRO = [
    3841459, 5991465, 7814728, 9487729, 11070498, 12591587,
    14067140, 15507313, 16918978, 18307038, 19675138, 21026070,
]


def ljung_box(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    bucket_s: int = 3600,
    lags: int = 12,
) -> DataFrame:
    """Ljung-Box portmanteau white-noise test (Ljung & Box 1978) over
    the densified per-key count series — the missing referee for the
    forecasting family: Holt/Holt-Winters/seasonal-naive all assume
    the series carries autocorrelated structure, and peaks/CUSUM
    assume departures from noise are meaningful; this test says, per
    key, whether the series is distinguishable from white noise AT
    ALL:

        Q = n (n+2) Σ_{k=1..h} ρ_k² / (n − k),   reject if
        Q > χ²_{0.95}(h used)

    Exactness discipline (cross-engine): with the spine count series
    x_t, n = spine length and S = Σx, the CENTERED-SCALED series
    c_t = n·x_t − S is integral (Σc = 0, so ρ_k = Σ c_t c_{t+k} /
    Σ c_t² exactly — the n² scale cancels). Every num_k and den is an
    exact DECIMAL(38,0)/HUGEINT sum (lifted BEFORE multiplying);
    each per-lag term round((num/den)·(num/den)/(n−k), 6) is ONE
    pinned double over exact integers, then an exact micro-unit
    integer; Q = n(n+2)·Σ term_micro lands as the exact integer
    q_micro (n lifted to DECIMAL(20,0)/HUGEINT first — int64 n(n+2)·Σ
    wraps near n ≈ 10⁶ spine cells), compared against the literal
    LB_CRIT_MICRO table — the whole decision is integer arithmetic.

    Keys with a constant series (den = 0: ρ undefined) are excluded;
    lags used = min(lags, n−1) per key (contiguous spine ⇒ lag-k
    pairs exist iff k ≤ n−1).

    Output: (key, n, dof, q_micro, significant), one row per key.

    Scale: the spine is keys × span buckets regardless of event
    volume; ONE partitioned window pass computes all ``lags`` leads;
    the explode fans out lags+1 rows per cell into a map-side-combined
    partial agg. No global window, no driver loop. 100 TB envelope:
    |c| ≤ n·max_count, so den ≤ n³·max_count² — DECIMAL(38,0) holds
    n = 10⁹ spine cells at max_count 10⁶; int64 would wrap at
    n ≈ 10⁵ hours, which is why the lift is not optional.
    """
    return ljungbox_from_cells(
        count_cells(df, key_col, ts_col, bucket_s), "_k", "_h", "_y",
        lags=lags, out_key=key_col,
    )


def _centered_lag_sums(
    cells: DataFrame, key_col: str, h_col: str, y_col: str, lags: int
) -> DataFrame:
    """The lag-product sums shared by Ljung-Box and the ACF. On each
    key's dense spine (n cells, S = Σx) the centered-scaled series
    c_t = n·x_t − S is integral, so num = Σ c_t·c_{t+kk} (kk in
    1..lags) and den = Σ c_t² are exact DECIMAL(38,0) sums. Output:
    (_k, n, kk, num, den); keys with a constant series (den = 0) drop.
    One partitioned window pass computes every lead; lag 0 rides along
    as the denominator."""
    d = dense_cells(cells, key_col, h_col, y_col)
    m = d.groupBy("_k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_y").cast("long").alias("_s"),
    )
    c = d.join(m, "_k").select(
        "_k", "_h", "n",
        d38(d38(F.col("n")) * F.col("_y") - F.col("_s")).alias("_c"),
    )
    wo = Window.partitionBy("_k").orderBy("_h")
    # window exprs can't live under the Generate, so the lead columns
    # materialize first, then the array explodes
    led = c.select(
        "_k", "n", "_c",
        *[F.lead("_c", k).over(wo).alias(f"_l{k}") for k in range(1, lags + 1)],
    )
    prods = led.select(
        "_k", "n",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).alias("kk"),
                    (
                        F.col("_c")
                        * (F.col("_c") if k == 0 else F.col(f"_l{k}"))
                    ).alias("p"),
                )
                for k in range(0, lags + 1)
            ])
        ).alias("kv"),
    ).select("_k", "n", F.col("kv.kk").alias("kk"), F.col("kv.p").alias("p"))
    nums = (
        prods.filter(F.col("p").isNotNull())
        .groupBy("_k", "n", "kk")
        .agg(F.sum("p").alias("num"))
    )
    den = (
        nums.filter(F.col("kk") == 0)
        .select("_k", F.col("num").alias("den"))
        .filter(F.col("den") > 0)
    )
    return nums.filter(F.col("kk") >= 1).join(den, "_k")


def ljungbox_from_cells(
    cells: DataFrame,
    key_col: str,
    h_col: str,
    y_col: str,
    lags: int = 12,
    out_key: str | None = None,
) -> DataFrame:
    """The Ljung-Box finish over an already-aggregated (key,
    bucket-index, count) CELL relation — the shared code path between
    `ljung_box` (batch) and the rolling hourly-cell twin. Cells
    densify onto the contiguous spine, then the exact-moment Q test
    runs per key. See `ljung_box` for semantics."""
    if not 1 <= int(lags) <= len(LB_CRIT_MICRO):
        raise ValueError(
            f"ljung_box: lags must be in 1..{len(LB_CRIT_MICRO)} "
            "(the injected critical-value table)"
        )
    rho_d = F.col("num").cast("double") / F.col("den").cast("double")
    term = F.round(
        rho_d * rho_d / (F.col("n") - F.col("kk")).cast("double"), 6
    ).cast("decimal(18,6)")
    terms = _centered_lag_sums(cells, key_col, h_col, y_col, int(lags)).select(
        "_k", "n", "kk",
        # round-6 decimal → exact integer micro term
        (term * F.lit(1_000_000)).cast("long").alias("tm"),
    )
    crit = F.element_at(
        F.array(*[F.lit(v) for v in LB_CRIT_MICRO]), F.col("dof").cast("int")
    )
    return (
        terms.groupBy("_k", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dof"),
            (
                F.col("n").cast("decimal(20,0)")
                * (F.col("n") + 2)
                * F.sum("tm")
            ).cast("long").alias("q_micro"),
        )
        .select(
            F.col("_k").alias(out_key or key_col), "n", "dof", "q_micro",
            (F.col("q_micro") > crit).alias("significant"),
        )
    )


def permutation_test(
    units: DataFrame,
    value_col: str,
    arm_col: str,
    unit_col: str,
    n_perm: int = 199,
    salt: str = "perm",
) -> DataFrame:
    """Deterministic randomization test (Fisher 1935) for a difference
    in means between two arms — the assumption-free referee behind the
    parametric A/B readout: instead of a normal approximation it asks
    how extreme the OBSERVED mean difference is within the
    re-randomization distribution itself.

    Input: ONE ROW PER UNIT — (unit id, exact integer value, observed
    arm 0/1). Re-randomization r ∈ 1..n_perm reassigns each unit by
    the portable content hash md5(r:unit:salt) % 2 — Bernoulli(1/2),
    the same mechanism that assigned the observed arms, so the
    reference distribution is the actual randomization distribution
    (the classical fixed-margin permutation variant would need a
    corpus-wide sort PER PERMUTATION to deal out exactly n_a labels —
    a non-starter at scale, and the wrong reference when assignment
    was Bernoulli to begin with). Everything is deterministic: same
    data, same salt → same p-value, on any engine.

    Exactness: with per-arm integer sums/counts, |mean_A − mean_B|
    comparisons cross-multiply —

        |s_r·n2_r − t_r·n1_r| · (n_a·n_b)  ≥  |s_a·n_b − s_b·n_a| · (n1_r·n2_r)

    in DECIMAL(38,0)/HUGEINT, so the exceedance count and the
    add-one p-value p = (1 + #exceed)/(#valid + 1) are pure integer
    arithmetic (permutations that land every unit in one arm have no
    statistic and drop out of #valid; at any realistic n that never
    happens). diff_obs_milli is the truncating integer division both
    engines share.

    Output: one row (n_a, n_b, diff_obs_milli, r_used, n_exceed,
    p_micro).

    Scale: ONE explode of the per-unit relation by n_perm feeding a
    map-side-combined (r, arm) aggregate — 2·n_perm partial rows out
    of the shuffle regardless of unit count; the exceedance test runs
    on the n_perm-row relation against a broadcast 1-row observed
    aggregate. Cost is the documented n_perm× fan-out of the
    ALREADY-AGGREGATED unit relation; no global sort, no driver loop.
    """
    from unitdb_spark.functions.portable_hash import md5_int60

    R = int(n_perm)
    if R < 1:
        raise ValueError("permutation_test: n_perm must be >= 1")
    base = units.select(
        F.col(unit_col).cast("string").alias("_u"),
        F.col(value_col).cast("long").alias("_v"),
        F.col(arm_col).cast("int").alias("_a"),
    )
    D = "decimal(38,0)"

    def arm_aggs(arm_expr):
        return [
            F.count(F.when(arm_expr == 0, 1)).cast("long"),
            F.coalesce(
                F.sum(F.when(arm_expr == 0, F.col("_v"))), F.lit(0)
            ).cast("long"),
            F.count(F.when(arm_expr == 1, 1)).cast("long"),
            F.coalesce(
                F.sum(F.when(arm_expr == 1, F.col("_v"))), F.lit(0)
            ).cast("long"),
        ]

    na, sa, nb, sb = arm_aggs(F.col("_a"))
    obs = base.agg(
        na.alias("n_a"), sa.alias("s_a"), nb.alias("n_b"), sb.alias("s_b")
    )
    perm = base.select(
        "_u", "_v",
        F.explode(F.sequence(F.lit(1), F.lit(R))).alias("_r"),
    ).select(
        "_r", "_v",
        (
            md5_int60(
                F.concat_ws(":", F.col("_r"), F.col("_u"), F.lit(salt))
            ) % 2
        ).cast("int").alias("_pa"),
    )
    n1, s1, n2, s2 = arm_aggs(F.col("_pa"))
    by_r = perm.groupBy("_r").agg(
        n1.alias("n1"), s1.alias("s1"), n2.alias("n2"), s2.alias("s2")
    )
    j = by_r.crossJoin(F.broadcast(obs))  # 1-row observed side
    lhs = F.abs(
        F.col("s1").cast(D) * F.col("n2") - F.col("s2").cast(D) * F.col("n1")
    ) * (F.col("n_a").cast(D) * F.col("n_b"))
    rhs = F.abs(
        F.col("s_a").cast(D) * F.col("n_b") - F.col("s_b").cast(D) * F.col("n_a")
    ) * (F.col("n1").cast(D) * F.col("n2"))
    valid = (F.col("n1") > 0) & (F.col("n2") > 0)
    out = j.agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.first(
            (
                (F.col("s_a").cast(D) * F.col("n_b")
                 - F.col("s_b").cast(D) * F.col("n_a"))
                * 1000
            )
        ).alias("_dnum"),
        F.first(F.col("n_a").cast(D) * F.col("n_b")).alias("_dden"),
        F.count(F.when(valid, 1)).cast("long").alias("r_used"),
        F.count(F.when(valid & (lhs >= rhs), 1)).cast("long").alias("n_exceed"),
    )
    return out.select(
        "n_a", "n_b",
        F.expr("CAST(_dnum div _dden AS BIGINT)").alias("diff_obs_milli"),
        "r_used", "n_exceed",
        F.expr(
            "CAST((1 + n_exceed) * 1000000 div (r_used + 1) AS BIGINT)"
        ).alias("p_micro"),
    )


def sprt_decision(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    success,
    p0: float = 0.05,
    p1: float = 0.08,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald's sequential probability ratio test (Wald 1945) per key —
    the SEQUENTIAL decision the fixed-horizon A/B family
    (ab_test_report, permutation_test) cannot give: monitor a
    conversion rate day by day and STOP the moment the evidence
    crosses either boundary, with guaranteed error rates (α, β)
    regardless of when you stop — the peeking problem that invalidates
    repeated z-tests simply does not arise.

    After each day the cumulative log-likelihood ratio for H1: p = p1
    against H0: p = p0 over N trials / K successes is

        LLR = K·ln(p1/p0) + (N−K)·ln((1−p1)/(1−p0))

    accept H1 when LLR ≥ ln((1−β)/α), accept H0 when
    LLR ≤ ln(β/(1−α)), continue otherwise.

    Exactness: the four logs are computed ONCE here and injected as
    integer micro-nat literals into the plan (the NDCG-log2/RRF
    convention — the DuckDB oracle injects the same literals), so the
    running LLR is the exact integer K·l1 + (N−K)·l0 and every
    boundary comparison is integer — no engine evaluates a
    transcendental per row.

    Output per key: (key, n_days, n_end, k_end, llr_end_micro,
    decision 'h1'|'h0'|'continue', cross_day — epoch days of the
    FIRST boundary crossing, NULL while in 'continue').

    Scale: one (key, day) count shuffle; the cumulative window is
    PARTITIONED BY KEY over the day relation (span days, not events);
    the finish is a per-key aggregate. Envelope: K·l1 at 10¹² daily
    successes is ~5·10¹⁷ — inside int64; lift to DECIMAL past that.
    """
    from math import log

    if not (0 < p0 < 1 and 0 < p1 < 1 and p0 != p1):
        raise ValueError("sprt_decision: need 0 < p0 != p1 < 1")
    l1 = round(log(p1 / p0) * 1_000_000)
    l0 = round(log((1 - p1) / (1 - p0)) * 1_000_000)
    la = round(log((1 - beta) / alpha) * 1_000_000)
    lb = round(log(beta / (1 - alpha)) * 1_000_000)
    cells = df.groupBy(
        F.col(key_col).alias("_k"),
        F.unix_date(F.to_date(ts_col)).cast("long").alias("_d"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.count(F.when(success, 1)).cast("long").alias("_s"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.select(
        "_k", "_d",
        F.sum("_n").over(w).alias("N"),
        F.sum("_s").over(w).alias("K"),
    ).select(
        "_k", "_d", "N", "K",
        (
            F.col("K") * F.lit(l1) + (F.col("N") - F.col("K")) * F.lit(l0)
        ).alias("llr"),
    )
    agg = cum.groupBy("_k").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max("N").cast("long").alias("n_end"),
        F.max("K").cast("long").alias("k_end"),
        F.max_by("llr", "_d").cast("long").alias("llr_end_micro"),
        F.min(F.when(F.col("llr") >= F.lit(la), F.col("_d"))).alias("_h1d"),
        F.min(F.when(F.col("llr") <= F.lit(lb), F.col("_d"))).alias("_h0d"),
    )
    h1_wins = F.col("_h1d").isNotNull() & (
        F.col("_h0d").isNull() | (F.col("_h1d") <= F.col("_h0d"))
    )
    h0_wins = F.col("_h0d").isNotNull() & ~h1_wins
    return agg.select(
        F.col("_k").alias(key_col),
        "n_days", "n_end", "k_end", "llr_end_micro",
        F.when(h1_wins, F.lit("h1"))
        .when(h0_wins, F.lit("h0"))
        .otherwise(F.lit("continue")).alias("decision"),
        F.when(h1_wins, F.col("_h1d"))
        .when(h0_wins, F.col("_h0d"))
        .cast("long").alias("cross_day"),
    )


def runs_test(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    bucket_s: int = 3600,
) -> DataFrame:
    """Wald–Wolfowitz runs test per key over the densified count
    spine — the SIGN-PATTERN member of the randomness trio (Ljung-Box
    hears autocorrelation, Fano measures dispersion; this one sees
    structure neither can: a series can pass both and still alternate
    or clump suspiciously around its median).

    The series dichotomizes against its own MEDIAN (the low order
    statistic of the spine counts — exact, row_number-ranked; ties AT
    the median drop, the classical treatment), R = number of
    alternating runs, and

        z = (R − μ_R) / σ_R,   μ_R = 2·n1·n2/n + 1,
        σ_R² = 2·n1·n2·(2·n1·n2 − n) / (n²·(n−1))

    n1/n2/R are exact integer aggregates (runs = 1 + boundary count
    from ONE key-partitioned lag window); z is a single pinned double
    over them, round-6; `nonrandom` compares |z| against the literal
    two-sided 5% quantile. Keys where a side is empty (constant-ish
    series) yield NULL z.

    Output: (key, n, n1, n2, runs, z_r, nonrandom).

    Scale: the spine is keys × span buckets; the median is a
    key-partitioned rank over the spine relation; one lag window for
    the boundaries. Nothing grows with event volume past the first
    count agg.
    """
    return runs_from_cells(
        count_cells(df, key_col, ts_col, bucket_s), "_k", "_h", "_y",
        out_key=key_col,
    )


def runs_from_cells(
    cells: DataFrame,
    key_col: str,
    h_col: str,
    y_col: str,
    out_key: str | None = None,
) -> DataFrame:
    """The runs-test finish over an already-aggregated (key,
    bucket-index, count) CELL relation — shared between `runs_test`
    (batch) and the rolling hourly-cell twin. See `runs_test`."""
    out_key = out_key or key_col
    d = dense_cells(cells, key_col, h_col, y_col)
    # median = lower middle order statistic (rank (n+1) div 2 by value)
    wv = Window.partitionBy("_k").orderBy("_y", "_h")
    ranked = d.select(
        "_k", "_h", "_y", F.row_number().over(wv).alias("_rv"),
        F.count(F.lit(1)).over(Window.partitionBy("_k")).alias("_n"),
    )
    med = ranked.filter(
        F.col("_rv") == F.expr("(_n + 1) div 2")
    ).select("_k", F.col("_y").alias("_med"))
    sides = (
        d.join(med, "_k")
        .filter(F.col("_y") != F.col("_med"))
        .select(
            "_k", "_h",
            (F.col("_y") > F.col("_med")).cast("int").alias("_side"),
        )
    )
    wo = Window.partitionBy("_k").orderBy("_h")
    runs = sides.select(
        "_k", "_side", F.lag("_side").over(wo).alias("_prev")
    ).groupBy("_k").agg(
        F.count(F.when(F.col("_side") == 1, 1)).cast("long").alias("n1"),
        F.count(F.when(F.col("_side") == 0, 1)).cast("long").alias("n2"),
        (
            F.lit(1)
            + F.count(
                F.when(
                    F.col("_prev").isNotNull()
                    & (F.col("_side") != F.col("_prev")),
                    1,
                )
            )
        ).cast("long").alias("runs"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    mu = F.lit(2.0) * n1d * n2d / nd + F.lit(1.0)
    var = (
        F.lit(2.0) * n1d * n2d * (F.lit(2.0) * n1d * n2d - nd)
        / (nd * nd * (nd - F.lit(1.0)))
    )
    z = (F.col("runs").cast("double") - mu) / F.sqrt(var)
    ok = (F.col("n1") > 0) & (F.col("n2") > 0) & (F.col("n1") + F.col("n2") > 1)
    out = runs.select(
        F.col("_k").alias(out_key),
        (F.col("n1") + F.col("n2")).alias("n"),
        "n1", "n2", "runs",
        F.when(ok, F.round(z, 6)).alias("z_r"),
    )
    return out.select(
        "*", (F.abs(F.col("z_r")) > F.lit(1.959964)).alias("nonrandom")
    )


def acf_table(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    bucket_s: int = 3600,
    lags: int = 12,
) -> DataFrame:
    """Per-lag autocorrelation table — the diagnostic VIEW behind
    `ljung_box`'s one-number verdict: which lags carry the structure
    (lag 24 on an hourly spine = daily cycle, lag 1 = momentum).

    Same exactness as Ljung-Box: with the integral centered series
    c_t = n·x_t − S, ρ_k = Σ c_t·c_{t+k} / Σ c_t² is a ratio of exact
    DECIMAL(38,0)/HUGEINT integers, reported as the truncating
    integer division rho_ppm = num·10⁶ div den (both engines truncate
    toward zero, negative lags included). Constant series (den = 0)
    are excluded.

    Output: (key, lag, rho_ppm), lags 1..``lags`` where the spine has
    pairs.

    Scale: identical shape to `ljung_box` — one partitioned window
    pass for all leads, one lag-exploded map-side-combined partial
    agg.
    """
    if not 1 <= int(lags) <= 48:
        raise ValueError("acf_table: lags must be in 1..48")
    return acf_from_cells(
        count_cells(df, key_col, ts_col, bucket_s), "_k", "_h", "_y",
        lags=lags, out_key=key_col,
    )


def acf_from_cells(
    cells: DataFrame,
    key_col: str,
    h_col: str,
    y_col: str,
    lags: int = 12,
    out_key: str | None = None,
) -> DataFrame:
    """The ACF finish over an already-aggregated (key, bucket-index,
    count) CELL relation — shared between `acf_table` (batch) and the
    rolling hourly-cell twin. See `acf_table`."""
    return _centered_lag_sums(cells, key_col, h_col, y_col, int(lags)).select(
        F.col("_k").alias(out_key or key_col),
        F.col("kk").cast("int").alias("lag"),
        F.expr("CAST((num * 1000000) div den AS BIGINT)").alias("rho_ppm"),
    )


def seasonal_mann_kendall(
    cells: DataFrame,
    key_col: str,
    season_col: str,
    t_col: str = "t",
    y_col: str = "y",
) -> DataFrame:
    """Seasonal Mann-Kendall trend test (Hirsch & Slack 1984): the
    plain MK test reads a weekly cycle as tie-breaking noise (or
    worse, as trend when the span ends mid-cycle); the seasonal
    variant compares each season ONLY with itself — Mondays with
    Mondays — and pools the evidence:

        S' = Sum_m S_m,   Var'(S)*18 = Sum_m var18_m

    then applies the same cross-multiplied integer decision as
    `mann_kendall` (continuity-corrected |z| > 1.96). Implementation
    IS `mann_kendall` run on the composite (key, season) series —
    one code path, one set of exactness guarantees — followed by a
    per-key pooled aggregate. The composite key uses the unit
    separator \\x1f; a key value containing the separator would
    silently mis-split and pool evidence under a truncated key, so
    the select RAISES on such keys (callers with binary keys should
    pre-encode) — the guard is a per-row contains() in the same
    projection, free next to the pairwise work downstream.

    Output: (key, n_seasons, n, s, var18, trend in {-1, 0, +1}).

    Scale: identical to mann_kendall with the pairwise cost now
    Sum_{k,m} n_{k,m}^2 — the seasonal split SHRINKS the quadratic
    term (a 7-season split cuts it ~7x).
    """
    SEP = "\x1f"
    key_s = F.col(key_col).cast("string")
    guarded_key = F.when(
        key_s.contains(SEP),
        F.raise_error(
            F.concat(
                F.lit(
                    "seasonal_mann_kendall: key value contains the "
                    "\\x1f composite separator (pre-encode such "
                    "keys): "
                ),
                key_s,
            )
        ),
    ).otherwise(key_s)
    comp = cells.select(
        F.concat_ws(
            SEP,
            guarded_key,
            F.col(season_col).cast("string"),
        ).alias("_ck"),
        F.col(t_col).alias("_t"),
        F.col(y_col).alias("_y"),
    )
    per = mann_kendall(comp, "_ck", "_t", "_y").select(
        F.substring_index(F.col("_ck"), SEP, 1).alias("_k"),
        "n", "s", "var18",
    )
    pooled = per.groupBy("_k").agg(
        F.count(F.lit(1)).cast("long").alias("n_seasons"),
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("long").alias("s"),
        F.sum("var18").cast("long").alias("var18"),
    )
    sig = (
        (F.col("s") != 0)
        & (F.col("var18") > 0)
        & (
            F.lit(180000).cast("decimal(38,0)")
            * d38(F.abs(F.col("s")) - 1)
            * d38(F.abs(F.col("s")) - 1)
            > F.lit(38416).cast("decimal(38,0)") * d38(F.col("var18"))
        )
    )
    return pooled.select(
        F.col("_k").alias(key_col), "n_seasons", "n", "s", "var18",
        F.when(sig & (F.col("s") > 0), F.lit(1))
        .when(sig & (F.col("s") < 0), F.lit(-1))
        .otherwise(F.lit(0)).cast("int").alias("trend"),
    )


def theil_sen(
    cells: DataFrame,
    key_col: str,
    t_col: str = "t",
    y_col: str = "y",
) -> DataFrame:
    """Theil-Sen slope per key — the robust MAGNITUDE companion to
    `mann_kendall`'s direction verdict: the median of all pairwise
    slopes (y_j − y_i)/(t_j − t_i), immune to outliers that wreck an
    OLS fit (breakdown point ~29%).

    Determinism: each pairwise slope is ONE pinned double over exact
    integer differences; the median is the lower-middle order
    statistic by (slope, dy, dt) — the integer tie-breakers make the
    row_number pick stable even among bit-identical slopes. Output
    slope round-6.

    Output: (key, n_obs, n_pairs, sen_slope_r).

    Scale: the pairwise relation is the same per-key self-join as
    mann_kendall — cost Σ_k n_k², bounded by the CELL contract
    (days, not events); the median is a key-partitioned rank window
    over the pairs relation.
    """
    b = cells.select(
        F.col(key_col).alias("_k"),
        F.col(t_col).cast("long").alias("_t"),
        F.col(y_col).cast("long").alias("_y"),
    )
    i = b.select("_k", F.col("_t").alias("_ti"), F.col("_y").alias("_yi"))
    j = b.select("_k", F.col("_t").alias("_tj"), F.col("_y").alias("_yj"))
    pairs = i.join(j, "_k").filter(F.col("_ti") < F.col("_tj")).select(
        "_k",
        (F.col("_yj") - F.col("_yi")).alias("_dy"),
        (F.col("_tj") - F.col("_ti")).alias("_dt"),
    ).select(
        "_k", "_dy", "_dt",
        (F.col("_dy").cast("double") / F.col("_dt").cast("double"))
        .alias("_sl"),
    )
    w = Window.partitionBy("_k").orderBy("_sl", "_dy", "_dt")
    ranked = pairs.select(
        "_k", "_sl",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("_k")).alias("_np"),
    )
    med = ranked.filter(
        F.col("_rn") == F.expr("(_np + 1) div 2")
    ).select("_k", F.col("_sl").alias("_med"), F.col("_np").alias("n_pairs"))
    n_obs = b.groupBy("_k").agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    return n_obs.join(med, "_k", "left").select(
        F.col("_k").alias(key_col), "n_obs",
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
        F.round(F.col("_med"), 6).alias("sen_slope_r"),
    )


def _pooled_rank_sums(
    df: DataFrame, value_col: str, group_col
) -> tuple[DataFrame, DataFrame]:
    """The ranking shared by `kruskal_wallis` and `dunn_posthoc`:
    doubled midranks pooled across all groups, summed per group to
    (_g, n_j, r_j2), beside the one-row (n, tie3) tie term. NULL and
    NaN values drop."""
    base = df.select(
        F.col(value_col).alias("_v"),
        group_col if not isinstance(group_col, str) else F.col(group_col),
    ).toDF("_v", "_g").filter(
        F.col("_v").isNotNull() & ~F.isnan(F.col("_v").cast("double"))
    )
    pv = base.groupBy("_v", "_g").agg(F.count(F.lit(1)).alias("c_vg"))
    per_v = pv.groupBy("_v").agg(F.sum("c_vg").alias("t_v"))
    per_g = (
        pv.join(rank_table(per_v, "_v"), "_v")
        .groupBy("_g")
        .agg(
            F.sum("c_vg").alias("n_j"),
            F.sum(d38(F.col("c_vg")) * d38(rank2())).alias("r_j2"),
        )
    )
    tie = per_v.agg(F.sum("t_v").alias("n"), tie3().alias("tie3"))
    return per_g, tie


def kruskal_wallis(
    df: DataFrame, value_col: str, group_col
) -> DataFrame:
    """One-row Kruskal-Wallis H test across k groups — the k-sample
    generalization of `mann_whitney_u` (Kruskal & Wallis 1952): does
    ANY group's value distribution sit apart, without assuming
    normality or equal variances. The omnibus check to run before
    k·(k-1)/2 pairwise MWU tests inflate the false-positive budget.

    Rank bookkeeping reuses the doubled-midrank trick: one cumulative
    window over the DISTINCT-value relation gives 2·midrank =
    2·below + t + 1 (an exact integer), so every per-group rank sum
    R_j2 = 2·R_j is BIGINT-exact. The statistic is DEFINED in floored
    micro units so the cross-group sum is order-free:

        term_micro_j = (R_j2² · 1e6) div (4 · n_j · N · (N+1))
        h_micro      = 12 · Σ_j term_micro_j − 3 · (N+1) · 1e6

    (the algebraic identity H = 12/(N(N+1)) Σ R_j²/n_j − 3(N+1);
    R_j2² = 4·R_j² cancels the 4· in the divisor, so each term is
    R_j²·1e6/(n_j·N·(N+1)) exactly). The tie correction
    C = 1 − Σ(t³−t)/(N³−N) divides once at the end: h_r =
    h_micro/1e6 · (N³−N)/((N³−N) − tie3) — ONE pinned float
    expression over exact integers, NULL when every value ties.

    Output: (k, n, h_micro, h_r).

    Scale: the window runs over the DISTINCT-value relation (values
    quantize — cents, latencies — so it is bounded far below the row
    count; the MWU argument). Per-term DECIMAL envelope: R_j2² · 1e6
    ≤ 4·N²·n_j²·1e6 stays inside DECIMAL(38,0) to N ~ 1e7 rows per
    group; past that, pre-aggregate rows onto value cells first (the
    midrank math only needs per-value counts).
    """
    per_g, tie = _pooled_rank_sums(df, value_col, group_col)
    terms = per_g.join(F.broadcast(tie)).select(
        "n_j", "n", "tie3",
        F.expr(
            "CAST((CAST(r_j2 AS DECIMAL(38,0)) * r_j2 * 1000000) "
            "div (CAST(4 AS DECIMAL(38,0)) * n_j * n * (n + 1)) "
            "AS BIGINT)"
        ).alias("_tm"),
    )
    agg = terms.groupBy("n", "tie3").agg(
        F.count(F.lit(1)).cast("int").alias("k"),
        (F.lit(12) * F.sum("_tm")
         - F.lit(3) * (F.first("n") + 1) * F.lit(_PPM))
        .cast("long").alias("h_micro"),
    )
    n3n = (
        d38(F.col("n")) * F.col("n") * F.col("n") - F.col("n")
    )
    h = (
        F.col("h_micro").cast("double") / F.lit(1_000_000.0)
        * n3n.cast("double")
        / (n3n - F.col("tie3")).cast("double")
    )
    return agg.select(
        "k",
        F.col("n").cast("long").alias("n"),
        "h_micro",
        F.when(
            (n3n - F.col("tie3")) > 0, F.round(h, 6)
        ).alias("h_r"),
    )


def anova_from_moments(moments: DataFrame) -> DataFrame:
    """Finish a one-way ANOVA from per-group exact integer moments
    (g, n_j, s_j = Σx, q_j = Σx²) — split out so the streaming twin
    can fold mergeable (n, Σx, Σx²) cells into the SAME finisher
    (`streaming twin` pattern: partial sums are order-free, so the
    folded state equals the one-shot aggregation bitwise).

    Sums of squares are DEFINED in floored micro units so every
    cross-group sum is order-free integer arithmetic:

        ssb_term_j = ((s_j·N − S·n_j)² · 1e6) div (n_j · N²)
        sst_micro  = ((Q·N − S²) · 1e6) div N
        ssw_micro  = sst_micro − Σ_j ssb_term_j

    (the textbook SSB_j = n_j(x̄_j − x̄)² with the means cleared to
    integer numerators). The F statistic is ONE pinned float chain
    over those integers: (ssb/(k−1)) / (ssw/(N−k)), round-6, NULL
    when k < 2 or ssw = 0; eta² is an exact integer ppm.

    Output: (k, n, ssb_micro, ssw_micro, sst_micro, f_r, eta2_ppm).

    Scale: k+1 rows after the per-group partial agg — the moment
    relation IS the shuffle payload (three integers per group).
    DECIMAL envelope: (s_j·N − S·n_j)² needs |x|·N ≲ 1e16 in the
    input unit (cents): fine to ~1e11 rows of ~1e5-cent values.
    """
    tot = moments.agg(
        F.count(F.lit(1)).cast("int").alias("k"),
        F.sum("n_j").alias("n"),
        F.sum(d38(F.col("s_j"))).alias("s"),
        F.sum(d38(F.col("q_j"))).alias("q"),
    )
    terms = moments.join(F.broadcast(tot)).select(
        "k", "n", "s", "q",
        F.expr(
            "CAST(((CAST(s_j AS DECIMAL(38,0)) * n - s * n_j) "
            "* (CAST(s_j AS DECIMAL(38,0)) * n - s * n_j) * 1000000) "
            "div (CAST(n_j AS DECIMAL(38,0)) * n * n) AS BIGINT)"
        ).alias("_bt"),
    )
    agg = terms.groupBy("k", "n", "s", "q").agg(
        F.sum("_bt").cast("long").alias("ssb_micro")
    )
    sst = F.expr(
        "CAST(((q * n - s * s) * 1000000) div CAST(n AS DECIMAL(38,0)) "
        "AS BIGINT)"
    )
    out = agg.select(
        "k",
        F.col("n").cast("long").alias("n"),
        "ssb_micro",
        (sst - F.col("ssb_micro")).cast("long").alias("ssw_micro"),
        sst.alias("sst_micro"),
    )
    fstat = (
        F.col("ssb_micro").cast("double")
        / (F.col("k") - 1).cast("double")
        / (
            F.col("ssw_micro").cast("double")
            / (F.col("n") - F.col("k")).cast("double")
        )
    )
    return out.select(
        "k", "n", "ssb_micro", "ssw_micro", "sst_micro",
        F.when(
            (F.col("k") >= 2) & (F.col("n") > F.col("k"))
            & (F.col("ssw_micro") > 0),
            F.round(fstat, 6),
        ).alias("f_r"),
        F.when(
            F.col("sst_micro") > 0,
            F.expr(
                "CAST((CAST(ssb_micro AS DECIMAL(38,0)) * 1000000) "
                "div sst_micro AS BIGINT)"
            ),
        ).cast("long").alias("eta2_ppm"),
    )


def one_way_anova(
    df: DataFrame, value_col, group_col
) -> DataFrame:
    """One-row one-way ANOVA F test across k groups — the parametric
    twin of `kruskal_wallis` (mean separation instead of rank
    separation), and the k-sample generalization of the two-arm mean
    test. ``value_col`` must already be an exact INTEGER unit (cents,
    micro-units — the repo's pre/post convention), so the per-group
    moments (n, Σx, Σx²) accumulate without float error.

    One partial aggregation onto the k-row moment relation, then the
    `anova_from_moments` finisher (shared verbatim with the streaming
    twin). See that docstring for the floored-micro sum-of-squares
    definition and the pinned-float F.

    Output: (k, n, ssb_micro, ssw_micro, sst_micro, f_r, eta2_ppm).

    Scale: map-side combine reduces everything to three integers per
    group before the shuffle — the canonical "partial agg" shape; no
    window, no distinct-value relation (contrast `kruskal_wallis`).
    """
    val = value_col if not isinstance(value_col, str) else F.col(value_col)
    grp = group_col if not isinstance(group_col, str) else F.col(group_col)
    base = df.select(
        val.cast("long").alias("_x"), grp.alias("_g")
    ).filter(F.col("_x").isNotNull())
    moments = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("n_j"),
        F.sum("_x").alias("s_j"),
        F.sum(d38(F.col("_x")) * d38(F.col("_x"))).alias("q_j"),
    )
    return anova_from_moments(moments)


def _friedman_per_treat(
    cells: DataFrame,
    block_col: str,
    treat_col: str,
    value_col: str,
) -> DataFrame:
    """Shared Friedman rank machinery: complete-block filter +
    within-block doubled midranks, aggregated per treatment to
    (_t, r_j2, n_b, r2sq). `friedman_test` finishes it into the
    omnibus Q; `nemenyi_posthoc` into pairwise z's — ONE ranking,
    two finishes (the kruskal/dunn relationship)."""
    k_row = cells.select(F.col(treat_col).alias("_t")).distinct().agg(
        F.count(F.lit(1)).cast("int").alias("k")
    )
    b = cells.select(
        F.col(block_col).alias("_b"),
        F.col(treat_col).alias("_t"),
        F.col(value_col).cast("long").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    complete = (
        b.groupBy("_b").agg(F.count(F.lit(1)).alias("_c"))
        .join(F.broadcast(k_row))
        .filter(F.col("_c") == F.col("k"))
        .select("_b")
    )
    b = b.join(complete, "_b")
    pv = b.groupBy("_b", "_v").agg(F.count(F.lit(1)).alias("t_v"))
    rk = rank_table(pv, "_v", partition=["_b"]).select(
        "_b", "_v", rank2().alias("rank2")
    )
    ranked = b.join(rk, ["_b", "_v"])
    return ranked.groupBy("_t").agg(
        F.sum("rank2").alias("r_j2"),
        F.count(F.lit(1)).alias("n_b"),
        F.sum(d38(F.col("rank2")) * d38(F.col("rank2"))).alias("r2sq"),
    )


def friedman_test(
    cells: DataFrame,
    block_col: str,
    treat_col: str,
    value_col: str,
) -> DataFrame:
    """One-row Friedman test over a blocks × treatments panel
    (Friedman 1937) — the REPEATED-MEASURES cousin of
    `kruskal_wallis`: each block (day, user, site) ranks the k
    treatments internally, so between-block level differences cancel
    exactly the way `wilcoxon_signed_rank` cancels between-unit
    variance for k = 2.

    Input: at most one integer observation per (block, treatment);
    blocks missing any treatment are dropped (complete-block
    contract, enforced here). Within-block doubled midranks make
    every rank an exact integer (2·below + t + 1 over the per-value
    relation INSIDE the block — a block-partitioned window, never
    global). With R_j2 = Σ_blocks 2·rank:

        S2 = Σ_j (R_j2 − n(k+1))²          (expected rank2 = n(k+1))
        D2 = Σ_ij rank2² − n·k·(k+1)²      (tie-corrected denominator)
        Q  = (k−1) · S2 / D2

    — the general tied form (reduces to the textbook
    12/(nk(k+1)) Σ R_j² − 3n(k+1) when no ties). S2 and D2 are exact
    BIGINTs; Q is ONE pinned float division, NULL when every block
    ranks all treatments identically tied (D2 = 0).

    Output: (n_blocks, k, s2, d2, q_r).

    Scale: cost is the CELL relation (blocks × k), not raw rows —
    the upstream aggregation owns the reduction; all windows are
    block-partitioned.
    """
    per_t = _friedman_per_treat(cells, block_col, treat_col, value_col)
    kn = per_t.agg(
        F.count(F.lit(1)).cast("int").alias("k"),
        F.min("n_b").cast("long").alias("n_blocks"),
        F.sum(d38(F.col("r2sq"))).alias("r2sq_tot"),
    )
    s2 = (
        per_t.join(F.broadcast(kn))
        .select(
            "k", "n_blocks", "r2sq_tot",
            (
                (d38(F.col("r_j2"))
                 - d38(F.col("n_blocks")) * (F.col("k") + 1))
                * (d38(F.col("r_j2"))
                   - d38(F.col("n_blocks")) * (F.col("k") + 1))
            ).alias("_sq"),
        )
        .groupBy("k", "n_blocks", "r2sq_tot")
        .agg(F.sum("_sq").alias("s2"))
    )
    d2 = (
        F.col("r2sq_tot")
        - d38(F.col("n_blocks")) * F.col("k")
        * (F.col("k") + 1) * (F.col("k") + 1)
    )
    q = (
        (F.col("k") - 1).cast("double")
        * F.col("s2").cast("double")
        / d2.cast("double")
    )
    return s2.select(
        F.col("n_blocks"),
        "k",
        F.col("s2").cast("long").alias("s2"),
        d2.cast("long").alias("d2"),
        F.when(d2 > 0, F.round(q, 6)).alias("q_r"),
    )


def cochran_q(
    df: DataFrame,
    block_col: str,
    treat_col: str,
    success_col: str,
) -> DataFrame:
    """One-row Cochran's Q test (Cochran 1950) — the BINARY
    repeated-measures member of the family: k treatments judged
    pass/fail by the same n blocks (did the user touch each surface?
    did the filter pass each doc version?). Friedman with 0/1 cells
    degenerates to exactly this, McNemar when k = 2.

    Input: one 0/1 observation per (block, treatment) — build the
    dense grid upstream (absent = 0 rows are part of the contract).
    Blocks with every treatment equal (all 0 or all 1) contribute
    nothing (standard) but are kept in n_blocks; the closed form
    needs no ranks at all:

        Q = (k−1) · (k·ΣC_j² − N²) / (k·N − ΣL_i²)

    with C_j the per-treatment success totals, L_i the per-block
    totals, N = ΣC_j = ΣL_i — every term an exact integer (numerator
    and denominator emitted as BIGINT columns); Q is ONE pinned
    float division, NULL when the denominator is 0 (no discordant
    block anywhere).

    Output: (n_blocks, k, q_num, q_den, q_r).

    Scale: two partial aggregations (per treatment, per block) over
    the cell grid — blocks × k rows, three integers on the wire; no
    window anywhere.
    """
    b = df.select(
        F.col(block_col).alias("_b"),
        F.col(treat_col).alias("_t"),
        F.col(success_col).cast("int").alias("_x"),
    )
    per_t = b.groupBy("_t").agg(F.sum("_x").alias("c_j"))
    per_b = b.groupBy("_b").agg(F.sum("_x").alias("l_i"))
    tt = per_t.agg(
        F.count(F.lit(1)).cast("int").alias("k"),
        F.sum("c_j").alias("n_tot"),
        F.sum(d38(F.col("c_j")) * d38(F.col("c_j"))).alias("c2"),
    )
    bb = per_b.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(d38(F.col("l_i")) * d38(F.col("l_i"))).alias("l2"),
    )
    j = tt.join(F.broadcast(bb))
    num = (
        (F.col("k") - 1).cast("decimal(38,0)")
        * (F.col("k") * F.col("c2")
           - F.col("n_tot").cast("decimal(38,0)") * F.col("n_tot"))
    )
    den = (
        F.col("k").cast("decimal(38,0)") * F.col("n_tot") - F.col("l2")
    )
    q = num.cast("double") / den.cast("double")
    return j.select(
        "n_blocks", "k",
        num.cast("long").alias("q_num"),
        den.cast("long").alias("q_den"),
        F.when(den > 0, F.round(q, 6)).alias("q_r"),
    )


def kendall_tau_b(
    cells: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    t_col: str,
) -> DataFrame:
    """Kendall tau-b between two integer series per key — the
    concordance companion of `spearman_corr` (which prices rank
    DISTANCE, not pair agreement) and the two-variable sibling of
    `mann_kendall` (which IS Kendall of y against time). tau-b
    applies the standard tie corrections in both variables, so
    heavily quantized metrics (counts, cents) don't deflate the
    score.

    Pairwise over the per-key CELL relation (``t_col`` is the unique
    in-key tag — days — so each unordered pair meets exactly once as
    t_i < t_j): concordant / discordant / tie classification is
    exact integer sign arithmetic. With n0 = n(n−1)/2, n1 = x-tied
    pairs, n2 = y-tied pairs:

        tau_b = (C − D) / sqrt((n0 − n1) · (n0 − n2))

    ONE pinned float over six exact integers, NULL when either
    variable is constant (denominator 0).

    Output: (key, n_obs, n_c, n_d, tie_x, tie_y, tau_r).

    Scale: the self-join is the mann_kendall/theil_sen pairwise
    shape — cost Σ_k n_k², bounded by the CELL contract (days per
    key, not events); everything after is one partial agg per key.
    """
    b = cells.select(
        F.col(key_col).alias("_k"),
        F.col(t_col).cast("long").alias("_t"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    i = b.select(
        "_k", F.col("_t").alias("_ti"),
        F.col("_x").alias("_xi"), F.col("_y").alias("_yi"),
    )
    j = b.select(
        "_k", F.col("_t").alias("_tj"),
        F.col("_x").alias("_xj"), F.col("_y").alias("_yj"),
    )
    sx = F.signum((F.col("_xj") - F.col("_xi")).cast("double")).cast("int")
    sy = F.signum((F.col("_yj") - F.col("_yi")).cast("double")).cast("int")
    pairs = (
        i.join(j, "_k")
        .filter(F.col("_ti") < F.col("_tj"))
        .select("_k", (sx * sy).alias("_ss"), sx.alias("_sx"), sy.alias("_sy"))
    )
    agg = pairs.groupBy("_k").agg(
        F.count(F.when(F.col("_ss") > 0, 1)).cast("long").alias("n_c"),
        F.count(F.when(F.col("_ss") < 0, 1)).cast("long").alias("n_d"),
        F.count(F.when(F.col("_sx") == 0, 1)).cast("long").alias("tie_x"),
        F.count(F.when(F.col("_sy") == 0, 1)).cast("long").alias("tie_y"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    n_obs = b.groupBy("_k").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    d0x = F.col("n_pairs") - F.col("tie_x")
    d0y = F.col("n_pairs") - F.col("tie_y")
    tau = (
        (F.col("n_c") - F.col("n_d")).cast("double")
        / F.sqrt(d0x.cast("double") * d0y.cast("double"))
    )
    return (
        n_obs.join(agg, "_k", "left")
        .select(
            F.col("_k").alias(key_col),
            "n_obs",
            F.coalesce(F.col("n_c"), F.lit(0)).cast("long").alias("n_c"),
            F.coalesce(F.col("n_d"), F.lit(0)).cast("long").alias("n_d"),
            F.coalesce(F.col("tie_x"), F.lit(0)).cast("long")
            .alias("tie_x"),
            F.coalesce(F.col("tie_y"), F.lit(0)).cast("long")
            .alias("tie_y"),
            F.when(
                (d0x > 0) & (d0y > 0), F.round(tau, 6)
            ).alias("tau_r"),
        )
    )


def mcnemar_test(
    df: DataFrame, pre_col: str, post_col: str
) -> DataFrame:
    """One-row McNemar test over paired binary outcomes (McNemar
    1947) — the k = 2 binary corner of the family: each unit carries
    a (pre, post) flag pair, and only the DISCORDANT cells move the
    statistic, so concordant mass (users who never convert, users who
    always convert) cancels exactly the way `wilcoxon_signed_rank`
    cancels between-unit levels. `cochran_q` reduces to this at
    k = 2.

        chi = (b − c)² / (b + c)

    with b = #(1→0), c = #(0→1) — exact integers; chi is ONE pinned
    float division, NULL when b + c = 0 (no discordant unit). The
    continuity-corrected variant ((|b−c|−1)²/(b+c)) is deliberately
    not applied — the raw form matches `cochran_q` at k = 2, and the
    correction is a knife-edge convention.

    Output: (n, n_pre, n_post, b, c, chi_r).

    Scale: one aggregation over the unit relation — four counters on
    the wire; no window, no join.
    """
    base = df.select(
        F.col(pre_col).cast("boolean").alias("_a"),
        F.col(post_col).cast("boolean").alias("_b"),
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("_a"), 1)).cast("long").alias("n_pre"),
        F.count(F.when(F.col("_b"), 1)).cast("long").alias("n_post"),
        F.count(F.when(F.col("_a") & ~F.col("_b"), 1)).cast("long")
        .alias("b"),
        F.count(F.when(~F.col("_a") & F.col("_b"), 1)).cast("long")
        .alias("c"),
    )
    num = (F.col("b") - F.col("c")) * (F.col("b") - F.col("c"))
    den = F.col("b") + F.col("c")
    return agg.select(
        "n", "n_pre", "n_post", "b", "c",
        F.when(
            den > 0,
            F.round(num.cast("double") / den.cast("double"), 6),
        ).alias("chi_r"),
    )


def brown_forsythe(
    df: DataFrame, value_col, group_col
) -> DataFrame:
    """One-row Brown-Forsythe test (Brown & Forsythe 1974) for equal
    SPREAD across k groups — the homogeneity-of-variance check that
    gates `one_way_anova`'s equal-variance assumption, in its robust
    median-centered form (the Levene mean-centered variant chases
    outliers; the median variant is the recommended default).

    Per group the center is the LOWER-MIDDLE order statistic
    (rank (n_j+1) div 2 by value — an exact integer, deterministic,
    no interpolation), PRECOMPUTED from the per-(group, distinct
    value) count relation: the cumulative window walks the grouped
    value histogram (value-space sized, map-side combined), never
    the raw rows, and the k medians broadcast-join back. The test is
    then literally `anova_from_moments` over z = |x − med_j| — exact
    integer deviations, so the whole F machinery (floored-micro
    sums of squares, pinned float F, exact eta² ppm) is shared
    verbatim.

    Output: (k, n, ssb_micro, ssw_micro, sst_micro, f_r, eta2_ppm)
    over the deviation variable.

    Scale: two map-side-combined aggregations over the raw rows
    (the (g, x) histogram, then the ANOVA moments) + one
    key-partitioned cumulative window over the distinct-value
    histogram + a k-row broadcast join — no per-row rank window
    anywhere (the round-7 verdict's documented swap, implemented).
    """
    val = value_col if not isinstance(value_col, str) else F.col(value_col)
    grp = group_col if not isinstance(group_col, str) else F.col(group_col)
    base = df.select(
        val.cast("long").alias("_x"), grp.alias("_g")
    ).filter(F.col("_x").isNotNull())
    hist = base.groupBy("_g", "_x").agg(F.count(F.lit(1)).alias("_c"))
    wcum = (
        Window.partitionBy("_g")
        .orderBy("_x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "_g", "_x", "_c",
        F.sum("_c").over(wcum).alias("_ca"),
        F.sum("_c").over(Window.partitionBy("_g")).alias("_nj"),
    )
    # lower-middle rank m = (n_j+1) div 2 lands in the first distinct
    # value whose cumulative count reaches it
    med = cum.filter(
        (F.col("_ca") - F.col("_c") < F.expr("(_nj + 1) div 2"))
        & (F.expr("(_nj + 1) div 2") <= F.col("_ca"))
    ).select(F.col("_g"), F.col("_x").alias("_med"))
    dev = base.join(F.broadcast(med), "_g").select(
        "_g", F.abs(F.col("_x") - F.col("_med")).alias("_z")
    )
    return one_way_anova(dev, F.col("_z"), F.col("_g"))


def dunn_posthoc(
    df: DataFrame, value_col: str, group_col
) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons (Dunn 1964) — the step
    AFTER `kruskal_wallis` rejects: the omnibus says "some group
    differs", Dunn says WHICH pairs, using the POOLED midranks (not
    per-pair re-ranking, which would break the family-wise
    comparability the procedure exists for). Apply your own
    Bonferroni/Holm cut to the emitted z's — the correction is a
    reporting convention, the statistic is not.

    Ranks through `kruskal_wallis`'s own `_pooled_rank_sums`:
    per-(value, group) counts, one cumulative window over the
    DISTINCT-value relation, doubled midranks. For groups i, j the
    mean-rank difference clears to an exact integer numerator:

        num = R_i2·n_j − R_j2·n_i        (mean diff = num/(2·n_i·n_j))
        z   = (num/(2 n_i n_j)) / sqrt((N(N+1)/12 − tie3/(12(N−1)))
                                        · (n_i + n_j)/(n_i·n_j))

    — ONE pinned float chain per pair over exact integers, NULL when
    the variance term is ≤ 0 (every value tied). Pairs ordered
    group_a < group_b.

    Output: (group_a, group_b, n_a, n_b, num2, z_r) — num2 is the
    exact doubled numerator (sign = direction: positive means
    group_a ranks higher).

    Scale: identical to kruskal_wallis plus a k²-row pair join on
    the per-group relation (control-plane).
    """
    per_g, tie = _pooled_rank_sums(df, value_col, group_col)
    a = per_g.select(
        F.col("_g").alias("_ga"), F.col("n_j").alias("_na"),
        F.col("r_j2").alias("_ra"),
    )
    b = per_g.select(
        F.col("_g").alias("_gb"), F.col("n_j").alias("_nb"),
        F.col("r_j2").alias("_rb"),
    )
    # broadcast the (tiny, k-row) right side: the inequality pair join
    # compiles to a nested loop over a broadcast relation, never a
    # partitioned cartesian product
    pairs = (
        a.join(F.broadcast(b), F.col("_ga") < F.col("_gb"))
        .join(F.broadcast(tie))
    )
    num = d38(F.col("_ra")) * F.col("_nb") - d38(F.col("_rb")) * F.col("_na")
    nD = F.col("n").cast("double")
    var = (
        (nD * (nD + F.lit(1.0)) / F.lit(12.0)
         - F.col("tie3").cast("double")
         / (F.lit(12.0) * (nD - F.lit(1.0))))
        * (F.col("_na") + F.col("_nb")).cast("double")
        / (F.col("_na").cast("double") * F.col("_nb").cast("double"))
    )
    z = (
        num.cast("double")
        / (
            F.lit(2.0) * F.col("_na").cast("double")
            * F.col("_nb").cast("double")
        )
        / F.sqrt(var)
    )
    return pairs.select(
        F.col("_ga").alias("group_a"),
        F.col("_gb").alias("group_b"),
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        num.cast("long").alias("num2"),
        F.when(var > 0, F.round(z, 6)).alias("z_r"),
    )


def nemenyi_posthoc(
    cells: DataFrame,
    block_col: str,
    treat_col: str,
    value_col: str,
) -> DataFrame:
    """Nemenyi post-hoc pairwise comparisons after `friedman_test`
    (Nemenyi 1963; the Demšar 2006 protocol for comparing k systems
    over n datasets/blocks): the omnibus says "some treatment
    differs", this says WHICH pairs, from the SAME within-block
    ranks — one ranking, two finishes (`_friedman_per_treat`,
    mirroring the kruskal/dunn relationship).

    With R_j2 = Σ_blocks 2·rank (exact BIGINT) and n complete
    blocks, the pairwise statistic is

        z = ((R_i2 − R_j2)/(2n)) / sqrt(k(k+1)/(6n))

    — diff2 = R_i2 − R_j2 is the exact integer direction/magnitude;
    z is ONE pinned float chain per pair, NULL when n = 0. Compare
    |z| to q_α/√2 (or Bonferroni the normal tail) downstream — the
    cut is a reporting convention, the statistic is not.

    Output: (treat_a, treat_b, n_blocks, diff2, z_r) for
    treat_a < treat_b.

    Scale: the friedman cell machinery + a k²-row broadcast pair
    join (control-plane).
    """
    per_t = _friedman_per_treat(cells, block_col, treat_col, value_col)
    kn = per_t.agg(
        F.count(F.lit(1)).cast("int").alias("k"),
        F.min("n_b").cast("long").alias("n_blocks"),
    )
    a = per_t.select(
        F.col("_t").alias("_ta"), F.col("r_j2").alias("_ra")
    )
    b = per_t.select(
        F.col("_t").alias("_tb"), F.col("r_j2").alias("_rb")
    )
    pairs = (
        a.join(F.broadcast(b), F.col("_ta") < F.col("_tb"))
        .join(F.broadcast(kn))
    )
    diff2 = F.col("_ra") - F.col("_rb")
    nD = F.col("n_blocks").cast("double")
    kD = F.col("k").cast("double")
    z = (
        diff2.cast("double") / (F.lit(2.0) * nD)
        / F.sqrt(kD * (kD + F.lit(1.0)) / (F.lit(6.0) * nD))
    )
    return pairs.select(
        F.col("_ta").alias("treat_a"),
        F.col("_tb").alias("treat_b"),
        "n_blocks",
        diff2.cast("long").alias("diff2"),
        F.when(F.col("n_blocks") > 0, F.round(z, 6)).alias("z_r"),
    )


def _duration_ranks(
    cells: DataFrame, key_col: str, value_col: str
) -> tuple[DataFrame, DataFrame]:
    """The per-key rank table of positive integer durations shared by
    `ks_exponential` and `ad_exponential`: (_k, _v, t_v, below, n, s),
    and the per-key totals (_k, n, s) it joins, n the key's count and
    s its duration sum."""
    b = cells.select(
        F.col(key_col).alias("_k"),
        F.col(value_col).cast("long").alias("_v"),
    ).filter(F.col("_v").isNotNull() & (F.col("_v") > 0))
    per = b.groupBy("_k", "_v").agg(F.count(F.lit(1)).alias("t_v"))
    tot = b.groupBy("_k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_v").alias("s"),
    )
    return rank_table(per, "_v", partition=["_k"]).join(tot, "_k"), tot


def ks_exponential(
    cells: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Per-key Kolmogorov-Smirnov goodness-of-fit of positive integer
    durations against the fitted exponential — the reliability
    question behind `timeseries.burstiness_report`'s B coefficient:
    B says HOW FAR from Poisson, this says whether the memoryless
    model is even tenable (SLA math, MTBF reports, and hazard-rate
    assumptions all quietly assume it).

    λ̂ = n/Σx (the MLE); per DISTINCT duration value the empirical
    CDF brackets [below/n, (below+t)/n] come exact from one
    key-partitioned cumulative window, and the model CDF uses ONE
    round-6 exp per value TYPE (the established per-type
    transcendental contract): F(v) = 1 − exp(−v·n/S). The statistic
    is the max of per-value pinned doubles — max is order-free, so
    no float-sum hazard exists anywhere.

    Output: (key, n, mean_dur, d_r) — d_r = round-6 sup-distance;
    NULL when n = 0.

    Scale: per-key distinct-value relation (durations quantize), one
    window on the key shuffle, one partial agg. The mann_whitney
    bounded-relation argument, per key.
    """
    rk, _ = _duration_ranks(cells, key_col, value_col)
    nD = F.col("n").cast("double")
    fexp = F.lit(1.0) - F.round(
        F.exp(
            -(F.col("_v").cast("double") * nD / F.col("s").cast("double"))
        ),
        6,
    ).cast("decimal(18,6)").cast("double")
    d_plus = (F.col("below") + F.col("t_v")).cast("double") / nD - fexp
    d_minus = fexp - F.col("below").cast("double") / nD
    agg = rk.groupBy("_k").agg(
        F.first("n").alias("n"),
        F.first("s").alias("s"),
        F.max(F.greatest(d_plus, d_minus)).alias("_d"),
    )
    return agg.select(
        F.col("_k").alias(key_col),
        F.col("n").cast("long").alias("n"),
        F.expr("s div n").cast("long").alias("mean_dur"),
        F.when(F.col("n") > 0, F.round(F.col("_d"), 6)).alias("d_r"),
    )


def ad_exponential(
    cells: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Per-key Anderson-Darling goodness-of-fit of positive integer
    durations against the fitted exponential — the TAIL-WEIGHTED
    sibling of `ks_exponential`: KS prices the single worst CDF gap
    (dominated by the body), A² integrates the squared gap with
    1/[F(1−F)] weight, so it catches the too-heavy/too-light TAILS
    that SLA and MTBF math actually die on. Same fitted model
    (λ̂ = n/Σx) and the standard order-statistic form

        A² = −n − (1/n) Σ_i [(2i−1)·ln F(x_(i))
                             + (2(n−i)+1)·ln(1−F(x_(i)))]

    grouped per DISTINCT duration (ties give arithmetic-series
    coefficients: ranks b+1..b+t contribute coefA = t(2b+t) on ln F
    and coefB = t(2n−2b−t) on ln(1−F) — exact integers from the same
    cumulative window as KS).

    Cross-engine contract: u = v·n/S is pure IEEE arithmetic
    (identical both engines); the two transcendental touches quantize
    to integer NANO units (round(exp(−u)·1e9), round(ln(f)·1e9) with
    the PSI-style 1e-9 floor on f so a sub-resolution u never takes
    ln 0), every term is then exact DECIMAL(38,0) and the sum is
    order-free; one pinned round-6 finish. The 1e-9-per-touch
    quantization is the documented convention (error ≤ ~1e-9·n —
    invisible at round-6 through n ≈ 10⁵ per key, stated honestly
    beyond).

    Output: (key, n, mean_dur, a2_r).

    Scale: identical to `ks_exponential` — per-key distinct-value
    relation, one window on the key shuffle, one partial agg.
    """
    rk, tot = _duration_ranks(cells, key_col, value_col)
    # the shared pinned chain (SQL text mirrored by the oracle)
    terms = rk.selectExpr(
        "_k", "n",
        "CAST(_v AS DOUBLE) * CAST(n AS DOUBLE) / CAST(s AS DOUBLE) AS u_d",
        "CAST(t_v AS DECIMAL(38,0)) * (2 * below + t_v) AS coef_a",
        "CAST(t_v AS DECIMAL(38,0)) * (2 * n - 2 * below - t_v) AS coef_b",
    ).selectExpr(
        "_k", "n", "coef_a", "coef_b",
        "CAST(round(exp(-u_d) * 1000000000.0) AS BIGINT) AS e_nano",
        "CAST(round(u_d * 1000000000.0) AS BIGINT) AS u_nano",
    ).selectExpr(
        "_k", "n", "coef_b", "u_nano",
        "coef_a * CAST(round(ln(greatest("
        "CAST(1000000000 - e_nano AS DOUBLE), 1.0) / 1000000000.0)"
        " * 1000000000.0) AS BIGINT) AS term_a",
    ).selectExpr(
        "_k", "n",
        "term_a - coef_b * u_nano AS term",
    )
    agg = terms.groupBy("_k").agg(
        F.first("n").alias("n"),
        F.sum("term").alias("_t"),
    ).join(tot.select("_k", "s"), "_k")
    return agg.selectExpr(
        f"_k AS {key_col}",
        "CAST(n AS BIGINT) AS n",
        "CAST(s div n AS BIGINT) AS mean_dur",
        "round(-CAST(n AS DOUBLE) - (CAST(_t AS DOUBLE) / 1000000000.0)"
        " / CAST(n AS DOUBLE), 6) AS a2_r",
    )


def norm_ppf(p: float) -> float:
    """Inverse standard-normal CDF via Acklam's rational approximation
    (public domain; |relative error| < 1.15e-9 — far inside the
    repo's 6-dp literal convention). Used ONLY at query-build time to
    mint literal z-thresholds; no engine ever evaluates it."""
    import math

    if not 0.0 < p < 1.0:
        raise ValueError("p must be in (0, 1)")
    a = (-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00)
    p_low, p_high = 0.02425, 1 - 0.02425
    if p < p_low:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4])
                * q + c[5]) / ((((d[0] * q + d[1]) * q + d[2]) * q
                                + d[3]) * q + 1)
    if p > p_high:
        q = math.sqrt(-2 * math.log(1 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4])
                 * q + c[5]) / ((((d[0] * q + d[1]) * q + d[2]) * q
                                 + d[3]) * q + 1)
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4])
            * r + a[5]) * q / (((((b[0] * r + b[1]) * r + b[2]) * r
                                 + b[3]) * r + b[4]) * r + 1)


def holm_threshold_case(col: str, alpha: float = 0.05,
                        max_m: int = 45) -> str:
    """The Holm step-down z-threshold lookup as ONE literal CASE
    expression (SQL shared verbatim by Spark and DuckDB — the
    literal-gain-table idiom, so neither engine evaluates an inverse
    normal): thr(c) = Φ⁻¹(1 − alpha/(2c)) rounded to 6 for
    c = 1..max_m, NULL beyond (documented: more than max_m
    simultaneous hypotheses is outside the injected table)."""
    whens = " ".join(
        f"WHEN {col} = {c} THEN "
        f"{round(norm_ppf(1 - alpha / (2 * c)), 6)!r}"
        for c in range(1, max_m + 1)
    )
    return f"CAST(CASE {whens} END AS DOUBLE)"


def dunn_holm(
    df: DataFrame, value_col: str, group_col, alpha: float = 0.05
) -> DataFrame:
    """Holm step-down multiple-comparison decisions over Dunn's
    post-hoc pairs — the round-7 battery's missing LAST step: the
    omnibus (`kruskal_wallis`) says "some group differs", Dunn says
    how strongly per pair, Holm says WHICH pairs survive family-wise
    error control at ``alpha`` (uniformly more powerful than
    Bonferroni, no independence assumption).

    Pairs rank by |z| descending (ties broken (group_a, group_b));
    the i-th ranked pair tests against thr(m − i + 1) =
    Φ⁻¹(1 − α/(2(m−i+1))) from the injected literal table
    (`holm_threshold_case` — both engines compare the SAME 6-dp
    literals against the same pinned round-6 z's, so the decision is
    exact), and step-down rejection is the cumulative AND down the
    ranking (the first non-rejection stops everything after it —
    including every NULL-z untestable pair, which never rejects).

    Output: (group_a, group_b, n_a, n_b, z_r, rank, thr_r, reject).

    Scale: the dunn machinery + three windows over the k²-pair
    relation — control-plane rows however large the corpus.
    """
    pairs = dunn_posthoc(df, value_col, group_col)
    wall = Window.partitionBy()
    wrank = Window.orderBy(
        F.abs(F.col("z_r")).desc_nulls_last(), "group_a", "group_b"
    )
    ranked = pairs.select(
        "group_a", "group_b", "n_a", "n_b", "z_r",
        F.row_number().over(wrank).alias("rank"),
        F.count(F.lit(1)).over(wall).alias("_m"),
    )
    thr = F.expr(holm_threshold_case("_c", alpha=alpha))
    flagged = ranked.withColumn(
        "_c", F.col("_m") - F.col("rank") + 1
    ).withColumn("thr_r", thr).withColumn(
        "_rej",
        F.when(
            F.col("z_r").isNotNull()
            & F.col("thr_r").isNotNull()
            & (F.abs(F.col("z_r")) >= F.col("thr_r")),
            1,
        ).otherwise(0),
    )
    wstep = (
        Window.partitionBy()
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return flagged.select(
        "group_a", "group_b", "n_a", "n_b", "z_r",
        F.col("rank").cast("long").alias("rank"),
        "thr_r",
        (F.min("_rej").over(wstep) == 1).alias("reject"),
    )


def durbin_levinson_steps(lags: int) -> list[tuple[str, str]]:
    """The Durbin-Levinson recursion unrolled as an ordered list of
    (column_name, SQL expression) steps over DOUBLE columns r1..rN —
    the text is shared VERBATIM by the Spark plan (chained
    withColumn) and the DuckDB oracle (chained CTEs), so both engines
    evaluate the same IEEE expression tree and the emitted PACF is
    bitwise identical. Each level-k reflection coefficient:

        phi_k_k = (r_k − Σ_{j<k} phi_{k-1}_j · r_{k−j})
                / (1 − Σ_{j<k} phi_{k-1}_j · r_j)      (NULL on 0 den)
        phi_k_j = phi_{k-1}_j − phi_k_k · phi_{k-1}_{k−j}
    """
    if not 1 <= int(lags) <= 12:
        raise ValueError("durbin_levinson_steps: lags must be in 1..12")
    steps = [("phi_1_1", "r1")]
    for k in range(2, int(lags) + 1):
        num = f"r{k} - (" + " + ".join(
            f"phi_{k - 1}_{j} * r{k - j}" for j in range(1, k)
        ) + ")"
        den = "1 - (" + " + ".join(
            f"phi_{k - 1}_{j} * r{j}" for j in range(1, k)
        ) + ")"
        steps.append(
            (
                f"phi_{k}_{k}",
                f"CASE WHEN ({den}) = 0 THEN NULL "
                f"ELSE ({num}) / ({den}) END",
            )
        )
        for j in range(1, k):
            steps.append(
                (
                    f"phi_{k}_{j}",
                    f"phi_{k - 1}_{j} - phi_{k}_{k} * phi_{k - 1}_{k - j}",
                )
            )
    return steps


def pacf_table(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    bucket_s: int = 3600,
    lags: int = 4,
) -> DataFrame:
    """Per-lag PARTIAL autocorrelation table — the AR-order
    diagnostic `acf_table` cannot give: ρ_k confounds direct lag-k
    structure with propagated lag-1 momentum; φ_kk is lag k's
    contribution AFTER regressing out lags 1..k−1 (an AR(p) series
    has φ_kk ≈ 0 beyond p — the Box-Jenkins order-picking plot).

    Computed by the Durbin-Levinson recursion over the PPM-QUANTIZED
    ACF (`acf_table`'s exact integer rho_ppm — so both engines start
    from identical integers; the ≤1e-6-per-lag quantization is the
    documented convention, invisible at the round-6 output): the
    recursion steps are SQL text shared verbatim with the oracle
    (`durbin_levinson_steps`), one pinned IEEE expression chain per
    key. Keys missing a lag (no pairs / constant series) carry NULL
    through the chain in both engines.

    Output: (key, lag, pacf_r), lags 1..``lags``, pacf_r round-6
    (lag 1 equals the ACF's own r1 by construction).

    Scale: the ACF machinery (one partitioned window pass + lag-
    exploded partial agg); the recursion runs on the k-keys × 1
    pivoted relation — control-plane.
    """
    lags = int(lags)
    acf = acf_table(df, key_col, ts_col=ts_col, bucket_s=bucket_s, lags=lags)
    return pacf_from_acf(acf, key_col, lags=lags)


def pacf_from_acf(acf: DataFrame, key_col: str, lags: int = 4) -> DataFrame:
    """The Durbin-Levinson finish over an already-computed (key, lag,
    rho_ppm) ACF relation — shared between `pacf_table` (batch) and
    the rolling hourly-cell twin. See `pacf_table`."""
    lags = int(lags)
    piv = acf.groupBy(key_col).agg(
        *[
            F.max(
                F.when(F.col("lag") == k, F.col("rho_ppm"))
            ).alias(f"_r{k}ppm")
            for k in range(1, lags + 1)
        ]
    )
    cur = piv.select(
        key_col,
        *[
            F.expr(f"CAST(_r{k}ppm AS DOUBLE) / 1000000.0").alias(f"r{k}")
            for k in range(1, lags + 1)
        ],
    )
    for name, expr in durbin_levinson_steps(lags):
        cur = cur.withColumn(name, F.expr(expr))
    return cur.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("lag"),
                        F.round(F.col(f"phi_{k}_{k}"), 6).alias("pacf_r"),
                    )
                    for k in range(1, lags + 1)
                ]
            )
        ).alias("_p"),
    ).select(key_col, F.col("_p.lag").alias("lag"), F.col("_p.pacf_r").alias("pacf_r"))


def bh_threshold_case(rank_col: str, m_col: str, q: float = 0.05,
                      max_m: int = 45) -> str:
    """The Benjamini-Hochberg step-up z-threshold lookup as ONE
    literal CASE (the `holm_threshold_case` idiom — SQL shared
    verbatim by Spark and DuckDB, neither engine evaluates an inverse
    normal). BH's bar depends on BOTH the rank and the family size:
    p_(i) <= i*q/m  <=>  |z_(i)| >= Phi^-1(1 - i*q/(2m)), so the
    table is keyed on the composite code rank*100 + m for every
    1 <= rank <= m <= max_m (m(m+1)/2 literals, 6-dp), NULL beyond
    (documented: more than max_m simultaneous hypotheses is outside
    the injected table)."""
    whens = " ".join(
        f"WHEN {i * 100 + m} THEN "
        f"{round(norm_ppf(1 - i * q / (2 * m)), 6)!r}"
        for m in range(1, max_m + 1)
        for i in range(1, m + 1)
    )
    return (
        f"CAST(CASE ({rank_col}) * 100 + ({m_col}) {whens} END AS DOUBLE)"
    )


def dunn_bh(
    df: DataFrame, value_col: str, group_col, q: float = 0.05
) -> DataFrame:
    """Benjamini-Hochberg FDR step-up decisions over Dunn's post-hoc
    pairs — the false-discovery-rate sibling of `dunn_holm`: where
    Holm controls the family-wise error (any false rejection), BH
    controls the EXPECTED PROPORTION of false rejections at ``q``,
    which is the convention for wide screens (many pairs, exploratory
    cut). BH is uniformly at least as powerful as Holm at the same
    level: every Holm rejection is a BH rejection (pinned by test).

    Pairs rank by |z| descending (ties broken (group_a, group_b)) —
    equivalently p ascending; the i-th ranked pair tests against
    thr(i, m) = Phi^-1(1 - i*q/(2m)) from the injected literal table
    (`bh_threshold_case` — both engines compare the SAME 6-dp
    literals against the same pinned round-6 z's, so the decision is
    exact), and step-UP rejection is the cumulative OR *up* the
    ranking: rank i rejects iff ANY rank j >= i clears its own bar
    (the classic max{i : p_(i) <= i*q/m} cut). NULL-z untestable
    pairs sit at the bottom, never clear a bar, and count in m.

    Output: (group_a, group_b, n_a, n_b, z_r, rank, thr_r, reject) —
    the `dunn_holm` shape, so the two corrections diff row-for-row.

    Scale: the dunn machinery + three windows over the k²-pair
    relation — control-plane rows however large the corpus.
    """
    pairs = dunn_posthoc(df, value_col, group_col)
    wall = Window.partitionBy()
    wrank = Window.orderBy(
        F.abs(F.col("z_r")).desc_nulls_last(), "group_a", "group_b"
    )
    ranked = pairs.select(
        "group_a", "group_b", "n_a", "n_b", "z_r",
        F.row_number().over(wrank).alias("rank"),
        F.count(F.lit(1)).over(wall).alias("_m"),
    )
    thr = F.expr(bh_threshold_case("rank", "_m", q=q))
    flagged = ranked.withColumn("thr_r", thr).withColumn(
        "_rej",
        F.when(
            F.col("z_r").isNotNull()
            & F.col("thr_r").isNotNull()
            & (F.abs(F.col("z_r")) >= F.col("thr_r")),
            1,
        ).otherwise(0),
    )
    wstep = (
        Window.partitionBy()
        .orderBy("rank")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    return flagged.select(
        "group_a", "group_b", "n_a", "n_b", "z_r",
        F.col("rank").cast("long").alias("rank"),
        "thr_r",
        (F.max("_rej").over(wstep) == 1).alias("reject"),
    )


def qq_z_case(col: str, n_points: int = 19) -> str:
    """The Q-Q plot's normal quantiles as ONE literal CASE over the
    probability grid k/(n_points+1), k = 1..n_points — z in exact
    MICRO units (round(Φ⁻¹·1e6)), minted once by `norm_ppf` at build
    time and shared verbatim by both engines (the holm_threshold_case
    idiom: no engine evaluates an inverse normal)."""
    m = n_points + 1
    whens = " ".join(
        f"WHEN {col} = {k} THEN "
        f"{int(round(norm_ppf(k / m) * 1_000_000))}"
        for k in range(1, n_points + 1)
    )
    return f"CAST(CASE {whens} END AS BIGINT)"


def qq_normal(
    df: DataFrame, value_col, n_points: int = 19
) -> DataFrame:
    """Q-Q table of an exact-integer variable against the standard
    normal — the VISUAL normality companion of the GoF tests
    (`events_exp_gof`'s KS class): per probability point k/20 the
    exact lower sample quantile (rank ⌈n·p⌉ — the median machinery's
    order-statistic selection, no interpolation) next to the literal
    normal z; a straight table means normal with slope ≈ sd and
    intercept ≈ mean, so the OLS line over the points rides along
    (exact integer moments — z is in micro units — and TWO pinned
    round-6 float finishes evaluated in one fixed order).

    Output: one row per point — (k, z_micro, sample_q, slope_r,
    intercept_r) with the fitted line repeated on every row (the
    table IS the plot; the line is its summary).

    Scale: per-value counts map-side combine; the cumulative window
    walks the DISTINCT-value relation (the MWU class); point
    selection is a broadcast join of the n_points-row literal grid;
    the OLS runs on n_points rows.
    """
    val = value_col if not isinstance(value_col, str) else F.col(value_col)
    base = df.select(val.cast("long").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    per = base.groupBy("_v").agg(F.count(F.lit(1)).alias("_c"))
    wc = (
        Window.partitionBy()
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select(
        "_v", "_c",
        F.sum("_c").over(wc).alias("_ca"),
        F.sum("_c").over(Window.partitionBy()).alias("_n"),
    )
    spark = df.sparkSession
    m = n_points + 1
    ks = spark.range(1, n_points + 1).select(
        F.col("id").cast("int").alias("k")
    ).withColumn("z_micro", F.expr(qq_z_case("k", n_points)))
    # rank of the k-th point: ceil(n*k/m) via positive-operand ceildiv
    picked = cum.join(F.broadcast(ks)).filter(
        (F.col("_ca") - F.col("_c")
         < F.expr(f"(_n * k + {m} - 1) div {m}"))
        & (F.expr(f"(_n * k + {m} - 1) div {m}") <= F.col("_ca"))
    ).select("k", "z_micro", F.col("_v").alias("sample_q"))
    mom = picked.agg(
        F.count(F.lit(1)).alias("_np"),
        F.sum("z_micro").alias("_sz"),
        F.sum("sample_q").alias("_sq"),
        F.sum(d38(F.col("z_micro")) * d38(F.col("z_micro"))).alias("_szz"),
        F.sum(d38(F.col("z_micro")) * d38(F.col("sample_q"))).alias("_szq"),
    )
    nD = F.col("_np").cast("double")
    zd = lambda c: F.col(c).cast("double") / F.lit(1_000_000.0)  # noqa: E731
    num = nD * zd("_szq") - zd("_sz") * F.col("_sq").cast("double")
    den = nD * (F.col("_szz").cast("double") / F.lit(1e12)) - zd(
        "_sz"
    ) * zd("_sz")
    slope = num / den
    intercept = (
        F.col("_sq").cast("double") - slope * zd("_sz")
    ) / nD
    line = mom.select(
        F.when(den > 0, F.round(slope, 6)).alias("slope_r"),
        F.when(den > 0, F.round(intercept, 6)).alias("intercept_r"),
    )
    return picked.join(F.broadcast(line)).select(
        F.col("k").cast("long").alias("k"), "z_micro", "sample_q",
        "slope_r", "intercept_r",
    )


def tost_equivalence(
    units: DataFrame,
    value_col: str,
    arm_col: str,
    margin: float,
    alpha: float = 0.05,
) -> DataFrame:
    """Two One-Sided Tests (Schuirmann '87) — the EQUIVALENCE verdict
    a plain A/B test cannot give: failing to reject "different" is
    not evidence of "same"; TOST rejects BOTH "diff ≤ −margin" and
    "diff ≥ +margin", so passing positively bounds the effect inside
    ±margin (the do-no-harm launch gate, ship-if-equivalent).

    Welch construction over exact DECIMAL(38,0) per-arm moments; ONE
    pinned float chain for diff, se, and the two z's (round-6), each
    compared to the literal Acklam Φ⁻¹(1−α) threshold (6 dp, minted
    at build time — the holm_threshold_case idiom, no runtime inverse
    normal). NULL verdict when either arm has < 2 units or se = 0.

    Output: ONE row — (n_a, n_b, diff_r, se_r, z_low_r, z_high_r,
    equivalent).

    Scale: one map-side-combined aggregation; no window, no join.
    """
    zcrit = round(norm_ppf(1 - alpha), 6)
    m = float(margin)
    v = F.col(value_col).cast("long")
    is_a = F.col(arm_col) == 0
    agg = units.agg(
        F.count(F.when(is_a, 1)).cast("long").alias("n_a"),
        F.count(F.when(~is_a, 1)).cast("long").alias("n_b"),
        F.coalesce(F.sum(F.when(is_a, v)), F.lit(0)).cast("long").alias("s_a"),
        F.coalesce(F.sum(F.when(~is_a, v)), F.lit(0)).cast("long").alias("s_b"),
        F.coalesce(F.sum(F.when(is_a, d38(v) * v)), F.lit(0))
        .cast("decimal(38,0)").alias("ss_a"),
        F.coalesce(F.sum(F.when(~is_a, d38(v) * v)), F.lit(0))
        .cast("decimal(38,0)").alias("ss_b"),
    )
    staged = agg.selectExpr(
        "n_a", "n_b",
        "CAST(n_a AS DOUBLE) AS na_d", "CAST(n_b AS DOUBLE) AS nb_d",
        "CAST(s_a AS DOUBLE) AS sa_d", "CAST(s_b AS DOUBLE) AS sb_d",
        "CAST(ss_a AS DOUBLE) AS ssa_d", "CAST(ss_b AS DOUBLE) AS ssb_d",
    ).selectExpr(
        "n_a", "n_b", "na_d", "nb_d",
        "sa_d / na_d - sb_d / nb_d AS diff",
        # Welch: sample variance over n (vk = (nk*ssk - sk^2)/(nk*(nk-1)))
        "(na_d * ssa_d - sa_d * sa_d) / (na_d * (na_d - 1.0)) AS va",
        "(nb_d * ssb_d - sb_d * sb_d) / (nb_d * (nb_d - 1.0)) AS vb",
    ).selectExpr(
        "n_a", "n_b", "diff",
        "sqrt(va / na_d + vb / nb_d) AS se",
    )
    return staged.selectExpr(
        "n_a", "n_b",
        "round(diff, 6) AS diff_r",
        "CASE WHEN n_a > 1 AND n_b > 1 THEN round(se, 6) END AS se_r",
        f"CASE WHEN n_a > 1 AND n_b > 1 AND se > 0 THEN "
        f"round((diff + {m!r}) / se, 6) END AS z_low_r",
        f"CASE WHEN n_a > 1 AND n_b > 1 AND se > 0 THEN "
        f"round(({m!r} - diff) / se, 6) END AS z_high_r",
        f"CASE WHEN n_a > 1 AND n_b > 1 AND se > 0 THEN "
        f"round((diff + {m!r}) / se, 6) > {zcrit!r} "
        f"AND round(({m!r} - diff) / se, 6) > {zcrit!r} END AS equivalent",
    )


def yuen_trimmed_test(
    units: DataFrame,
    value_col: str,
    arm_col: str,
    trim: tuple[int, int] = (1, 5),
) -> DataFrame:
    """Yuen's trimmed-means test (Yuen '74) — the robust two-sample
    verdict when heavy tails poison the plain t: per arm, trim the
    g = ⌊γ·n⌋ smallest and largest observations (γ = trim[0]/trim[1],
    default 20%), compare TRIMMED means, and scale by the WINSORIZED
    variance (the Tukey-approved pairing; trimming without
    winsorized scaling is anti-conservative).

    All moments are EXACT integers from the per-arm DISTINCT-value
    relation (the MWU machinery): a value with count t covering ranks
    (b, b+t] contributes cnt_in = max(0, min(b+t, n−g) − max(b, g))
    instances to the trimmed middle; the winsorized tails add g copies
    of the exact g+1-th and (n−g)-th order statistics. One pinned
    float chain finishes

        d_k = (n_k·W2_k − W1_k²) / (n_k·h_k·(h_k−1)),   h_k = n_k−2g_k
        t   = (T_a/h_a − T_b/h_b) / √(d_a + d_b)

    NULL when either h_k < 2 or the variance term is 0.

    Output: ONE row — (n_a, n_b, h_a, h_b, tmean_a_r, tmean_b_r,
    t_r).

    Scale: per-(arm, value) counts map-side combine; one cumulative
    window over each arm's distinct-value relation; the finish is a
    2-row cross join.
    """
    tn, td = int(trim[0]), int(trim[1])
    b = units.select(
        F.col(arm_col).cast("int").alias("_a"),
        F.col(value_col).cast("long").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    per = b.groupBy("_a", "_v").agg(F.count(F.lit(1)).alias("t_v"))
    tot = b.groupBy("_a").agg(F.count(F.lit(1)).alias("n"))
    rel = rank_table(per, "_v", partition=["_a"]).join(tot, "_a").withColumn(
        "g", F.expr(f"(n * {tn}) div {td}")
    )
    v38 = "CAST(_v AS DECIMAL(38,0))"
    agg = rel.selectExpr(
        "_a", "n", "g", "_v", "t_v", "below",
        "greatest(0, least(below + t_v, n - g) - greatest(below, g))"
        " AS cnt_in",
        "CASE WHEN below < g + 1 AND g + 1 <= below + t_v THEN _v END"
        " AS lo_c",
        "CASE WHEN below < n - g AND n - g <= below + t_v THEN _v END"
        " AS hi_c",
    ).groupBy("_a").agg(
        F.first("n").alias("n"),
        F.first("g").alias("g"),
        F.expr(f"CAST(sum({v38} * cnt_in) AS DECIMAL(38,0))").alias("ts"),
        F.expr(
            f"CAST(sum({v38} * _v * cnt_in) AS DECIMAL(38,0))"
        ).alias("tss"),
        F.max("lo_c").alias("lo"),
        F.max("hi_c").alias("hi"),
    )
    arms = agg.selectExpr(
        "_a", "n", "g", "n - 2 * g AS h",
        "ts + CAST(g AS DECIMAL(38,0)) * lo"
        " + CAST(g AS DECIMAL(38,0)) * hi AS w1",
        "tss + CAST(g AS DECIMAL(38,0)) * lo * lo"
        " + CAST(g AS DECIMAL(38,0)) * hi * hi AS w2",
        "ts",
    )
    a = arms.filter(F.col("_a") == 0).selectExpr(
        "n AS n_a", "h AS h_a", "w1 AS w1_a", "w2 AS w2_a", "ts AS ts_a"
    )
    bb = arms.filter(F.col("_a") != 0).selectExpr(
        "n AS n_b", "h AS h_b", "w1 AS w1_b", "w2 AS w2_b", "ts AS ts_b"
    )
    j = a.join(bb, how="cross")
    return j.selectExpr(
        "n_a", "n_b",
        "CAST(h_a AS BIGINT) AS h_a", "CAST(h_b AS BIGINT) AS h_b",
        "CASE WHEN h_a > 0 THEN round(CAST(ts_a AS DOUBLE)"
        " / CAST(h_a AS DOUBLE), 6) END AS tmean_a_r",
        "CASE WHEN h_b > 0 THEN round(CAST(ts_b AS DOUBLE)"
        " / CAST(h_b AS DOUBLE), 6) END AS tmean_b_r",
        "CASE WHEN h_a > 1 AND h_b > 1 AND ("
        " (CAST(n_a AS DOUBLE) * CAST(w2_a AS DOUBLE)"
        "  - CAST(w1_a AS DOUBLE) * CAST(w1_a AS DOUBLE))"
        " / (CAST(n_a AS DOUBLE) * CAST(h_a AS DOUBLE)"
        "    * (CAST(h_a AS DOUBLE) - 1.0))"
        " + (CAST(n_b AS DOUBLE) * CAST(w2_b AS DOUBLE)"
        "  - CAST(w1_b AS DOUBLE) * CAST(w1_b AS DOUBLE))"
        " / (CAST(n_b AS DOUBLE) * CAST(h_b AS DOUBLE)"
        "    * (CAST(h_b AS DOUBLE) - 1.0))) > 0 THEN"
        " round((CAST(ts_a AS DOUBLE) / CAST(h_a AS DOUBLE)"
        "  - CAST(ts_b AS DOUBLE) / CAST(h_b AS DOUBLE))"
        " / sqrt("
        " (CAST(n_a AS DOUBLE) * CAST(w2_a AS DOUBLE)"
        "  - CAST(w1_a AS DOUBLE) * CAST(w1_a AS DOUBLE))"
        " / (CAST(n_a AS DOUBLE) * CAST(h_a AS DOUBLE)"
        "    * (CAST(h_a AS DOUBLE) - 1.0))"
        " + (CAST(n_b AS DOUBLE) * CAST(w2_b AS DOUBLE)"
        "  - CAST(w1_b AS DOUBLE) * CAST(w1_b AS DOUBLE))"
        " / (CAST(n_b AS DOUBLE) * CAST(h_b AS DOUBLE)"
        "    * (CAST(h_b AS DOUBLE) - 1.0))), 6) END AS t_r",
    )


#: Benford first-digit probabilities log10(1 + 1/d) in ppm, as a
#: digit->ppm dict — the SAME minted constants as
#: `operators.profile.BENFORD_PPM` (single source; they sum to
#: exactly 1e6). profile.benford_report is the global per-digit
#: REPORT over exact-cents amounts (with a streamed twin); this
#: module's `benford_audit` is the per-KEY grouped DECISION audit
#: (one chi-square + reject row per key) over raw magnitudes.
def _benford_ppm() -> dict[int, int]:
    from unitdb_spark.operators.profile import BENFORD_PPM as _T

    return {d + 1: int(p) for d, p in enumerate(_T)}


BENFORD_PPM = _benford_ppm()

#: chi-square critical value, 8 degrees of freedom, alpha = 0.05
#: (standard table value 15.507313), in micro units.
CHI2_8DF_05_MICRO = 15_507_313


def benford_audit(
    df: DataFrame,
    value_col: str = "value",
    keys: list[str] | None = None,
) -> DataFrame:
    """Benford first-digit law audit per key — the classic
    fabricated/degenerate-data detector for financial and telemetry
    feeds (organic multiplicative data follows P(d) = log10(1+1/d);
    constants, capped counters, and invented numbers don't).

    First significant digit of values >= 1: floor to BIGINT (IEEE
    floor of the identical double is engine-exact), first character
    of the decimal string. Pearson chi-square against the MINTED
    Benford ppm table, every step exact integer:

        term_micro(d) = (obs_d·1e6 − n·p_ppm(d))² div (n·p_ppm(d))

    summed over ALL NINE digits d=1..9 — the digit cells are
    DENSIFIED per key (a broadcast 9-row literal digit table
    left-joined against the observed counts, coalesce(obs, 0)), so a
    digit a key never produced still contributes its (0 − n·p)²/(n·p)
    = n·p_ppm term. That zero-cell term is exactly what makes the
    detector fire on partially degenerate feeds (a constant-valued
    counter hits ONE digit; skipping its 8 empty cells — the r10 bug
    — understated chi2 by Σ_absent n·p and could falsely pass
    reject_05). Products run in DECIMAL(38,0)/HUGEINT — obs²·1e12
    overflows int64 at ~3e3 rows without it. Output per key:
    (n_values, chi2_micro, reject_05) with the 8-df 5% critical value
    as a minted literal; the 8-df value now genuinely matches the
    9-cell Pearson sum.

    Scale: one partial-agg shuffle on (keys, digit) — 9 rows per key
    after the combine — then a key rollup; the densifying cross join
    is against a broadcast bounded literal (9 rows). No windows, no
    floats.
    """
    keys = keys or []
    v = F.col(value_col)
    digit = F.substring(
        F.floor(v).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    obs = (
        df.filter(v.isNotNull() & (v >= 1))
        .select(*keys, digit.alias("_d"))
        .groupBy(*keys, "_d")
        .agg(F.count(F.lit(1)).cast("long").alias("_o"))
    )
    n_tot = obs.groupBy(*keys).agg(F.sum("_o").alias("_n"))
    dig = df.sparkSession.createDataFrame(
        sorted(BENFORD_PPM.items()), "_d int, _p bigint"
    )
    dense = n_tot.crossJoin(F.broadcast(dig))
    j = dense.join(obs, [*keys, "_d"], "left").withColumn(
        "_o", F.coalesce(F.col("_o"), F.lit(0)).cast("long")
    )
    big = "CAST(_o AS DECIMAL(38,0)) * 1000000 - CAST(_n AS DECIMAL(38,0)) * _p"
    per = j.selectExpr(
        *keys, "_n",
        f"CAST(({big}) * ({big}) div (CAST(_n AS DECIMAL(38,0)) * _p)"
        " AS BIGINT) AS _t",
    )
    return (
        per.groupBy(*keys)
        .agg(
            F.first("_n").alias("n_values"),
            F.sum("_t").cast("long").alias("chi2_micro"),
        )
        .withColumn(
            "reject_05", F.col("chi2_micro") > F.lit(CHI2_8DF_05_MICRO)
        )
    )


def gini_by_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    amount_col: str,
) -> DataFrame:
    """Exact-integer Gini concentration coefficient per group — the
    standard inequality number for spend/traffic/token-share
    concentration ("do 1% of customers carry 60% of revenue?").

    Per group, with amounts x_1 <= … <= x_n ranked ascending (ties
    broken by id for a deterministic ranking on any engine):

        G_ppm = floor( (2·Σ i·x_i − (n+1)·Σx) · 1e6 / (n·Σx) )

    — the closed form of the mean-absolute-difference definition, so
    ONE partitioned ranking window and one aggregation; the cross-
    multiplied products run in DECIMAL(38,0)/HUGEINT (Σ i·x_i reaches
    n²·max_amount). Groups with zero total emit NULL (no distribution
    to be unequal about).

    Scale: the window partitions on the group key — no global sort;
    per-group cost is the ranking of that group's members, which is
    the honest cost of an exact Gini (approximations would bin first).
    """
    ranked = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        F.col(amount_col).cast("long").alias("_x"),
    ).withColumn(
        "_i",
        F.row_number()
        .over(Window.partitionBy("_g").orderBy("_x", "_id"))
        .cast("long"),
    )
    agg = ranked.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("_x").cast("decimal(38,0)").alias("_s"),
        F.sum(F.expr("CAST(_i AS DECIMAL(38,0)) * _x")).alias("_w"),
    )
    return agg.selectExpr(
        f"_g AS {group_col}",
        "CAST(n_members AS BIGINT) AS n_members",
        "CAST(_s AS BIGINT) AS total_amount",
        "CASE WHEN _s > 0 THEN CAST("
        "  (2 * _w - (CAST(n_members AS DECIMAL(38,0)) + 1) * _s) * 1000000"
        "  div (CAST(n_members AS DECIMAL(38,0)) * _s) AS BIGINT)"
        " END AS gini_ppm",
    )
