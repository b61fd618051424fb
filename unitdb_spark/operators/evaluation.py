"""Model-evaluation primitives over DataFrames.

A curation pipeline is full of predicted labels (language ID, quality
classifiers, kNN propagation) sitting next to trusted ones; grading
them is a grouped count, not an ML-library import. Everything here is
integer arithmetic + the repo's floor-ppm convention, so results
replay exactly in any SQL engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from unitdb_spark.operators.stats_tests import rank2, rank_table
from unitdb_spark.operators.timeseries import d38


def confusion_matrix(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Grouped (label, pred) counts with per-label recall.

    Output: (label, pred, n, label_total, recall_ppm) where
    recall_ppm = floor(n · 1e6 / label_total) — the diagonal rows are
    per-class recall, off-diagonals show where the mass leaks. One
    partial-agg shuffle on (label, pred); the per-label total is a
    window over the matrix relation (classes², not rows).
    """
    counts = df.groupBy(
        F.col(label_col).alias("label"), F.col(pred_col).alias("pred")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("label")
    return counts.select(
        "label", "pred", "n",
        F.sum("n").over(w).alias("label_total"),
        F.floor(F.col("n") * F.lit(1_000_000) / F.sum("n").over(w))
        .cast("long")
        .alias("recall_ppm"),
    )


def accuracy_report(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """One-row overall accuracy + per-class macro recall mean.

    macro_recall_ppm is the floor-ppm MEAN of per-class recalls (each
    itself a floor-ppm) — integer-exact end to end, so class-imbalance
    distortion of plain accuracy is visible by comparing the columns.
    """
    cm = confusion_matrix(df, label_col, pred_col)
    per_class = cm.filter(F.col("label") == F.col("pred")).select(
        "label", "recall_ppm"
    )
    # classes with zero correct predictions have no diagonal row — they
    # must still drag the macro average down
    labels = cm.select("label").distinct()
    filled = labels.join(per_class, "label", "left").select(
        F.coalesce("recall_ppm", F.lit(0)).alias("r")
    )
    totals = df.select(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(
            F.when(F.col(label_col) == F.col(pred_col), 1)
        ).alias("n_correct"),
    )
    macro = filled.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.floor(F.sum("r") / F.count(F.lit(1))).cast("long").alias(
            "macro_recall_ppm"
        ),
    )
    return totals.join(macro).select(
        "n_rows", "n_correct",
        # greatest(n_rows, 1): an empty input reports 0 ppm instead of
        # dividing by zero (ANSI mode throws)
        F.floor(
            F.col("n_correct") * F.lit(1_000_000)
            / F.greatest(F.col("n_rows"), F.lit(1))
        )
        .cast("long")
        .alias("accuracy_ppm"),
        "n_classes", "macro_recall_ppm",
    )


def pair_retrieval_report(
    truth: DataFrame,
    candidates: DataFrame,
    id_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """One-row recall/precision of a candidate pair set vs ground truth.

    The audit every approximate near-dup path owes its users: how many
    of the TRUE pairs (exact similarity >= t, e.g. from
    `setjoin.prefix_jaccard_pairs`) did the cheap candidate generator
    (MinHash-LSH, SimHash) actually surface, and how much junk came
    with them. Output: (n_true, n_cand, n_hit, recall_ppm,
    precision_ppm) — floor-ppm, integer-exact.

    Both inputs are pair relations keyed (id_a, id_b); a full outer
    join on the pair key computes all three counts in ONE pass (no
    separate inner/anti joins — the pair sets are tiny next to the
    corpus but there is no reason to scan them three times).
    """
    ka, kb = id_cols
    # distinct guards: a duplicated pair row (e.g. raw per-band LSH
    # matches fed in directly) would otherwise fan out the join and
    # inflate every count — recall above 1e6 ppm is how that bug reads
    t = truth.select(ka, kb).distinct().select(ka, kb, F.lit(1).alias("_t"))
    c = candidates.select(ka, kb).distinct().select(ka, kb, F.lit(1).alias("_c"))
    j = t.join(c, [ka, kb], "full")
    return j.agg(
        F.count("_t").alias("n_true"),
        F.count("_c").alias("n_cand"),
        F.count(F.when(F.col("_t").isNotNull() & F.col("_c").isNotNull(), 1)).alias("n_hit"),
    ).select(
        "n_true", "n_cand", "n_hit",
        # exact integer `div` (not floor over a double '/'): stays
        # exact past the 2^53 double envelope
        F.expr("(n_hit * 1000000L) div greatest(n_true, 1)")
        .cast("long").alias("recall_ppm"),
        F.expr("(n_hit * 1000000L) div greatest(n_cand, 1)")
        .cast("long").alias("precision_ppm"),
    )


def ab_test_report(
    df: DataFrame,
    unit_col: str,
    convert_expr,
    cohort_col,
) -> DataFrame:
    """One-row two-proportion A/B readout with a z statistic.

    ``cohort_col`` is a 0/1 column assigning each row's UNIT to a arm
    (use a deterministic content hash of the unit id so assignment is
    reproducible and layout-independent); ``convert_expr`` is a
    boolean conversion predicate per row. A unit converts if ANY of
    its rows converts; unit de-dup happens here, so event-grained
    input is fine.

    Output: (n_a, conv_a, n_b, conv_b, conv_a_ppm, conv_b_ppm,
    diff_ppm, z_r) — counts and ppm rates integer-exact; the z
    statistic is the pooled two-proportion test evaluated in ONE
    pinned expression order and rounded to 6 (the only float in the
    row, identical on any engine given identical integer inputs).

    Scale: one distinct on (unit, cohort, converted) + one global
    aggregate — the exchange carries units, not events.
    """
    units = (
        df.select(
            F.col(unit_col).alias("_u"),
            cohort_col.alias("_arm"),
            F.when(convert_expr, 1).otherwise(0).alias("_cv"),
        )
        .groupBy("_u", "_arm")
        .agg(F.max("_cv").alias("_cv"))
    )
    agg = units.agg(
        F.count(F.when(F.col("_arm") == 0, 1)).alias("n_a"),
        F.sum(F.when(F.col("_arm") == 0, F.col("_cv"))).alias("conv_a"),
        F.count(F.when(F.col("_arm") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("_arm") == 1, F.col("_cv"))).alias("conv_b"),
    )
    ppm = F.lit(1_000_000)
    na, ca = F.col("n_a"), F.col("conv_a")
    nb, cb = F.col("n_b"), F.col("conv_b")
    pa = ca.cast("double") / na.cast("double")
    pb = cb.cast("double") / nb.cast("double")
    pool = (ca + cb).cast("double") / (na + nb).cast("double")
    se = F.sqrt(
        pool * (F.lit(1.0) - pool)
        * (F.lit(1.0) / na.cast("double") + F.lit(1.0) / nb.cast("double"))
    )
    return agg.select(
        "n_a", "conv_a", "n_b", "conv_b",
        F.floor(ca * ppm / F.greatest(na, F.lit(1))).cast("long").alias("conv_a_ppm"),
        F.floor(cb * ppm / F.greatest(nb, F.lit(1))).cast("long").alias("conv_b_ppm"),
        (
            F.floor(ca * ppm / F.greatest(na, F.lit(1)))
            - F.floor(cb * ppm / F.greatest(nb, F.lit(1)))
        ).cast("long").alias("diff_ppm"),
        # degenerate charts (every unit converts, or none, or an empty
        # arm) have no variance — z is NULL, not a division error
        F.when(se > F.lit(0.0), F.round((pa - pb) / se, 6)).alias("z_r"),
    )


def diff_in_diff(
    df: DataFrame,
    value_col: str,
    arm_col,
    pre_col,
) -> DataFrame:
    """One-row 2×2 difference-in-differences readout.

    The observational cousin of `ab_test_report`: when exposure was
    NOT randomized, compare the treated arm's pre→post change against
    the control arm's — parallel-trends is the caller's assumption to
    defend; this computes the estimate exactly.

    ``arm_col`` is 0 (control) / 1 (treated); ``pre_col`` a boolean
    marking the pre period. Cell SUMS are exact DECIMAL cents; each
    cell mean is the pinned floor(cents·10⁴ / n) — engine-identical,
    and integer-exact while cents·10⁴ stays inside 2⁵³ (≈ $9·10¹²
    per cell, the repo's ppm-idiom envelope) — so the DiD estimate
    (Δtreated − Δcontrol) is the exact difference of those means.
    Output: per-cell n and mean plus (delta_treat_mu, delta_ctrl_mu,
    did_mu). One aggregation; the exchange carries eight partials.
    """
    cells = df.select(
        F.col(value_col).alias("_v"),
        arm_col.alias("_arm"),
        pre_col.alias("_pre"),
    ).filter(F.col("_v").isNotNull())

    def cell(arm: int, pre: bool):
        # ONE predicate feeds both the count and the cents sum — a
        # future edit to the cell definition cannot desync n from
        # its sum
        cond = (F.col("_arm") == arm) & (F.col("_pre") == pre)
        n = F.count(F.when(cond, 1))
        cents = (
            F.sum(F.when(cond, F.col("_v").cast("decimal(18,2)")))
            * F.lit(100)
        ).cast("long")
        return n, cents

    n00, c00 = cell(0, True)
    n01, c01 = cell(0, False)
    n10, c10 = cell(1, True)
    n11, c11 = cell(1, False)
    agg = cells.agg(
        n00.alias("n_ctrl_pre"),
        c00.alias("_c00"),
        n01.alias("n_ctrl_post"),
        c01.alias("_c01"),
        n10.alias("n_treat_pre"),
        c10.alias("_c10"),
        n11.alias("n_treat_post"),
        c11.alias("_c11"),
    )

    def mu(cents: str, n: str):
        # an empty cell sums to NULL — read it as mean 0 rather than
        # poisoning the whole row
        return (
            F.floor(
                F.coalesce(F.col(cents), F.lit(0)) * F.lit(10_000)
                / F.greatest(F.col(n), F.lit(1))
            ).cast("long")
        )

    with_mu = agg.select(
        "n_ctrl_pre", "n_ctrl_post", "n_treat_pre", "n_treat_post",
        mu("_c00", "n_ctrl_pre").alias("mu_ctrl_pre"),
        mu("_c01", "n_ctrl_post").alias("mu_ctrl_post"),
        mu("_c10", "n_treat_pre").alias("mu_treat_pre"),
        mu("_c11", "n_treat_post").alias("mu_treat_post"),
    )
    d_t = F.col("mu_treat_post") - F.col("mu_treat_pre")
    d_c = F.col("mu_ctrl_post") - F.col("mu_ctrl_pre")
    return with_mu.select(
        "*",
        d_t.alias("delta_treat_mu"),
        d_c.alias("delta_ctrl_mu"),
        (d_t - d_c).alias("did_mu"),
    )


def filter_agreement(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """One-row Cohen's kappa between two boolean keep/drop columns —
    "do these two curation filters agree beyond chance?". Raw
    agreement is misleading when both filters keep almost everything;
    kappa subtracts the chance-agreement floor.

    All four confusion cells are exact integer counts; with
    r1 = n11+n10, c1 = n11+n01 (and r0/c0 their complements),

        kappa = (N·agree − (r1·c1 + r0·c0)) / (N² − (r1·c1 + r0·c0))

    is evaluated as ONE pinned double floored into ppm. NULL when the
    denominator is 0 (a filter that keeps everything or nothing has no
    chance-corrected agreement). Integer envelope: N² must stay
    inside the double's exact range (N ≲ 9·10⁷ rows; past that,
    lift the products to DECIMAL(38,0) — same pinned shape).

    Rows where EITHER verdict is NULL cannot land in any confusion
    cell; they are excluded from n and reported in ``n_null`` instead
    of silently deflating the agreement (a 10% NULL rate would
    otherwise bias agree_ppm down by up to 100k ppm).

    Output: (n, n_null, n11, n10, n01, n00, agree_ppm, kappa_ppm).
    """
    a = F.col(a_col).cast("boolean")
    b = F.col(b_col).cast("boolean")
    agg = df.agg(
        F.count(F.when(a.isNotNull() & b.isNotNull(), 1)).alias("n"),
        F.count(F.when(a.isNull() | b.isNull(), 1)).alias("n_null"),
        F.count(F.when(a & b, 1)).alias("n11"),
        F.count(F.when(a & ~b, 1)).alias("n10"),
        F.count(F.when(~a & b, 1)).alias("n01"),
        F.count(F.when(~a & ~b, 1)).alias("n00"),
    )
    nD = F.col("n").cast("double")
    agree = (F.col("n11") + F.col("n00")).cast("double")
    r1 = (F.col("n11") + F.col("n10")).cast("double")
    c1 = (F.col("n11") + F.col("n01")).cast("double")
    r0 = (F.col("n01") + F.col("n00")).cast("double")
    c0 = (F.col("n10") + F.col("n00")).cast("double")
    chance = r1 * c1 + r0 * c0
    den = nD * nD - chance
    return agg.select(
        "n", "n_null", "n11", "n10", "n01", "n00",
        F.floor(agree * F.lit(1_000_000.0) / nD).cast("long")
        .alias("agree_ppm"),
        F.when(
            den != F.lit(0.0),
            F.floor(
                (nD * agree - chance) * F.lit(1_000_000.0) / den
            ).cast("long"),
        ).alias("kappa_ppm"),
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-by-decile calibration report for a probabilistic
    scorer against a gold boolean — "when the classifier says 0.7,
    is it right 70% of the time?". Decile binning (ntile over the
    score order) instead of fixed-width bins, so every bin is
    populated no matter how concentrated the score distribution is.

    Per-row score_micro = floor(score·1e6) is the only float touch
    (pinned per row); everything after is integer: per-bin confidence
    floor(Σ score_micro / n), accuracy floor(n_pos·1e6/n), the signed
    gap, and the expected calibration error ECE =
    floor(Σ n·|gap| / N) stamped on every row.

    Output: (bin, n, n_pos, conf_ppm, acc_ppm, gap_ppm, ece_ppm).

    Scale: ntile needs a global sort of (score, id) — at 100 TB
    replace with precomputed approx-quantile boundaries (one pass +
    broadcast); the per-bin aggregation is unchanged.
    """
    from pyspark.sql import Window

    w = Window.orderBy(score_col, id_col)
    base = df.select(
        F.ntile(n_bins).over(w).alias("bin"),
        F.floor(F.col(score_col).cast("double") * F.lit(1_000_000.0))
        .cast("long").alias("score_micro"),
        F.col(label_col).cast("boolean").alias("_y"),
    )
    bins = base.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("_y"), 1)).alias("n_pos"),
        F.sum("score_micro").alias("_sm"),
    )
    conf = F.floor(F.col("_sm") / F.col("n")).cast("long")
    acc = F.floor(F.col("n_pos") * F.lit(1_000_000) / F.col("n")).cast("long")
    scored = bins.select(
        "bin", "n", "n_pos",
        conf.alias("conf_ppm"), acc.alias("acc_ppm"),
        (acc - conf).alias("gap_ppm"),
    )
    wall = Window.partitionBy()
    return scored.select(
        F.col("bin").cast("long").alias("bin"),
        "n", "n_pos", "conf_ppm", "acc_ppm", "gap_ppm",
        F.floor(
            F.sum(F.col("n") * F.abs(F.col("gap_ppm"))).over(wall)
            / F.sum("n").over(wall)
        ).cast("long").alias("ece_ppm"),
    )


# binary-relevance NDCG gain table: gain(i) = floor(1e6 / log2(i+1)).
# Computed ONCE here and injected into both the Spark plan and the SQL
# oracle as literals, so no engine ever evaluates log2 — rank quality
# becomes pure integer arithmetic.
import math as _math

NDCG_GAIN_MICRO = tuple(
    int(1_000_000 / _math.log2(i + 1)) for i in range(1, 33)
)
NDCG_PREFIX_MICRO = tuple(
    sum(NDCG_GAIN_MICRO[: i + 1]) for i in range(len(NDCG_GAIN_MICRO))
)


def ranking_ndcg(
    recs: DataFrame,
    query_col: str,
    rank_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Binary-relevance NDCG@k per query over an already-ranked
    retrieval table — the standard rank-quality readout for a
    related-items / ANN surface against any 0/1 relevance signal.

    With binary relevance the discounted gain at rank i is a CONSTANT
    (`NDCG_GAIN_MICRO[i-1]`), so DCG is an exact integer sum of
    literals selected by the relevance flags, and the ideal DCG is the
    n_rel-th prefix sum — no float log2 in either engine. ndcg_ppm is
    the single pinned floor; NULL when the list has no relevant item
    (rank quality is undefined, not zero).

    Output: (item, n_rel, dcg_micro, idcg_micro, ndcg_ppm).

    Scale: one partial-agg shuffle on the query key over the rank≤k
    relation (k rows per query, not the corpus).
    """
    if not 1 <= k <= len(NDCG_GAIN_MICRO):
        raise ValueError(f"ranking_ndcg: k must be in 1..{len(NDCG_GAIN_MICRO)}")
    gain_arr = F.array(*[F.lit(g) for g in NDCG_GAIN_MICRO[:k]])
    prefix_arr = F.array(*[F.lit(p) for p in NDCG_PREFIX_MICRO[:k]])
    # ranks are 1-based by contract; a 0-based table would crash
    # element_at (rank 0) or silently index from the array END
    # (negative ranks) — out-of-domain ranks drop here instead
    base = recs.filter(
        (F.col(rank_col) >= 1) & (F.col(rank_col) <= k)
    ).select(
        F.col(query_col).alias("item"),
        F.col(rank_col).cast("int").alias("_r"),
        F.col(rel_col).cast("boolean").alias("_rel"),
    )
    per = base.groupBy("item").agg(
        F.count(F.when(F.col("_rel"), 1)).alias("n_rel"),
        F.coalesce(
            F.sum(
                F.when(F.col("_rel"), F.element_at(gain_arr, F.col("_r")))
            ),
            F.lit(0),
        ).cast("long").alias("dcg_micro"),
    )
    idcg = F.element_at(prefix_arr, F.col("n_rel").cast("int"))
    return per.select(
        "item", "n_rel", "dcg_micro",
        F.when(F.col("n_rel") > 0, idcg).cast("long").alias("idcg_micro"),
        F.when(
            F.col("n_rel") > 0,
            F.floor(
                F.col("dcg_micro") * F.lit(1_000_000) / idcg
            ),
        ).cast("long").alias("ndcg_ppm"),
    )


def cuped_adjusted(
    df: DataFrame,
    metric_col: str,
    covariate_col: str,
    arm_col,
) -> DataFrame:
    """One-row CUPED variance-reduced A/B readout (Deng et al., WSDM
    2013): adjust each unit's metric by its pre-period covariate,
    Y' = Y − θ·(X − μX) with θ = cov(X,Y)/var(X) pooled across arms —
    the industry-standard way to cut experiment runtime when a
    correlated pre-metric exists.

    All moments (per-arm and pooled n, ΣX, ΣY, ΣXX, ΣXY in exact
    DECIMAL cents) come from ONE aggregation; θ, the raw and adjusted
    per-arm means, and both diffs are pinned round-6 doubles over
    those exact inputs. θ is NULL (and adjusted columns fall back to
    the raw means) when var(X) is 0 — no covariate signal, nothing to
    adjust.

    Output: (n_a, n_b, theta_r, ya_r, yb_r, diff_r, adj_a_r,
    adj_b_r, adj_diff_r).
    """
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    base = df.select(
        dec(metric_col).alias("_y"),
        dec(covariate_col).alias("_x"),
        arm_col.cast("int").alias("_arm"),
    ).filter(F.col("_y").isNotNull() & F.col("_x").isNotNull())
    dec4 = "decimal(38,4)"
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_x").cast(dec4)).alias("sx"),
        F.sum(F.col("_y").cast(dec4)).alias("sy"),
        F.sum((F.col("_x") * F.col("_x")).cast(dec4)).alias("sxx"),
        F.sum((F.col("_x") * F.col("_y")).cast(dec4)).alias("sxy"),
        F.count(F.when(F.col("_arm") == 0, 1)).alias("n_a"),
        F.sum(F.when(F.col("_arm") == 0, F.col("_x")).cast(dec4)).alias("sx_a"),
        F.sum(F.when(F.col("_arm") == 0, F.col("_y")).cast(dec4)).alias("sy_a"),
        F.count(F.when(F.col("_arm") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("_arm") == 1, F.col("_x")).cast(dec4)).alias("sx_b"),
        F.sum(F.when(F.col("_arm") == 1, F.col("_y")).cast(dec4)).alias("sy_b"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    nD = d("n")
    varx = nD * d("sxx") - d("sx") * d("sx")
    covxy = nD * d("sxy") - d("sx") * d("sy")
    theta = covxy / varx
    mux = d("sx") / nD
    ya = d("sy_a") / d("n_a")
    yb = d("sy_b") / d("n_b")
    xa = d("sx_a") / d("n_a")
    xb = d("sx_b") / d("n_b")
    adj_a = ya - theta * (xa - mux)
    adj_b = yb - theta * (xb - mux)
    has_theta = varx > F.lit(0.0)
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.when(has_theta, F.round(theta, 6)).alias("theta_r"),
        F.round(ya, 6).alias("ya_r"),
        F.round(yb, 6).alias("yb_r"),
        F.round(ya - yb, 6).alias("diff_r"),
        F.when(has_theta, F.round(adj_a, 6)).otherwise(F.round(ya, 6))
        .alias("adj_a_r"),
        F.when(has_theta, F.round(adj_b, 6)).otherwise(F.round(yb, 6))
        .alias("adj_b_r"),
        F.when(has_theta, F.round(adj_a - adj_b, 6))
        .otherwise(F.round(ya - yb, 6)).alias("adj_diff_r"),
    )


def gini_gain(df: DataFrame, feature_col: str, label_col: str) -> DataFrame:
    """Gini-impurity information gain of a categorical feature against
    a boolean label — "does source predict quality?" ranked without a
    single logarithm, so the whole computation stays rational.

    For a binary label, Gini impurity is G = 2·pos·neg/n² exactly;
    the root impurity and each category's contribution to the
    weighted child impurity are floor-micro integers:

        contrib = ⌊2·pos_s·neg_s·1e6 / (n_s·N)⌋

    so the gain = root − Σ contrib is integer arithmetic end to end
    (per-category floors bias the gain up by < |categories| micro —
    deterministic, engine-identical).

    Output per category: (feature, n, n_pos, gini_s_ppm,
    contrib_micro, root_gini_ppm, gain_micro) — the last two repeated
    on every row (window over the category relation).
    """
    base = df.select(
        F.col(feature_col).alias("feature"),
        F.col(label_col).cast("boolean").alias("_y"),
    )
    per = base.groupBy("feature").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("_y"), 1)).alias("n_pos"),
    )
    wall = Window.partitionBy()
    nn = F.sum("n").over(wall)
    npos = F.sum("n_pos").over(wall)
    neg = F.col("n") - F.col("n_pos")
    d = lambda c: c.cast("double")  # noqa: E731
    gini_s = F.floor(
        F.lit(2.0) * d(F.col("n_pos")) * d(neg) * F.lit(1_000_000.0)
        / (d(F.col("n")) * d(F.col("n")))
    ).cast("long")
    contrib = F.floor(
        F.lit(2.0) * d(F.col("n_pos")) * d(neg) * F.lit(1_000_000.0)
        / (d(F.col("n")) * d(nn))
    ).cast("long")
    root = F.floor(
        F.lit(2.0) * d(npos) * d(nn - npos) * F.lit(1_000_000.0)
        / (d(nn) * d(nn))
    ).cast("long")
    scored = per.select(
        "feature", "n", "n_pos",
        gini_s.alias("gini_s_ppm"),
        contrib.alias("contrib_micro"),
        root.alias("root_gini_ppm"),
    )
    return scored.select(
        "feature", "n", "n_pos", "gini_s_ppm", "contrib_micro",
        "root_gini_ppm",
        (
            F.col("root_gini_ppm") - F.sum("contrib_micro").over(wall)
        ).cast("long").alias("gain_micro"),
    )


# reciprocal-rank-fusion gain table: floor(1e6 / (60 + rank)), the
# standard RRF constant; literal on both engines like the NDCG gains.
RRF_K = 60
RRF_GAIN_MICRO = tuple(
    int(1_000_000 / (RRF_K + r)) for r in range(1, 101)
)


def reciprocal_rank_fusion(
    rankings: list[DataFrame],
    query_col: str,
    item_col: str,
    rank_col: str,
    top_k: int = 10,
    max_rank: int = 100,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack '09) of several per-query
    rankings into one — the standard way to combine retrieval systems
    (lexical + embedding, cosine + popularity) without score
    calibration, because only RANKS enter.

    score = Σ_systems 1/(60 + rank) — evaluated on the literal
    floor-micro gain table, so the fused score is an exact BIGINT sum
    and the re-rank (score DESC, item) is engine-exact without any
    rounding convention. Items missing from a system simply
    contribute nothing (the RRF convention); entries DEEPER than
    ``max_rank`` are likewise out of contract and dropped — raise
    ``max_rank`` (the gain table is generated to length) when fusing
    recall-oriented deep candidate lists.

    Output: (query, item, n_systems, rrf_micro, fused_rank) with
    fused_rank ≤ ``top_k``.

    Scale: a union of rank≤len(gain-table) relations (k rows per
    query per system) + one partial agg + one per-query rank window —
    never the corpora behind the rankings.
    """
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("reciprocal_rank_fusion: need >= 1 ranking")
    if not 1 <= max_rank <= 10_000:
        raise ValueError("reciprocal_rank_fusion: max_rank in 1..10000")
    gains = tuple(
        int(1_000_000 / (RRF_K + r)) for r in range(1, max_rank + 1)
    )
    gain_arr = F.array(*[F.lit(g) for g in gains])
    parts = [
        r.filter(
            (F.col(rank_col) >= 1)
            & (F.col(rank_col) <= max_rank)
        ).select(
            F.col(query_col).alias("query"),
            F.col(item_col).alias("item"),
            F.element_at(gain_arr, F.col(rank_col).cast("int"))
            .alias("_g"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query", "item").agg(
        F.count(F.lit(1)).alias("n_systems"),
        F.sum("_g").cast("long").alias("rrf_micro"),
    )
    w = Window.partitionBy("query").orderBy(
        F.col("rrf_micro").desc(), "item"
    )
    return (
        fused.select(
            "query", "item", "n_systems", "rrf_micro",
            F.row_number().over(w).alias("fused_rank"),
        )
        .filter(F.col("fused_rank") <= top_k)
    )


def topk_recall(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    item_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall of an approximate top-K retrieval against the
    exact ranking — the ANN family's acceptance gate: an index
    (IVF/LSH/PQ) is only as good as the ground-truth neighbors it
    still returns, and this report is the number a probe/cell/bit
    budget gets tuned against (the FAISS recall@k protocol).

    Inputs are any two (query, item) rankings (extra columns
    ignored). All-integer: n_hit = |exact ∩ approx| per query via a
    keyed pair join; recall_ppm = floor(n_hit·1e6 / n_exact).
    Queries absent from ``approx`` (index returned nothing) report
    n_approx = 0, recall 0 — absence is a result, not a dropped row.

    Output: (query, n_exact, n_approx, n_hit, recall_ppm).

    Scale: both inputs are ALREADY top-K relations (queries × k
    rows — control-plane next to the corpus scans that produced
    them); the join is on the (query, item) key. No corpus access.
    """
    e = exact.select(
        F.col(query_col).alias("_q"), F.col(item_col).alias("_i")
    )
    a = approx.select(
        F.col(query_col).alias("_q"), F.col(item_col).alias("_i")
    )
    hits = (
        e.join(a, ["_q", "_i"])
        .groupBy("_q")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    ne = e.groupBy("_q").agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    na = a.groupBy("_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_approx")
    )
    return (
        ne.join(na, "_q", "left")
        .join(hits, "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            "n_exact",
            F.coalesce(F.col("n_approx"), F.lit(0)).cast("long")
            .alias("n_approx"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long")
            .alias("n_hit"),
            # exact integer `div` — see pair_retrieval_report
            F.expr(
                "(coalesce(n_hit, 0L) * 1000000L) div n_exact"
            ).cast("long").alias("recall_ppm"),
        )
    )


def brier_score(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """One-row Brier score of a probabilistic scorer against a gold
    boolean (Brier 1950) — the strictly proper companion of
    `calibration_report`: ECE can look good for a scorer that hedges
    everything at the base rate, the Brier score cannot (it prices
    both calibration AND resolution).

    Per-row score_micro = floor(score·1e6) is the only float touch
    (the calibration report's pinned quantization, shared so the two
    audits grade the SAME quantized scorer); the squared error
    (score_micro - y·1e6)² accumulates in DECIMAL(38,0) — micro²
    units overflow int64 past ~9M rows — and the output
    brier_micro2 = floor(Σ/n) is one integer division (≤ 1e12, back
    in BIGINT).

    Output: (n, n_pos, brier_micro2).
    """
    base = df.select(
        F.floor(F.col(score_col).cast("double") * F.lit(1_000_000.0))
        .cast("long").alias("_sm"),
        F.col(label_col).cast("boolean").alias("_y"),
    )
    err = F.col("_sm") - F.when(F.col("_y"), F.lit(1_000_000)).otherwise(
        F.lit(0)
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("_y"), 1)).cast("long").alias("n_pos"),
        F.sum(d38(err) * d38(err)).alias("_sq"),
    )
    return agg.select(
        "n", "n_pos",
        F.expr("CAST(_sq div n AS BIGINT)").alias("brier_micro2"),
    )


def ranking_mrr(
    recs: DataFrame,
    query_col: str,
    rank_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """One-row mean reciprocal rank@k over an already-ranked retrieval
    table — the "how soon is the first good hit" companion of
    `ranking_ndcg` (which prices the whole list). Binary relevance.

    All-integer: per query the first relevant rank r <= k contributes
    rr_micro = 1e6 div r (an exact integer division — no float 1/r);
    queries with no relevant hit in the top k contribute 0 but COUNT
    in the denominator (absence is a result). mrr_micro =
    floor(Σ rr_micro / n_queries).

    Output: (n_queries, n_with_rel, sum_rr_micro, mrr_micro).
    """
    first_rel = (
        recs.filter(F.col(rank_col) <= k)
        .groupBy(query_col)
        .agg(
            F.min(
                F.when(F.col(rel_col).cast("boolean"), F.col(rank_col))
            ).alias("_fr")
        )
    )
    agg = first_rel.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.count("_fr").cast("long").alias("n_with_rel"),
        F.sum(
            F.when(
                F.col("_fr").isNotNull(),
                F.expr("1000000L div _fr"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("sum_rr_micro"),
    )
    return agg.select(
        "n_queries", "n_with_rel", "sum_rr_micro",
        F.expr("sum_rr_micro div n_queries").cast("long")
        .alias("mrr_micro"),
    )


def power_analysis(
    units: DataFrame,
    value_col: str,
    mde_ppm: int = 50_000,
    alpha: float = 0.05,
    power: float = 0.8,
) -> DataFrame:
    """Two-sample experiment design: the per-arm sample size needed to
    detect a relative effect of ``mde_ppm`` (default 5%) on the unit
    metric at the given significance and power —

        n/arm = 2·(z_{1−α/2} + z_power)² · σ² / (mde·μ)²

    the missing DESIGN step in front of the readout family
    (ab_test_report says what happened; this says how long to run).

    Exactness: the z constant is computed ONCE here and injected as a
    round-6 literal (the SPRT log-table convention); μ² and the
    sample variance expand into exact integer moments so the whole
    estimate is ONE pinned double

        n = ceil( C · 10¹² · n·(n·SS − S²)
                  / (mde² · (n−1) · S²) )

    identical on any IEEE engine. n < 2 units or S = 0 yields NULL
    (no variance or no mean to size against).

    Output: one row (n_units, mu_r, sd_r, n_required, feasible) —
    feasible = the observed corpus could already populate both arms.

    Scale: one per-unit aggregate; moments lift to DECIMAL(38,0).
    """
    from math import sqrt as _sqrt

    if not 0 < alpha < 1 or not 0 < power < 1:
        raise ValueError("alpha and power must be in (0, 1)")
    # inverse-normal quantiles via Acklam's rational approximation is
    # overkill here: the two standard design points are injected as
    # literals (computed once, like the SPRT log table); other
    # (alpha, power) pairs extend _Z the same way
    _Z = {0.975: 1.959964, 0.95: 1.644854, 0.8: 0.841621, 0.9: 1.281552}
    za = _Z.get(round(1 - alpha / 2, 6))
    zb = _Z.get(round(power, 6))
    if za is None or zb is None:
        raise ValueError(
            "alpha/power outside the injected z table "
            f"(have quantiles {sorted(_Z)})"
        )
    C = round(2 * (za + zb) ** 2, 6)
    m = units.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum(F.col(value_col)), F.lit(0))
        .cast("long").alias("s"),
        d38(F.coalesce(
            F.sum(d38(F.col(value_col)) * F.col(value_col)), F.lit(0)
        )).alias("ss"),
    )
    nD = F.col("n").cast("double")
    var_num = d38(F.col("n")) * F.col("ss") - d38(F.col("s")) * F.col("s")
    mu = F.col("s").cast("double") / nD
    sd = F.sqrt(
        var_num.cast("double") / (nD * (nD - F.lit(1.0)))
    )
    # the finish is double anyway: cast the EXACT integer moments to
    # double first, then multiply in pinned order — no DECIMAL(38)
    # ceiling to outgrow at any corpus size
    num = var_num.cast("double") * F.lit(1e12) * nD
    den = (
        F.lit(float(mde_ppm) * float(mde_ppm))
        * (F.col("n") - 1).cast("double")
        * (F.col("s").cast("double") * F.col("s").cast("double"))
    )
    n_req = F.ceil(F.lit(C) * num / den).cast("long")
    ok = (F.col("n") >= 2) & (F.col("s") != 0)
    return m.select(
        F.col("n").alias("n_units"),
        F.when(ok, F.round(mu, 6)).alias("mu_r"),
        F.when(ok, F.round(sd, 6)).alias("sd_r"),
        F.when(ok, n_req).alias("n_required"),
        F.when(ok, nD >= 2 * n_req).alias("feasible"),
    )


def effect_size_report(
    units: DataFrame, value_col: str, arm_col: str
) -> DataFrame:
    """Standardized effect sizes between two arms — the magnitude
    companion of `ab_test_report`'s significance verdict and
    `cliffs_delta`'s ordinal one (a significant-but-tiny d is the
    classic big-n trap): Cohen's d on the pooled SD, Hedges' g
    (the small-sample bias correction J = 1 − 3/(4ν−1), ν = n_a+n_b−2),
    and Glass's Δ on the CONTROL arm's SD alone (arm 1 is control —
    use when the treatment changes the variance too).

    Exactness: per-arm moments (n, Σv, Σv²) are exact DECIMAL(38,0)
    integers; every derived quantity is ONE pinned float chain over
    their double casts —

        mean_k = s_k/n_k,  (n_k−1)·var_k = (n_k·ss_k − s_k²)/n_k,
        sp² = (A_a/n_a + A_b/n_b)/ν,  d = (mean_a − mean_b)/√sp²

    — so both engines evaluate the same IEEE tree. NULL when either
    arm has < 2 units or a needed variance is 0.

    Output: ONE row — (n_a, n_b, mean_a_r, mean_b_r, d_r, g_r,
    glass_r), round-6.

    Scale: one map-side-combined aggregation; no window, no join.
    """
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
    # one pinned float chain, SQL text shared verbatim with the oracle
    out = agg.selectExpr(
        "*",
        "CAST(n_a AS DOUBLE) AS na_d",
        "CAST(n_b AS DOUBLE) AS nb_d",
        "CAST(s_a AS DOUBLE) AS sa_d",
        "CAST(s_b AS DOUBLE) AS sb_d",
        "CAST(ss_a AS DOUBLE) AS ssa_d",
        "CAST(ss_b AS DOUBLE) AS ssb_d",
    ).selectExpr(
        "n_a", "n_b",
        "round(sa_d / na_d, 6) AS mean_a_r",
        "round(sb_d / nb_d, 6) AS mean_b_r",
        "(na_d * ssa_d - sa_d * sa_d) / na_d AS A_a",
        "(nb_d * ssb_d - sb_d * sb_d) / nb_d AS A_b",
        "sa_d / na_d - sb_d / nb_d AS md",
        "na_d + nb_d - 2 AS nu",
        "nb_d", "na_d",
    )
    return out.selectExpr(
        "n_a", "n_b", "mean_a_r", "mean_b_r",
        "CASE WHEN n_a > 1 AND n_b > 1 AND (A_a + A_b) / nu > 0 THEN "
        "round(md / sqrt((A_a + A_b) / nu), 6) END AS d_r",
        "CASE WHEN n_a > 1 AND n_b > 1 AND (A_a + A_b) / nu > 0 THEN "
        "round((1.0 - 3.0 / (4.0 * nu - 1.0)) "
        "* (md / sqrt((A_a + A_b) / nu)), 6) END AS g_r",
        "CASE WHEN n_b > 1 AND A_b / (nb_d - 1) > 0 THEN "
        "round(md / sqrt(A_b / (nb_d - 1)), 6) END AS glass_r",
    )


def quantile_treatment_effect(
    units: DataFrame,
    value_col: str,
    arm_col: str,
    deciles: tuple[int, ...] = (1, 2, 3, 4, 5, 6, 7, 8, 9),
) -> DataFrame:
    """Quantile treatment effects — the DISTRIBUTIONAL A/B readout the
    mean-based tests can't give: a treatment that lifts the median
    but craters the tail shows a flat mean; comparing the arms decile
    by decile shows WHERE the distribution moved.

    Each decile value is the exact order statistic at rank
    ceil(d·n/10) = (d·n + 9) div 10 within its arm (value-ordered
    row_number — the value at a rank is deterministic under ties),
    so every output column is exact integer arithmetic; diff is a
    plain integer subtraction.

    Output per decile: (decile, n_a, n_b, qa, qb, diff).

    Scale: one rank window PARTITIONED BY ARM over the unit relation
    (units, not events). At billions of units per arm the single
    per-arm sort partition is the honest cost of EXACT quantiles —
    the sketch path (`histogram_quantiles`, KLL) is the documented
    scale alternative; this operator is the exact referee.
    """
    ds = sorted(set(int(d) for d in deciles))
    if not ds or ds[0] < 1 or ds[-1] > 9:
        raise ValueError("deciles must be within 1..9")
    base = units.select(
        F.col(value_col).cast("long").alias("_v"),
        F.col(arm_col).cast("int").alias("_a"),
    ).filter(F.col("_v").isNotNull())
    w = Window.partitionBy("_a").orderBy("_v")
    ranked = base.select(
        "_a", "_v",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("_a")).alias("_n"),
    )
    dd = ranked.crossJoin(
        F.broadcast(
            ranked.sparkSession.createDataFrame(
                [(d,) for d in ds], "decile int"
            )
        )
    ).filter(
        F.col("_rn") == F.expr("(decile * _n + 9) div 10")
    )
    a = dd.filter(F.col("_a") == 0).select(
        "decile", F.col("_n").alias("n_a"), F.col("_v").alias("qa")
    )
    b = dd.filter(F.col("_a") == 1).select(
        "decile", F.col("_n").alias("n_b"), F.col("_v").alias("qb")
    )
    return a.join(b, "decile").select(
        "decile", "n_a", "n_b", "qa", "qb",
        (F.col("qb") - F.col("qa")).alias("diff"),
    )


def auc_from_scores(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """One-row exact ROC AUC of a probabilistic scorer against a gold
    boolean — the threshold-free RANKING companion of
    `calibration_report` (is the score well-ordered?) and
    `brier_score` (is it well-priced?): AUC = P(score⁺ > score⁻) with
    ties at half, i.e. the Mann-Whitney identity (Hanley & McNeil
    1982), so the same doubled-midrank machinery prices it exactly.

    Per-row score_micro = floor(score·1e6) is the only float touch
    (the family's shared pinned quantization, so all three audits
    grade the SAME quantized scorer). One cumulative window over the
    DISTINCT-score relation gives 2·midrank = 2·below + t + 1; with
    u_pos2 = 2·U⁺ = R⁺2 − n_pos(n_pos+1):

        auc_ppm  = (u_pos2 · 500000)  div (n_pos · n_neg)
        gini_ppm = (u_pos2 · 1000000) div (n_pos · n_neg) − 1e6

    — all integers, NULL when either class is empty.

    Output: (n_pos, n_neg, u_pos2, auc_ppm, gini_ppm).

    Scale: the window relation is DISTINCT quantized scores (≤ 1e6+1
    rows by construction — the micro grid), never the corpus; the
    per-score counts are one map-side-combined aggregation.
    """
    base = df.select(
        F.floor(F.col(score_col).cast("double") * F.lit(1_000_000.0))
        .cast("long").alias("_sm"),
        F.col(label_col).cast("boolean").alias("_y"),
    )
    per = base.groupBy("_sm").agg(
        F.count(F.when(F.col("_y"), 1)).alias("np_v"),
        F.count(F.when(~F.col("_y"), 1)).alias("nn_v"),
    ).withColumn("t_v", F.col("np_v") + F.col("nn_v"))
    agg = rank_table(per, "_sm").agg(
        F.sum("np_v").cast("long").alias("n_pos"),
        F.sum("nn_v").cast("long").alias("n_neg"),
        F.sum(d38(F.col("np_v")) * d38(rank2())).alias("_rp2"),
    )
    u2 = F.col("_rp2") - d38(F.col("n_pos")) * (F.col("n_pos") + 1)
    both = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    return agg.select(
        "n_pos", "n_neg",
        u2.cast("long").alias("u_pos2"),
    ).select(
        "n_pos", "n_neg", "u_pos2",
        F.when(
            both,
            F.expr(
                "CAST((CAST(u_pos2 AS DECIMAL(38,0)) * 500000) "
                "div (CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)"
            ),
        ).alias("auc_ppm"),
        F.when(
            both,
            F.expr(
                "CAST((CAST(u_pos2 AS DECIMAL(38,0)) * 1000000) "
                "div (CAST(n_pos AS DECIMAL(38,0)) * n_neg) "
                "- 1000000 AS BIGINT)"
            ),
        ).alias("gini_ppm"),
    )


def _threshold_relation(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """The shared ROC/PR spine: one row per DISTINCT quantized score
    (the family's pinned floor-micro grid, so every threshold audit
    grades the SAME quantized scorer as `auc_from_scores`) carrying
    the exact confusion counts of the rule "predict positive iff
    score_micro >= threshold":

        tp/fp from ONE descending cumulative window over the
        distinct-score relation (the MWU class — never the corpus);
        fn = n_pos − tp, tn = n_neg − fp; np_v = positives AT the
        threshold (the PR step's rise, consumed by AP).

    Scale: per-score counts are one map-side-combined aggregation;
    the window walks ≤ 1e6+1 rows by construction.
    """
    base = df.select(
        F.floor(F.col(score_col).cast("double") * F.lit(1_000_000.0))
        .cast("long").alias("_sm"),
        F.col(label_col).cast("boolean").alias("_y"),
    )
    per = base.groupBy("_sm").agg(
        F.count(F.when(F.col("_y"), 1)).alias("np_v"),
        F.count(F.when(~F.col("_y"), 1)).alias("nn_v"),
    )
    wdesc = (
        Window.partitionBy()
        .orderBy(F.col("_sm").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy()
    return per.select(
        "_sm", "np_v",
        F.sum("np_v").over(wdesc).cast("long").alias("tp"),
        F.sum("nn_v").over(wdesc).cast("long").alias("fp"),
        F.sum("np_v").over(wall).cast("long").alias("_p"),
        F.sum("nn_v").over(wall).cast("long").alias("_n"),
    )


_F1_PICO = (
    "CAST((CAST(tp AS DECIMAL(38,0)) * 2000000000000) "
    "div (CAST(tp AS DECIMAL(38,0)) + tp + fp + fn) AS BIGINT)"
)


def threshold_metrics(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """The full ROC/PR table of a probabilistic scorer against a gold
    boolean — the per-threshold companion of `auc_from_scores` (which
    integrates this curve): one row per distinct quantized score with
    the exact confusion quadrant and the derived rates, every ratio
    an exact cross-multiplied integer (floor ppm; F1 in floor pico so
    near-ties still order):

        recall_ppm = tp·1e6 div P      fpr_ppm  = fp·1e6 div N
        precision_ppm = tp·1e6 div (tp+fp)   (tp+fp ≥ 1: the
        threshold is an observed score, so its own row is predicted
        positive)        f1_pico = 2·tp·1e12 div (2·tp+fp+fn)

    NULL rates when the corresponding class is empty. Output:
    (score_micro, tp, fp, fn, tn, precision_ppm, recall_ppm,
    fpr_ppm, f1_pico), one row per distinct score_micro.

    Scale: the `_threshold_relation` spine — bounded by the micro
    grid, never the corpus.
    """
    rel = _threshold_relation(df, score_col, label_col)
    out = rel.select(
        F.col("_sm").alias("score_micro"), "tp", "fp",
        (F.col("_p") - F.col("tp")).alias("fn"),
        (F.col("_n") - F.col("fp")).alias("tn"),
        F.col("_p").alias("_p"), F.col("_n").alias("_n"),
    )
    return out.select(
        "score_micro", "tp", "fp", "fn", "tn",
        F.expr(
            "CAST((CAST(tp AS DECIMAL(38,0)) * 1000000) "
            "div (CAST(tp AS DECIMAL(38,0)) + fp) AS BIGINT)"
        ).alias("precision_ppm"),
        F.when(
            F.col("_p") > 0,
            F.expr(
                "CAST((CAST(tp AS DECIMAL(38,0)) * 1000000) "
                "div CAST(_p AS DECIMAL(38,0)) AS BIGINT)"
            ),
        ).alias("recall_ppm"),
        F.when(
            F.col("_n") > 0,
            F.expr(
                "CAST((CAST(fp AS DECIMAL(38,0)) * 1000000) "
                "div CAST(_n AS DECIMAL(38,0)) AS BIGINT)"
            ),
        ).alias("fpr_ppm"),
        F.when(
            F.expr("2 * tp + fp + fn") > 0, F.expr(_F1_PICO)
        ).alias("f1_pico"),
    )


def best_threshold_report(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """The operating point: ONE row — the threshold maximizing the
    floor-pico F1 over the `threshold_metrics` table (ties → larger
    score_micro: the more conservative selection), with the full
    confusion quadrant, accuracy, and Matthews correlation at that
    cut. MCC's numerator tp·tn − fp·fn and the two denominator
    factors (tp+fp)(tp+fn) and (tn+fp)(tn+fn) are exact integers
    (each factor ≤ n², double-exact through n ≈ 9·10⁷ — past that
    the DECIMAL→DOUBLE cast rounds once, identically pinned in both
    engines); the finish is one pinned float chain
    round(num / (sqrt(d1)·sqrt(d2)), 6), NULL when any margin is
    empty.

    Output: (score_micro, tp, fp, fn, tn, f1_pico, acc_ppm, mcc_r).

    Scale: an argmax window over the bounded distinct-score relation.
    """
    tm = threshold_metrics(df, score_col, label_col)
    wpick = Window.orderBy(
        F.col("f1_pico").desc_nulls_last(), F.col("score_micro").desc()
    )
    picked = tm.withColumn(
        "_rn", F.row_number().over(wpick)
    ).filter(F.col("_rn") == 1)
    num = d38(F.col("tp")) * F.col("tn") - d38(F.col("fp")) * F.col("fn")
    d1 = (d38(F.col("tp")) + F.col("fp")) * (d38(F.col("tp")) + F.col("fn"))
    d2 = (d38(F.col("tn")) + F.col("fp")) * (d38(F.col("tn")) + F.col("fn"))
    return picked.select(
        "score_micro", "tp", "fp", "fn", "tn", "f1_pico",
        F.expr(
            "CAST(((CAST(tp AS DECIMAL(38,0)) + tn) * 1000000) "
            "div (CAST(tp AS DECIMAL(38,0)) + fp + fn + tn) AS BIGINT)"
        ).alias("acc_ppm"),
        F.when(
            (d1 > 0) & (d2 > 0),
            F.round(
                num.cast("double")
                / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double"))),
                6,
            ),
        ).alias("mcc_r"),
    )


def threshold_transfer(
    df: DataFrame,
    score_col: str,
    label_col: str,
    split_col: str,
    pick_split: str = "train",
    eval_split: str = "test",
) -> DataFrame:
    """The leakage-honest operating point: pick the best-F1 threshold
    on ``pick_split`` (via `best_threshold_report`), then price the
    confusion on the HELD-OUT ``eval_split`` — the number you can
    actually promise in production, vs the in-sample F1 that
    `doc_best_f1` reports (their gap IS the overfitting of the
    threshold choice). Same floor-micro quantization family-wide.

    Output: ONE row — (thr_micro, tp, fp, fn, tn, precision_ppm,
    recall_ppm, f1_pico), all exact integers; empty when the pick
    split has no rows (no threshold to transfer).

    Scale: the bounded-relation argmax on the pick slice + one
    aggregation over the eval slice against a broadcast 1-row
    threshold.
    """
    picked = best_threshold_report(
        df.filter(F.col(split_col) == pick_split), score_col, label_col
    ).select(F.col("score_micro").alias("thr_micro"))
    ev = df.filter(F.col(split_col) == eval_split).select(
        F.floor(F.col(score_col).cast("double") * F.lit(1_000_000.0))
        .cast("long").alias("_sm"),
        F.col(label_col).cast("boolean").alias("_y"),
    )
    pos = F.col("_sm") >= F.col("thr_micro")
    agg = ev.join(F.broadcast(picked)).groupBy("thr_micro").agg(
        F.count(F.when(F.col("_y") & pos, 1)).cast("long").alias("tp"),
        F.count(F.when(~F.col("_y") & pos, 1)).cast("long").alias("fp"),
        F.count(F.when(F.col("_y") & ~pos, 1)).cast("long").alias("fn"),
        F.count(F.when(~F.col("_y") & ~pos, 1)).cast("long").alias("tn"),
    )
    return agg.selectExpr(
        "thr_micro", "tp", "fp", "fn", "tn",
        "CASE WHEN tp + fp > 0 THEN CAST((CAST(tp AS DECIMAL(38,0)) "
        "* 1000000) div (CAST(tp AS DECIMAL(38,0)) + fp) AS BIGINT) "
        "END AS precision_ppm",
        "CASE WHEN tp + fn > 0 THEN CAST((CAST(tp AS DECIMAL(38,0)) "
        "* 1000000) div (CAST(tp AS DECIMAL(38,0)) + fn) AS BIGINT) "
        "END AS recall_ppm",
        "CASE WHEN 2 * tp + fp + fn > 0 THEN "
        "CAST((CAST(tp AS DECIMAL(38,0)) * 2000000000000) "
        "div (CAST(tp AS DECIMAL(38,0)) + tp + fp + fn) AS BIGINT) "
        "END AS f1_pico",
    )


def average_precision(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """One-row average precision (the PR curve's step integral — the
    class-imbalance-honest rank metric beside `auc_from_scores`): AP
    = Σ_t (Δtp_t / P) · precision_t over thresholds, each term an
    exact floor-pico integer

        term_pico = (np_v · tp · 1e12) div (P · (tp + fp))

    summed order-free, so ap_pico is exact and identical cross-engine
    (the documented floor-per-term convention: ≤ 1e-12·#thresholds
    below the real-valued AP). Prevalence (the AP of a random scorer)
    rides along for calibration of the number.

    Output: (n_pos, n_neg, ap_pico, prevalence_ppm).

    Scale: the `_threshold_relation` spine; the sum is one
    aggregation over the bounded grid.
    """
    rel = _threshold_relation(df, score_col, label_col)
    term = F.expr(
        "CAST((CAST(np_v AS DECIMAL(38,0)) * tp * 1000000000000) "
        "div (CAST(_p AS DECIMAL(38,0)) * (tp + fp)) AS BIGINT)"
    )
    agg = rel.agg(
        F.max("_p").alias("n_pos"),
        F.max("_n").alias("n_neg"),
        F.sum(F.when(F.col("_p") > 0, term)).alias("_ap"),
    )
    return agg.select(
        "n_pos", "n_neg",
        F.when(F.col("n_pos") > 0, F.col("_ap"))
        .cast("long").alias("ap_pico"),
        F.when(
            F.col("n_pos") + F.col("n_neg") > 0,
            F.expr(
                "CAST((CAST(n_pos AS DECIMAL(38,0)) * 1000000) "
                "div (CAST(n_pos AS DECIMAL(38,0)) + n_neg) AS BIGINT)"
            ),
        ).alias("prevalence_ppm"),
    )


def ranking_map(
    recs: DataFrame,
    query_col: str,
    rank_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """One-row mean average precision@k over an already-ranked
    retrieval table — the whole-list companion of `ranking_mrr`
    (first hit only) and `ranking_ndcg` (graded positions): AP
    averages precision AT EACH relevant position, so burying the
    second and third hits costs what MRR cannot see. Binary
    relevance.

    All-integer: at each relevant rank r ≤ k, precision_micro =
    (cum_rel·1e6) div r (cum_rel from a per-query rank-ordered
    window); per query AP_micro = (Σ precision_micro) div n_rel_in_k
    — normalized by the query's relevant count INSIDE the top-k list
    (the labeled list is the ground truth here; queries with no
    relevant hit score 0 and stay in the denominator, the
    `ranking_mrr` convention); MAP_micro = (Σ AP_micro) div
    n_queries.

    Output: (n_queries, n_with_rel, map_micro).

    Scale: input is a top-k relation (queries × k rows —
    control-plane); one per-query window on its own key + two
    aggregations. No corpus access.
    """
    base = recs.select(
        F.col(query_col).alias("_q"),
        F.col(rank_col).cast("long").alias("_r"),
        F.col(rel_col).cast("boolean").alias("_rel"),
    ).filter((F.col("_r") >= 1) & (F.col("_r") <= k))
    w = (
        Window.partitionBy("_q")
        .orderBy("_r")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = base.select(
        "_q", "_r", "_rel",
        F.sum(F.col("_rel").cast("long")).over(w).alias("_cum"),
    )
    per = cum.groupBy("_q").agg(
        F.sum(
            F.when(
                F.col("_rel"),
                F.expr("(_cum * 1000000L) div _r"),
            ).otherwise(F.lit(0))
        ).alias("_psum"),
        F.count(F.when(F.col("_rel"), 1)).alias("_nrel"),
    )
    ap = per.select(
        "_q", "_nrel",
        F.when(
            F.col("_nrel") > 0,
            F.expr("_psum div _nrel"),
        ).otherwise(F.lit(0)).cast("long").alias("_ap"),
    )
    return ap.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.count(F.when(F.col("_nrel") > 0, 1)).cast("long")
        .alias("n_with_rel"),
        F.expr("CAST(sum(_ap) div count(*) AS BIGINT)").alias("map_micro"),
    )


def cumulative_gains(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Cumulative-gains / lift table by score decile — the CAMPAIGN
    reading of a classifier next to `calibration_report`'s
    reliability reading: "if we act on the top 30% by score, what
    share of all positives do we capture, and at how many times the
    base rate?". The curve a selection budget is tuned against.

    Deciles come from ntile over (score DESC, id) — best-scored
    first, id tie-break pinned; per cumulative prefix (top 1..b
    bins):

        gain_ppm = (cum_pos · 1e6) div P
        lift_ppm = (cum_pos · N · 1e6) div (cum_n · P)

    — exact integer cross-multiplied ratios (N rows, P positives
    total), so random targeting reads lift_ppm ≈ 1e6 with no float
    anywhere.

    Output: (bin, n, n_pos, cum_n, cum_pos, gain_ppm, lift_ppm).

    Scale: the same global (score, id) sort contract as
    `calibration_report` — at 100 TB replace ntile with precomputed
    approx-quantile score boundaries (one pass + broadcast); the
    cumulative windows run over the n_bins-row relation.
    """
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
    base = df.select(
        F.ntile(n_bins).over(w).alias("bin"),
        F.col(label_col).cast("boolean").alias("_y"),
    )
    bins = base.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("_y"), 1)).alias("n_pos"),
    )
    wc = (
        Window.partitionBy()
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy()
    cum = bins.select(
        "bin", "n", "n_pos",
        F.sum("n").over(wc).alias("cum_n"),
        F.sum("n_pos").over(wc).alias("cum_pos"),
        F.sum("n").over(wall).alias("_nt"),
        F.sum("n_pos").over(wall).alias("_pt"),
    )
    return cum.select(
        F.col("bin").cast("long").alias("bin"),
        "n", "n_pos",
        F.col("cum_n").cast("long").alias("cum_n"),
        F.col("cum_pos").cast("long").alias("cum_pos"),
        F.when(
            F.col("_pt") > 0,
            F.expr("(cum_pos * 1000000L) div _pt"),
        ).cast("long").alias("gain_ppm"),
        F.when(
            F.col("_pt") > 0,
            F.expr(
                "CAST((CAST(cum_pos AS DECIMAL(38,0)) * _nt * 1000000) "
                "div (CAST(cum_n AS DECIMAL(38,0)) * _pt) AS BIGINT)"
            ),
        ).alias("lift_ppm"),
    )


def uplift_deciles(
    df: DataFrame,
    score_col: str,
    treat_col: str,
    label_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Uplift-by-decile / Qini-style table (Radcliffe 2007) — the
    EXPERIMENT reading of a targeting score next to
    `cumulative_gains`' single-arm reading: rank ALL units by the
    score, then per cumulative prefix compare treated vs control
    conversion, so the table says where the score actually finds
    INCREMENTAL converters (top deciles positive, tail ~0 = a real
    uplift signal; flat = the score targets people who convert
    anyway).

    Deciles from ntile over (score DESC, id) pooled across arms (the
    standard protocol — per-arm ranking would break comparability).
    Per cumulative prefix, exact integer ppm:

        uplift_ppm = (cum_pt·1e6) div cum_nt − (cum_pc·1e6) div cum_nc
        qini_micro = cum_pt·1e6 − (cum_pc·cum_nt·1e6) div cum_nc

    (Qini's control term rescales control conversions to the treated
    prefix size). NULL when a prefix lacks one arm entirely.

    Output: (bin, n_t, n_c, pos_t, pos_c, cum_nt, cum_nc, cum_pt,
    cum_pc, uplift_ppm, qini_micro).

    Scale: the `calibration_report` ntile contract (global
    (score, id) sort; 100 TB swap = precomputed score boundaries);
    the cumulative windows run over the n_bins-row relation.
    """
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
    base = df.select(
        F.ntile(n_bins).over(w).alias("bin"),
        F.col(treat_col).cast("int").alias("_t"),
        F.col(label_col).cast("boolean").alias("_y"),
    )
    bins = base.groupBy("bin").agg(
        F.count(F.when(F.col("_t") == 1, 1)).alias("n_t"),
        F.count(F.when(F.col("_t") == 0, 1)).alias("n_c"),
        F.count(F.when((F.col("_t") == 1) & F.col("_y"), 1))
        .alias("pos_t"),
        F.count(F.when((F.col("_t") == 0) & F.col("_y"), 1))
        .alias("pos_c"),
    )
    wc = (
        Window.partitionBy()
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = bins.select(
        "bin", "n_t", "n_c", "pos_t", "pos_c",
        F.sum("n_t").over(wc).alias("cum_nt"),
        F.sum("n_c").over(wc).alias("cum_nc"),
        F.sum("pos_t").over(wc).alias("cum_pt"),
        F.sum("pos_c").over(wc).alias("cum_pc"),
    )
    both = (F.col("cum_nt") > 0) & (F.col("cum_nc") > 0)
    return cum.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n_t").cast("long").alias("n_t"),
        F.col("n_c").cast("long").alias("n_c"),
        F.col("pos_t").cast("long").alias("pos_t"),
        F.col("pos_c").cast("long").alias("pos_c"),
        F.col("cum_nt").cast("long").alias("cum_nt"),
        F.col("cum_nc").cast("long").alias("cum_nc"),
        F.col("cum_pt").cast("long").alias("cum_pt"),
        F.col("cum_pc").cast("long").alias("cum_pc"),
        F.when(
            both,
            F.expr(
                "(cum_pt * 1000000L) div cum_nt"
                " - (cum_pc * 1000000L) div cum_nc"
            ),
        ).cast("long").alias("uplift_ppm"),
        F.when(
            both,
            F.expr(
                "cum_pt * 1000000L - CAST((CAST(cum_pc AS DECIMAL(38,0))"
                " * cum_nt * 1000000) div cum_nc AS BIGINT)"
            ),
        ).cast("long").alias("qini_micro"),
    )


def _rank_threshold_bin(cum_col: str, n_col: str, n_bins: int):
    """Exact-integer decile bin of a tie-group's LAST row under the
    ntile rank thresholds T_b = b·(N div nb) + min(b, N mod nb):
    bin = smallest b with T_b ≥ cum. Pure positive-operand integer
    arithmetic (ceil via (a+d-1) div d), so it evaluates identically
    in Spark and DuckDB; greatest(q,1) keeps the dead ELSE branch
    division-safe under ANSI mode when N < n_bins (q = 0 ⇒ every
    group satisfies the WHEN arm)."""
    return F.expr(
        f"CASE WHEN {cum_col} <= ({n_col} % {n_bins})"
        f" * ({n_col} div {n_bins} + 1)"
        f" THEN ({cum_col} + {n_col} div {n_bins})"
        f" div ({n_col} div {n_bins} + 1)"
        f" ELSE ({cum_col} - {n_col} % {n_bins}"
        f" + greatest({n_col} div {n_bins}, 1) - 1)"
        f" div greatest({n_col} div {n_bins}, 1) END"
    )


def cumulative_gains_from_counts(
    counts: DataFrame, n_bins: int = 10
) -> DataFrame:
    """Finisher for `cumulative_gains_ranked` over the mergeable
    per-score state ``(_s, n_v, p_v)`` — rows and positives per
    DISTINCT score value. The counts merge by SUM, so a streaming
    fold (or a union of per-segment partials re-summed) finishes
    through this function bit-identically to the one-shot batch
    operator; tests/test_operators.py pins that fold-equality.

    Stages: one cumulative window over the distinct-score relation
    (value-space sized, never the corpus), the exact ntile rank
    thresholds from (N, P) = the summed state, a groupBy on the
    ≤ n_bins bin labels, and a dense 1..n_bins spine so bins fully
    swallowed by a tie group still report their cumulative row.
    """
    per = counts.groupBy("_s").agg(
        F.sum("n_v").alias("n_v"), F.sum("p_v").alias("p_v")
    )
    # the tiny distinct-score relation feeds THREE branches (totals,
    # cumulative, spine) — materialize it once so an expensive
    # upstream scoring pipeline isn't recomputed per branch (the
    # parts_pagerank lineage-discipline convention)
    per = per.localCheckpoint()
    tot = per.agg(
        F.coalesce(F.sum("n_v"), F.lit(0)).cast("long").alias("_nt"),
        F.coalesce(F.sum("p_v"), F.lit(0)).cast("long").alias("_pt"),
    )
    w = (
        Window.partitionBy()
        .orderBy(F.col("_s").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select(
        "n_v", "p_v", F.sum("n_v").over(w).alias("_ca")
    )
    binned = cum.join(F.broadcast(tot)).select(
        "n_v", "p_v",
        _rank_threshold_bin("_ca", "_nt", n_bins).alias("bin"),
    )
    pb = binned.groupBy("bin").agg(
        F.sum("n_v").alias("n"), F.sum("p_v").alias("n_pos")
    )
    spine = tot.select(
        F.explode(F.sequence(F.lit(1), F.lit(n_bins))).alias("bin"),
        "_nt", "_pt",
    )
    wc = (
        Window.partitionBy()
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    j = (
        spine.join(pb, "bin", "left")
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.coalesce("n_pos", F.lit(0)).cast("long").alias("n_pos"),
            "_nt", "_pt",
        )
        .select(
            "bin", "n", "n_pos",
            F.sum("n").over(wc).cast("long").alias("cum_n"),
            F.sum("n_pos").over(wc).cast("long").alias("cum_pos"),
            "_nt", "_pt",
        )
    )
    return j.select(
        "bin", "n", "n_pos", "cum_n", "cum_pos",
        F.when(
            F.col("_pt") > 0,
            F.expr("(cum_pos * 1000000L) div _pt"),
        ).cast("long").alias("gain_ppm"),
        F.when(
            (F.col("_pt") > 0) & (F.col("cum_n") > 0),
            F.expr(
                "CAST((CAST(cum_pos AS DECIMAL(38,0)) * _nt * 1000000) "
                "div (CAST(cum_n AS DECIMAL(38,0)) * _pt) AS BIGINT)"
            ),
        ).alias("lift_ppm"),
    )


def cumulative_gains_ranked(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """`cumulative_gains` re-expressed on MERGEABLE rank-threshold
    deciles — the 100 TB path the ntile variant's docstring promises:
    no corpus-sized single-partition WindowExec anywhere.

    Contract difference vs the ntile variant (deliberate, documented):
    deciles are cut at the exact ntile rank thresholds T_b but a tie
    group (rows sharing one score value) is kept TOGETHER in the bin
    of its last-ranked row, instead of being split by an id
    tie-break. When every boundary falls between distinct scores the
    two variants agree bit-for-bit (pinned by test); when a tie group
    straddles a boundary, ties-together is the deterministic,
    id-free reading (and the only one computable from mergeable
    (score → count) state — an id split depends on label order
    inside the tie group, which counts cannot see).

    ``score_col`` must be exactly groupable cross-engine: an integer,
    or the family's pinned floor-micro quantization of a float score
    (`auc_from_scores`' score_micro — quantize BEFORE calling).

    Output: exactly `cumulative_gains`' schema, always n_bins rows
    (a bin fully swallowed by a tie group reports n = 0 and carries
    the cumulative row forward).

    Scale: per-score counts are one map-side-combined aggregation;
    the only windows run over the distinct-score relation (for a
    floor-micro score, ≤ 1e6+1 rows by construction — the
    `auc_from_scores` class) and the n_bins-row spine.
    """
    counts = df.groupBy(F.col(score_col).alias("_s")).agg(
        F.count(F.lit(1)).alias("n_v"),
        F.count(F.when(F.col(label_col).cast("boolean"), 1)).alias("p_v"),
    )
    return cumulative_gains_from_counts(counts, n_bins=n_bins)


def uplift_deciles_from_counts(
    counts: DataFrame, n_bins: int = 10
) -> DataFrame:
    """Finisher for `uplift_deciles_ranked` over the mergeable
    per-score state ``(_s, n_t, n_c, pos_t, pos_c)`` — per DISTINCT
    score value, unit and converter counts per arm. All four counts
    merge by SUM (fold-equality pinned in tests); binning and the
    cumulative table ride the same rank-threshold machinery as
    `cumulative_gains_from_counts` (pooled arms — n = n_t + n_c sets
    the thresholds, the standard uplift protocol)."""
    per = counts.groupBy("_s").agg(
        F.sum("n_t").alias("n_t"),
        F.sum("n_c").alias("n_c"),
        F.sum("pos_t").alias("pos_t"),
        F.sum("pos_c").alias("pos_c"),
    )
    # three branches off the tiny distinct-score relation — see
    # cumulative_gains_from_counts
    per = per.localCheckpoint()
    tot = per.agg(
        F.coalesce(F.sum(F.col("n_t") + F.col("n_c")), F.lit(0))
        .cast("long").alias("_nt_all")
    )
    w = (
        Window.partitionBy()
        .orderBy(F.col("_s").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select(
        "n_t", "n_c", "pos_t", "pos_c",
        F.sum(F.col("n_t") + F.col("n_c")).over(w).alias("_ca"),
    )
    binned = cum.join(F.broadcast(tot)).select(
        "n_t", "n_c", "pos_t", "pos_c",
        _rank_threshold_bin("_ca", "_nt_all", n_bins).alias("bin"),
    )
    pb = binned.groupBy("bin").agg(
        F.sum("n_t").alias("n_t"),
        F.sum("n_c").alias("n_c"),
        F.sum("pos_t").alias("pos_t"),
        F.sum("pos_c").alias("pos_c"),
    )
    spine = tot.select(
        F.explode(F.sequence(F.lit(1), F.lit(n_bins))).alias("bin")
    )
    wc = (
        Window.partitionBy()
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    j = (
        spine.join(pb, "bin", "left")
        .select(
            F.col("bin").cast("long").alias("bin"),
            *[
                F.coalesce(c, F.lit(0)).cast("long").alias(c)
                for c in ("n_t", "n_c", "pos_t", "pos_c")
            ],
        )
        .select(
            "bin", "n_t", "n_c", "pos_t", "pos_c",
            F.sum("n_t").over(wc).cast("long").alias("cum_nt"),
            F.sum("n_c").over(wc).cast("long").alias("cum_nc"),
            F.sum("pos_t").over(wc).cast("long").alias("cum_pt"),
            F.sum("pos_c").over(wc).cast("long").alias("cum_pc"),
        )
    )
    both = (F.col("cum_nt") > 0) & (F.col("cum_nc") > 0)
    return j.select(
        "bin", "n_t", "n_c", "pos_t", "pos_c",
        "cum_nt", "cum_nc", "cum_pt", "cum_pc",
        F.when(
            both,
            F.expr(
                "(cum_pt * 1000000L) div cum_nt"
                " - (cum_pc * 1000000L) div cum_nc"
            ),
        ).cast("long").alias("uplift_ppm"),
        F.when(
            both,
            F.expr(
                "cum_pt * 1000000L - CAST((CAST(cum_pc AS DECIMAL(38,0))"
                " * cum_nt * 1000000) div cum_nc AS BIGINT)"
            ),
        ).cast("long").alias("qini_micro"),
    )


def uplift_deciles_ranked(
    df: DataFrame,
    score_col: str,
    treat_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """`uplift_deciles` on mergeable rank-threshold deciles — the
    100 TB path: same ties-together contract, schema, and scale
    argument as `cumulative_gains_ranked` (see its docstring for the
    exact difference vs the ntile variant), pooled across arms. The
    score must be exactly groupable (integer cents here — no
    quantization needed)."""
    counts = df.groupBy(F.col(score_col).alias("_s")).agg(
        F.count(F.when(F.col(treat_col).cast("int") == 1, 1)).alias("n_t"),
        F.count(F.when(F.col(treat_col).cast("int") == 0, 1)).alias("n_c"),
        F.count(
            F.when(
                (F.col(treat_col).cast("int") == 1)
                & F.col(label_col).cast("boolean"),
                1,
            )
        ).alias("pos_t"),
        F.count(
            F.when(
                (F.col(treat_col).cast("int") == 0)
                & F.col(label_col).cast("boolean"),
                1,
            )
        ).alias("pos_c"),
    )
    return uplift_deciles_from_counts(counts, n_bins=n_bins)


def stratified_ate(
    df: DataFrame,
    stratum_col: str,
    treat_col: str,
    y_col: str,
) -> DataFrame:
    """One-row post-stratification average treatment effect — the
    design-based causal adjustment beside `cuped_adjusted` (covariate
    regression) and `diff_in_diff` (parallel trends): when arms are
    imbalanced across strata (cohorts, segments, platforms), the
    naive arm difference confounds stratum mix with effect; weighting
    per-stratum differences by stratum SIZE recovers the ATE under
    ignorability-within-stratum.

    ``y_col`` must be an exact integer unit (cents). Per stratum s:
    diff_micro_s = (s1·1e6) div n1 − (s0·1e6) div n0 (floored micro
    means, the repo's pinned quantization); the estimate weights by
    stratum size:

        ate_micro = (Σ_s n_s · diff_micro_s) div N

    — every term an exact integer, order-free. Strata with only one
    arm cannot estimate a difference and are DROPPED (standard;
    counted in n_dropped with their units in n_units_dropped).
    naive_micro (the unadjusted arm difference over the kept strata's
    units) rides along so the report shows what the adjustment moved.

    Output: (n_strata, n_dropped, n_units, n_units_dropped,
    ate_micro, naive_micro).

    Scale: one (stratum, arm) partial aggregation + a strata-sized
    finish — four integers per stratum on the wire; no window.
    """
    base = df.select(
        F.col(stratum_col).alias("_s"),
        F.col(treat_col).cast("int").alias("_t"),
        F.col(y_col).cast("long").alias("_y"),
    ).filter(F.col("_y").isNotNull())
    per = base.groupBy("_s").agg(
        F.count(F.when(F.col("_t") == 1, 1)).alias("n1"),
        F.count(F.when(F.col("_t") == 0, 1)).alias("n0"),
        F.sum(F.when(F.col("_t") == 1, F.col("_y"))).alias("s1"),
        F.sum(F.when(F.col("_t") == 0, F.col("_y"))).alias("s0"),
    )
    kept = per.filter((F.col("n1") > 0) & (F.col("n0") > 0))
    diff = F.expr(
        "CAST((CAST(s1 AS DECIMAL(38,0)) * 1000000) div n1 AS BIGINT)"
        " - CAST((CAST(s0 AS DECIMAL(38,0)) * 1000000) div n0 AS BIGINT)"
    )
    kterm = kept.select(
        "n1", "n0", "s1", "s0",
        ((F.col("n1") + F.col("n0")).cast("decimal(38,0)")
         * diff.cast("decimal(38,0)")).alias("_wd"),
    )
    kagg = kterm.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(F.col("n1") + F.col("n0")).alias("_n"),
        F.sum("n1").alias("_n1"),
        F.sum("n0").alias("_n0"),
        F.sum("s1").alias("_s1"),
        F.sum("s0").alias("_s0"),
        F.sum("_wd").alias("_wsum"),
    )
    dropped = per.filter((F.col("n1") == 0) | (F.col("n0") == 0)).agg(
        F.count(F.lit(1)).cast("long").alias("n_dropped"),
        F.coalesce(F.sum(F.col("n1") + F.col("n0")), F.lit(0))
        .cast("long").alias("n_units_dropped"),
    )
    naive = F.expr(
        "CAST((CAST(_s1 AS DECIMAL(38,0)) * 1000000) div _n1 AS BIGINT)"
        " - CAST((CAST(_s0 AS DECIMAL(38,0)) * 1000000) div _n0 AS BIGINT)"
    )
    return kagg.join(F.broadcast(dropped)).select(
        "n_strata", "n_dropped",
        F.col("_n").cast("long").alias("n_units"),
        "n_units_dropped",
        F.when(
            F.col("_n") > 0,
            F.expr("CAST(_wsum div _n AS DECIMAL(38,0))"),
        ).cast("long").alias("ate_micro"),
        F.when(
            (F.col("_n1") > 0) & (F.col("_n0") > 0), naive
        ).cast("long").alias("naive_micro"),
    )


def iv_wald(
    df: DataFrame,
    instrument_col: str,
    treat_col: str,
    y_col: str,
) -> DataFrame:
    """One-row instrumental-variable Wald estimator (Angrist &
    Imbens' LATE under monotonicity) — the causal panel's answer to
    NON-COMPLIANCE, beside `stratified_ate` (confounded mix) and
    `cuped_adjusted` (variance): when the randomized thing is only an
    ENCOURAGEMENT z and uptake d is self-selected, the naive d→y
    comparison is confounded; the Wald ratio rescales the
    intent-to-treat effect by the first-stage uptake lift:

        itt_y_micro = (Σy|z₁·1e6) div n₁ − (Σy|z₀·1e6) div n₀
        itt_d_ppm   = (Σd|z₁·1e6) div n₁ − (Σd|z₀·1e6) div n₀
        wald_r      = round(itt_y_micro / itt_d_ppm · 1e6, 6)

    — both ITT numerators exact floored integers (``y_col`` in exact
    units, ``treat_col`` a 0/1 uptake flag), ONE pinned float
    division at the end (NULL when either arm is empty or the first
    stage is zero — a weak instrument is reported, not divided by).

    Output: (n_z1, n_z0, itt_y_micro, itt_d_ppm, wald_r).

    Scale: one aggregation over the unit relation — six counters on
    the wire, no window, no join.
    """
    base = df.select(
        F.col(instrument_col).cast("int").alias("_z"),
        F.col(treat_col).cast("int").alias("_d"),
        F.col(y_col).cast("long").alias("_y"),
    ).filter(F.col("_y").isNotNull())
    agg = base.agg(
        F.count(F.when(F.col("_z") == 1, 1)).cast("long").alias("n_z1"),
        F.count(F.when(F.col("_z") == 0, 1)).cast("long").alias("n_z0"),
        F.sum(F.when(F.col("_z") == 1, F.col("_y"))).alias("_y1"),
        F.sum(F.when(F.col("_z") == 0, F.col("_y"))).alias("_y0"),
        F.sum(F.when(F.col("_z") == 1, F.col("_d"))).alias("_d1"),
        F.sum(F.when(F.col("_z") == 0, F.col("_d"))).alias("_d0"),
    )
    both = (F.col("n_z1") > 0) & (F.col("n_z0") > 0)
    itt_y = F.expr(
        "CAST((CAST(_y1 AS DECIMAL(38,0)) * 1000000) div n_z1 AS BIGINT)"
        " - CAST((CAST(_y0 AS DECIMAL(38,0)) * 1000000) div n_z0 AS BIGINT)"
    )
    itt_d = F.expr(
        "CAST((CAST(_d1 AS DECIMAL(38,0)) * 1000000) div n_z1 AS BIGINT)"
        " - CAST((CAST(_d0 AS DECIMAL(38,0)) * 1000000) div n_z0 AS BIGINT)"
    )
    out = agg.select(
        "n_z1", "n_z0",
        F.when(both, itt_y).cast("long").alias("itt_y_micro"),
        F.when(both, itt_d).cast("long").alias("itt_d_ppm"),
    )
    return out.select(
        "n_z1", "n_z0", "itt_y_micro", "itt_d_ppm",
        F.when(
            F.col("itt_d_ppm").isNotNull() & (F.col("itt_d_ppm") != 0),
            F.round(
                F.col("itt_y_micro").cast("double")
                * F.lit(1_000_000.0)
                / F.col("itt_d_ppm").cast("double"),
                6,
            ),
        ).alias("wald_r"),
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    grid: int = 1000,
) -> DataFrame:
    """Isotonic (monotone nondecreasing) calibration curve of a
    scorer against a boolean gold — the NON-PARAMETRIC companion of
    `calibration_report`'s fixed deciles: instead of 10 bins, fit the
    best monotone step function to the per-score positive rate, via
    the MINIMAX characterization of isotonic regression
    (Robertson-Wright-Dykstra):

        iso(k) = max_{i≤k} min_{j≥k} avg(pos over bins i..j)

    computed on the ``grid``-quantized score relation
    (s = ⌊score·grid⌋, ≤ grid+1 bins by construction) with every
    interval average floored to micro BEFORE the min/max — the
    floors make the whole fit exact-integer and cross-engine
    deterministic (a quantized isotonic fit, equal to textbook PAV
    whenever the interval averages are exact micro multiples; the
    min/max lattice keeps monotonicity REGARDLESS of the floors).

    Output: one row per occupied bin —
    (bin, n, n_pos, rate_ppm, iso_ppm); iso_ppm is nondecreasing in
    bin (pinned by test). Consumers calibrate a raw score by
    looking up its bin (step-function application = a broadcast
    range join at serve time).

    Scale: one map-side-combined (bin) aggregation over the corpus;
    everything after runs on the ≤ grid+1 bin relation — the prefix
    window is the `doc_auc` bounded class, the i≤j pair relation is
    ≤ (grid+1)²/2 rows (≈ 5·10⁵ at the default grid, corpus-size
    free) with the tiny side broadcast, and the min/max lattice
    windows are key-partitioned over the pairs.
    """
    per = df.groupBy(
        F.floor(F.col(score_col).cast("double") * F.lit(float(grid)))
        .cast("long").alias("_s")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col(label_col).cast("boolean"), 1)).alias("pos"),
    )
    # the ≤ grid+1 bin relation feeds FOUR branches (prefix, both
    # pair sides, final join) — materialize once so the upstream
    # scoring pipeline isn't recomputed per branch (the
    # cumulative_gains_from_counts convention)
    per = per.localCheckpoint()
    wp = (
        Window.partitionBy()
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = per.select(
        "_s", "n", "pos",
        (F.sum("n").over(wp) - F.col("n")).alias("_nb"),
        (F.sum("pos").over(wp) - F.col("pos")).alias("_pb"),
        F.sum("n").over(wp).alias("_na"),
        F.sum("pos").over(wp).alias("_pa"),
    )
    left = pre.select(
        F.col("_s").alias("_si"), F.col("_nb").alias("_nbi"),
        F.col("_pb").alias("_pbi"),
    )
    right = pre.select(
        F.col("_s").alias("_sj"), F.col("_na").alias("_naj"),
        F.col("_pa").alias("_paj"),
    )
    pairs = F.broadcast(left).join(
        right, F.col("_si") <= F.col("_sj")
    ).select(
        "_si", "_sj",
        F.expr(
            "CAST((CAST(_paj - _pbi AS DECIMAL(38,0)) * 1000000)"
            " div (_naj - _nbi) AS BIGINT)"
        ).alias("_avg"),
    )
    wmin = (
        Window.partitionBy("_si")
        .orderBy(F.col("_sj").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rmin = pairs.select(
        "_si", "_sj", F.min("_avg").over(wmin).alias("_rmin")
    )
    wmax = (
        Window.partitionBy("_sj")
        .orderBy("_si")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    iso = (
        rmin.select(
            "_si", "_sj", F.max("_rmin").over(wmax).alias("_iso")
        )
        .filter(F.col("_si") == F.col("_sj"))
        .select(F.col("_sj").alias("_s"), F.col("_iso").alias("iso_ppm"))
    )
    return per.join(iso, "_s").select(
        F.col("_s").alias("bin"),
        F.col("n").cast("long").alias("n"),
        F.col("pos").cast("long").alias("n_pos"),
        F.expr("(pos * 1000000L) div n").alias("rate_ppm"),
        F.col("iso_ppm").cast("long").alias("iso_ppm"),
    )


def wilson_bound_sql(k: str, n: str, sign: str, z: float = 1.959964) -> str:
    """Wilson score-interval bound as ONE SQL expression STRING,
    shared verbatim by Spark (F.expr) and the DuckDB oracle — the
    strongest cross-engine parity: both engines execute the same
    text over the same exact integers, and z / z² are 6-dp-derived
    literals (the evaluation._Z design point), so the single pinned
    round-6 float chain cannot diverge. ``sign`` is '-' for the lower
    bound, '+' for the upper; the caller guards n > 0."""
    if sign not in ("-", "+"):
        raise ValueError("sign must be '-' or '+'")
    Z = repr(z)
    Z2 = repr(z * z)
    kd = f"CAST({k} AS DOUBLE)"
    nd = f"CAST({n} AS DOUBLE)"
    return (
        f"round(({kd}/{nd} + {Z2}/(2.0*{nd}) {sign} {Z} * "
        f"sqrt({kd}/{nd}*(1.0 - {kd}/{nd})/{nd} + "
        f"{Z2}/(4.0*{nd}*{nd}))) / (1.0 + {Z2}/{nd}), 6)"
    )


def rouge_n_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """ROUGE-N between candidate document pairs (Lin '04): n-gram
    MULTISET overlap — Σ_g min(count_a(g), count_b(g)) — read as
    precision against a's grams, recall against b's, plus the F1.
    Jaccard (`doc_ngram_jaccard`) asks "how similar are the SETS";
    ROUGE asks the summarization/near-dup question "how much of b's
    content does a reproduce, repetitions counted" — the standard
    report when auditing near-duplicate clusters or generated-text
    overlap against sources.

    ``pairs`` supplies the candidates ((id_a, id_b) — extra columns
    pass through untouched), so the quadratic stays confined to
    whatever blocking produced them (LSH bands in the flagship
    query). Cost: one explode + (doc, gram) count, then the pair
    relation joins both sides' counts on gram — each pair touches
    only its shared gram TYPES. Duplicate (id_a, id_b) rows in
    ``pairs`` are deduplicated before the gram joins so they cannot
    inflate the overlap sum (each duplicate input row still emits
    its own output row, with the same metrics). A pair id absent
    from ``docs`` is NOT dropped: it surfaces with NULL totals and
    NULL overlap/metrics — absence is the answer.

    Exact integers: counts, overlap, and floor-ppm metrics —
    p_ppm = ov·1e6 div grams_a, r_ppm = ov·1e6 div grams_b,
    f1_ppm = 2·p·r div (p+r) (0 when both are 0); a side with
    FEWER than n tokens has zero n-grams and yields NULL metrics
    (nothing to overlap — absence is the answer). Engine-portable:
    grams are space-joined lowercase whitespace tokens, replayed
    verbatim in SQL.

    Output: pairs' columns + (n_grams_a, n_grams_b, overlap,
    rouge_p_ppm, rouge_r_ppm, rouge_f1_ppm).
    """
    from unitdb_spark.functions.text import _toks

    nn = int(n)
    t = docs.select(
        F.col(id_col).alias("_id"), _toks(text_col).alias("_tk")
    )
    grams = t.select(
        "_id",
        F.when(
            F.size("_tk") >= nn,
            F.transform(
                F.sequence(F.lit(1), F.size("_tk") - F.lit(nn - 1)),
                lambda i: F.array_join(F.slice("_tk", i, nn), " "),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_g"),
    )
    # materialize the gram arrays through ONE hash exchange before any
    # consumer: Generate re-evaluates a non-attribute child expression
    # per OUTPUT row, so exploding the lazy transform above costs
    # O(grams-per-doc) evaluations of an O(tokens)-sized expression per
    # doc — measured 15.5s vs 0.45s over a materialized input at sf0.1
    # (and the un-exchanged pipeline ran single-task off a one-row-group
    # scan). The keyed repartition (a) evaluates _g once per doc on the
    # map side, (b) is shared by gc and both totals sides via
    # ReuseExchange, (c) restores parallelism, and (d) avoids the
    # keyless-repartition sort (SPARK-23207). Row distribution only —
    # results are unchanged.
    par = docs.sparkSession.sparkContext.defaultParallelism
    grams = grams.repartition(par, F.col("_id"))
    # explode_OUTER, deliberately: InferFiltersFromGenerate skips outer
    # generates, so no `size(grams)>0 AND isnotnull(grams)` filter gets
    # inferred and pushed below the projections — that filter INLINES
    # the whole gram expression (tokenizer included) twice at the scan
    # (r12: 10.5-16s vs 1.2-1.7s for this explode at sf0.1). The extra
    # (id, NULL-gram) row an empty doc contributes dies in the
    # gram-keyed joins below (NULL never equals), so results are
    # unchanged — gate-verified bitwise.
    gc = (
        grams.select("_id", F.explode_outer("_g").alias("gram"))
        .groupBy("_id", "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    totals = grams.select(
        "_id", F.size("_g").cast("long").alias("_ng")
    )
    a_tot = totals.select(
        F.col("_id").alias(a_col), F.col("_ng").alias("n_grams_a")
    )
    b_tot = totals.select(
        F.col("_id").alias(b_col), F.col("_ng").alias("n_grams_b")
    )
    ga = gc.select(F.col("_id").alias(a_col), "gram", F.col("_c").alias("_ca"))
    gb = gc.select(F.col("_id").alias(b_col), "gram", F.col("_c").alias("_cb"))
    ov = (
        pairs.select(a_col, b_col)
        .distinct()
        .join(ga, a_col)
        .join(gb, [b_col, "gram"])
        .groupBy(a_col, b_col)
        .agg(F.sum(F.least("_ca", "_cb")).cast("long").alias("overlap"))
    )
    out = (
        pairs.join(ov, [a_col, b_col], "left")
        .join(a_tot, a_col, "left")
        .join(b_tot, b_col, "left")
        .withColumn(
            "overlap",
            F.when(
                F.col("n_grams_a").isNotNull()
                & F.col("n_grams_b").isNotNull(),
                F.coalesce("overlap", F.lit(0)),
            ).cast("long"),
        )
    )
    p = "CASE WHEN n_grams_a > 0 THEN (overlap * 1000000L) div n_grams_a END"
    r = "CASE WHEN n_grams_b > 0 THEN (overlap * 1000000L) div n_grams_b END"
    return (
        out.withColumn("rouge_p_ppm", F.expr(p))
        .withColumn("rouge_r_ppm", F.expr(r))
        .withColumn(
            "rouge_f1_ppm",
            F.expr(
                "CASE WHEN rouge_p_ppm IS NULL OR rouge_r_ppm IS NULL"
                " THEN NULL"
                " WHEN rouge_p_ppm + rouge_r_ppm = 0 THEN 0"
                " ELSE (2 * rouge_p_ppm * rouge_r_ppm)"
                " div (rouge_p_ppm + rouge_r_ppm) END"
            ),
        )
    )
