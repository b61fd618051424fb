"""Time-series analytics over the events/messages stream: OHLC
downsampling, trailing-window anomaly detection, and gap filling.

These extend the reference's time-window read surface (SURVEY §2.4
"north-star analytics"; the reference's own time machinery is the
timeID bucketing in memdb/tiny_log.go:122-128 and the window chains in
time_window.go — pure storage, no analytics) with the operators an
IoT/metrics user runs over a topic's value stream.

Scale notes (100 TB):

- ``ohlc``: ONE groupBy shuffle keyed (key, bucket); min/max/min_by/
  max_by all have map-side partial aggregation, so the exchange
  carries one row per (key, bucket), not per event.
- ``trailing_zscore``: one window shuffle+sort per key; ROWS frames
  evaluate streaming (no full-partition buffering). Keys are
  independent — skew only if one topic dominates (salt via
  operators.skew if so).
- ``gap_fill``: the dense grid is generated per key with ``sequence``
  (size = time-range/step, independent of event count), then
  left-joined against per-bucket aggregates (shuffle keyed
  (key, bucket)) and forward-filled with one window pass. The grid
  explode is the scale knob: a year of minutes is 525 600 rows/key —
  bound ``step`` to the retention window, never to event density.

Determinism/oracle notes: every float that crosses an engine boundary
is either an exact DECIMAL sum cast to DOUBLE once, or a single
arithmetic expression evaluated in the same operation order on both
engines — no transcendental functions, no order-dependent double
accumulation (cf. the DECIMAL-cast convention of tpch_q1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: exact accumulator for double values (order-independent sums)
_DEC = "decimal(18,6)"


def d38(c: Column) -> Column:
    """``c`` lifted to DECIMAL(38,0), done BEFORE a product: an int64
    product of counts wraps silently in Spark and raises in DuckDB."""
    return c.cast("decimal(38,0)")


def count_cells(df: DataFrame, key, ts: str, bucket_s: int) -> DataFrame:
    """The event count of each (key, time bucket) cell: ``(_k, _h, _y)``
    with ``_h`` = floor(epoch µs / bucket width) and ``_y`` a BIGINT.
    ``key`` is a column name or a Column."""
    k = F.col(key) if isinstance(key, str) else key
    return df.groupBy(
        k.alias("_k"),
        F.floor(F.unix_micros(F.col(ts)) / F.lit(bucket_s * 1_000_000)).alias("_h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("_y"))


def dense_cells(cells: DataFrame, key: str, h: str, y: str) -> DataFrame:
    """Each key's cells zero-filled over its contiguous bucket spine
    [min h, max h]: ``(_k, _h, _y)``, BIGINT bucket and count. A missing
    bucket is a real zero, so a spike next to silence compares against
    0. The spine is keys × span buckets, whatever the event volume."""
    b = cells.select(
        F.col(key).alias("_k"),
        F.col(h).cast("long").alias("_h"),
        F.col(y).cast("long").alias("_y"),
    )
    rng = b.groupBy("_k").agg(F.min("_h").alias("_mn"), F.max("_h").alias("_mx"))
    spine = rng.select("_k", F.explode(F.sequence("_mn", "_mx")).alias("_h"))
    return spine.join(b, ["_k", "_h"], "left").select(
        "_k", "_h", F.coalesce(F.col("_y"), F.lit(0)).alias("_y")
    )


def ohlc(
    df: DataFrame,
    keys: list[str],
    bucket: str = "6 hours",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Candlestick downsampling: per (keys, time bucket) the first /
    max / min / last value plus count and exact sum.

    open/close are ordered by ``order_col`` (the engine's seq — unique
    and monotone within a key, so first/last are well-defined without
    timestamp tie ambiguity). One shuffle; all aggs partial-aggregate
    map-side.
    """
    w = F.window(F.col(ts_col), bucket)
    return (
        df.groupBy(w.alias("_w"), *keys)
        .agg(
            F.min_by(value_col, order_col).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(value_col, order_col).alias("close"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast(_DEC)).cast("double").alias("sum_value"),
        )
        .withColumn("window_start", F.col("_w.start"))
        .drop("_w")
    )


def trailing_zscore(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str = "value",
    n: int = 20,
    z: float = 3.0,
) -> DataFrame:
    """Flag values whose deviation from the TRAILING n-row mean exceeds
    ``z`` standard deviations (classic online anomaly rule; the
    trailing frame excludes the current row so an outlier can't mask
    itself).

    Exactness: the windowed sums accumulate in DECIMAL (order-free),
    and the z-test is evaluated on the cross-multiplied integer-scaled
    form — with s = Σv, q = Σv² over the m trailing rows:

        (m·v − s)²  >  z² · (m·q − s²)

    (both sides ×m² of the usual form), so no mean/variance division
    ever happens in floating point. Output adds ``trail_n`` (rows in
    the frame) and ``is_anomaly`` (NULL-safe: false until the frame
    holds ≥2 rows).
    """
    win = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(-n, -1)
    )
    v = F.col(value_col).cast(_DEC)
    s = F.sum(v).over(win).cast("double")
    q = F.sum(v * v).over(win).cast("double")
    m = F.count(v).over(win).cast("double")
    vd = F.col(value_col).cast("double")
    lhs = (m * vd - s) * (m * vd - s)
    rhs = F.lit(float(z * z)) * (m * q - s * s)
    return df.withColumn("trail_n", m.cast("long")).withColumn(
        "is_anomaly", F.when(F.col("trail_n") >= 2, lhs > rhs).otherwise(F.lit(False))
    )


def trailing_ewma(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str = "value",
    n: int = 8,
) -> DataFrame:
    """Trailing exponentially-weighted moving average (α = 1/2) over
    the last ``n`` observations per key — the smoothing half of the
    anomaly pair (``trailing_zscore`` flags, this smooths).

    Exactness without a pinned fold order: with α = 1/2 the weights
    are powers of two, so every term (micro-unit-scaled value × 2^i)
    and every partial sum is an integer exactly representable in a
    double as long as Σ|v|·10⁶·2^(m−1) stays under 2⁵³ — integer
    addition in doubles is then EXACT and order-free (unlike general
    float accumulation), and the only rounding is the final pinned
    division pair:

        ewma = (Σ scaled_j · 2^(j−1)) / (2^m − 1) / 10⁶

    which any SQL engine reproduces bit-for-bit. The envelope holds
    for |value| < 2⁵³ / (10⁶ · 2ⁿ · n) — ≈ 4.4·10⁶ at the default
    n = 8; ``n`` is capped at 20 (envelope ≈ 430) to keep the claim
    honest. NULL values drop out of the frame list (no weight, no
    slot). One window shuffle+sort per key.
    """
    if n > 20:
        raise ValueError("n > 20 shrinks the exact-integer envelope below usefulness")
    win = Window.partitionBy(*keys).orderBy(*order_cols).rowsBetween(-(n - 1), 0)
    # frame-ordered micro-unit values, oldest first / newest last
    # (collect_list skips NULLs on both engines' FILTERed twin)
    vals = F.collect_list(
        (F.col(value_col).cast(_DEC) * F.lit(1_000_000)).cast("long")
    ).over(win)
    m = F.size(vals)
    num = F.aggregate(
        F.transform(
            vals, lambda x, i: x.cast("double") * F.pow(F.lit(2.0), i)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    denom = F.pow(F.lit(2.0), m) - F.lit(1.0)
    ewma = F.when(m > 0, (num / denom) / F.lit(1_000_000.0))
    return df.withColumn("ewma_n", m).withColumn("ewma_r", F.round(ewma, 6))


def croston_forecast(
    df: DataFrame,
    key_col: str,
    period_col: str,
    demand_col: str,
    n: int = 8,
    unit_scale: float = 1.0,
) -> DataFrame:
    """Croston's method (Croston '72) — the forecasting standard for
    INTERMITTENT demand, where `seasonal_naive_backtest`'s dense
    charts degenerate (most periods are zero; smoothing zeros drives
    any plain EWMA to zero, then every demand looks like a spike):
    smooth the nonzero demand SIZES and the INTERVALS between demands
    separately, and forecast size/interval demand per period.

    Both smoothers are the `trailing_ewma` dyadic form (α = 1/2 over
    the last ``n`` demand events): terms and partial sums are exact
    integers in doubles, order-free, and — because both ride the SAME
    frame — the per-period forecast needs no denominator at all:

        z/p = (Σ size_j·2^(j−1)) / (Σ gap_j·2^(j−1))

    one pinned division of two exact-integer doubles. The first
    demand's interval is 1 by convention (no prior event to measure
    from). Exactness envelope: size·2^(n−1) and gap·2^(n−1) < 2⁵³.

    Input: an already-aggregated (key, period index, integer demand)
    CELL relation — zero/NULL-demand cells are ignored (Croston
    updates only on occurrences). ``unit_scale`` divides the size
    smoother back to natural units (e.g. 100 for cents).

    Output: ONE row per key — (key, m = events in the frame, z_r
    smoothed size, p_r smoothed interval, croston_r = per-period
    forecast), all round-6 pinned.

    Scale: one (key, period) window sort; the emitted relation is
    one row per demanding key.
    """
    if n > 20:
        raise ValueError("n > 20 shrinks the exact-integer envelope below usefulness")
    base = df.select(
        F.col(key_col).alias("_k"),
        F.col(period_col).cast("long").alias("_w"),
        F.col(demand_col).cast("long").alias("_d"),
    ).filter(F.col("_d") > 0)
    w_ord = Window.partitionBy("_k").orderBy("_w")
    g = base.withColumn(
        "_gap", F.coalesce(F.col("_w") - F.lag("_w").over(w_ord), F.lit(1))
    )
    win = Window.partitionBy("_k").orderBy("_w").rowsBetween(-(n - 1), 0)
    dyadic = lambda c: F.aggregate(  # noqa: E731
        F.transform(
            F.collect_list(c).over(win),
            lambda x, i: x.cast("double") * F.pow(F.lit(2.0), i),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sized = g.select(
        "_k", "_w",
        F.size(F.collect_list("_d").over(win)).alias("m"),
        dyadic(F.col("_d")).alias("_zn"),
        dyadic(F.col("_gap")).alias("_pn"),
        F.row_number()
        .over(Window.partitionBy("_k").orderBy(F.col("_w").desc()))
        .alias("_rn"),
    ).filter(F.col("_rn") == 1)
    denom = F.pow(F.lit(2.0), F.col("m")) - F.lit(1.0)
    return sized.select(
        F.col("_k").alias(key_col),
        F.col("m").cast("int").alias("m"),
        F.round((F.col("_zn") / denom) / F.lit(float(unit_scale)), 6)
        .alias("z_r"),
        F.round(F.col("_pn") / denom, 6).alias("p_r"),
        F.round((F.col("_zn") / F.col("_pn")) / F.lit(float(unit_scale)), 6)
        .alias("croston_r"),
    )


def silence_gaps(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    order_col: str = "event_id",
    min_gap_seconds: int = 3600,
) -> DataFrame:
    """Report silences: per key, consecutive-event gaps exceeding
    ``min_gap_seconds`` — the dead-sensor/offline-device alert over a
    topic's history (the streaming analog is a state timeout; this is
    the batch audit). One window shuffle+sort per key; lag is a
    streaming ROWS frame.

    Output: keys + (gap_start_s, gap_end_s, gap_s) as epoch seconds.
    """
    w = Window.partitionBy(*keys).orderBy(ts_col, order_col)
    prev = F.lag(F.col(ts_col)).over(w)
    cur_s = F.unix_timestamp(F.col(ts_col))
    prev_s = F.unix_timestamp(prev)
    return (
        df.select(*keys, prev_s.alias("gap_start_s"), cur_s.alias("gap_end_s"))
        .withColumn("gap_s", F.col("gap_end_s") - F.col("gap_start_s"))
        .filter(F.col("gap_s") > min_gap_seconds)
    )


def gap_fill(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    step_minutes: int = 60,
) -> DataFrame:
    """Regularize an event stream onto a dense per-key time grid with
    forward fill (last observation carried forward).

    Steps: (1) per-key min/max bounds -> ``sequence`` grid (explode is
    bounded by range/step, not event count); (2) per-(key, bucket)
    exact average of observed values; (3) left join grid<-buckets and
    one window pass carrying the last non-null average forward.
    Output: keys + ``bucket_ts``, ``avg_value`` (NULL on gap rows
    before fill), ``filled_value``, ``is_gap``.
    """
    step = F.expr(f"INTERVAL {int(step_minutes)} MINUTES")
    step_s = int(step_minutes) * 60

    def trunc(c):
        # floor to the step grid (epoch-aligned), not date_trunc: for
        # any step other than 1/60 minutes a calendar trunc lands
        # observations BETWEEN grid points and the join would report
        # real data as gaps
        return F.timestamp_seconds(
            F.floor(F.unix_timestamp(c) / F.lit(step_s)) * F.lit(step_s)
        )

    bounds = df.groupBy(*keys).agg(
        F.min(trunc(F.col(ts_col))).alias("_lo"),
        F.max(trunc(F.col(ts_col))).alias("_hi"),
    )
    grid = bounds.select(
        *keys, F.explode(F.sequence(F.col("_lo"), F.col("_hi"), step)).alias("bucket_ts")
    )
    observed = df.groupBy(*keys, trunc(F.col(ts_col)).alias("bucket_ts")).agg(
        (
            F.sum(F.col(value_col).cast(_DEC)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_value")
    )
    joined = grid.join(observed, [*keys, "bucket_ts"], "left")
    ffill = Window.partitionBy(*keys).orderBy("bucket_ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        *keys,
        "bucket_ts",
        "avg_value",
        F.last("avg_value", ignorenulls=True).over(ffill).alias("filled_value"),
        F.col("avg_value").isNull().alias("is_gap"),
    )


def robust_zscore(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    id_cols: list[str],
    z_thresh: float = 3.5,
) -> DataFrame:
    """Robust per-key outlier detection: the Iglewicz-Hoaglin modified
    z-score 0.6745 * (x - median) / MAD — immune to the outliers
    themselves inflating the scale, which is exactly what breaks the
    mean/stddev z-score on spiky telemetry (one 1000x spike widens
    sigma enough to hide the next one).

    Medians are computed by RANK, not a quantile function: per key,
    median = (v[floor((n+1)/2)] + v[ceil((n+1)/2)]) / 2.0 over the
    (value, id)-sorted rows — so there is no interpolation-formula
    dependence and any SQL engine replays the exact doubles. MAD is the
    same construction over |x - median|. Scores are round-6 with the
    standard 3.5 cutoff; a NULL value or a zero-MAD key (constant
    series — no scale to score against) yields NULL score/flag.

    Shape (100 TB): two window-rank passes per key and two key-level
    joins — 4 exchanges, all on the key column; no state, no UDF.

    Output: id_cols + keys + (value, med, mad, robust_z_r, is_outlier).
    """

    def _median(frame: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy(*keys).orderBy(F.col(col).asc(), *[
            F.col(c).asc() for c in id_cols
        ])
        ranked = frame.filter(F.col(col).isNotNull()).withColumn(
            "_rn", F.row_number().over(w)
        ).withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        mid = ranked.filter(
            (F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
            | (F.col("_rn") == F.ceil((F.col("_n") + 1) / 2))
        )
        return mid.groupBy(*keys).agg(
            ((F.min(col) + F.max(col)) / F.lit(2.0)).alias(out)
        )

    med = _median(df.select(*keys, *id_cols, value_col), value_col, "med")
    with_med = df.join(med, keys, "left")
    dev = with_med.withColumn("_dev", F.abs(F.col(value_col) - F.col("med")))
    mad = _median(dev.select(*keys, *id_cols, "_dev"), "_dev", "mad")
    scored = with_med.join(mad, keys, "left")
    z = F.round(
        F.lit(0.6745) * (F.col(value_col) - F.col("med")) / F.col("mad"), 6
    )
    valid = F.col(value_col).isNotNull() & (F.col("mad") > 0)
    return scored.select(
        *id_cols, *keys, value_col, "med", "mad",
        F.when(valid, z).alias("robust_z_r"),
        F.when(valid, F.abs(z) > F.lit(z_thresh)).alias("is_outlier"),
    )


def scd2_intervals(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Changelog → slowly-changing-dimension (type 2) history: collapse
    an event stream into validity intervals per key — one row per RUN
    of equal ``attr_col`` values, with [valid_from, valid_to) bounds
    and an is_current flag on the open interval. The temporal-table
    view every warehouse builds over a CDC feed.

    Change detection (attr != lag(attr)) and interval closing
    (valid_to = lead(valid_from)) ride windows over the SAME
    (key, ts, order) partitioning and sort, so the whole operator is
    one exchange + one sort. Bounds are emitted as epoch microseconds
    (integer-exact across engines).

    Output: key_cols + (attr, valid_from_us, valid_to_us, is_current).
    """
    order = [ts_col] + (order_cols or [])
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in order])
    changed = df.withColumn("_prev", F.lag(attr_col).over(w)).withColumn(
        "_is_change",
        F.col("_prev").isNull()
        | (~F.col(attr_col).eqNullSafe(F.col("_prev"))),
    )
    # carry the tie-break through: two changes in the same microsecond
    # (a CDC feed emitting twice per instant) must close in the SAME
    # order they were detected in, or which interval is zero-length
    # becomes layout-dependent
    extra = list(order_cols or [])
    starts = changed.filter(F.col("_is_change")).select(
        *key_cols,
        F.col(attr_col).alias("attr"),
        F.unix_micros(ts_col).alias("valid_from_us"),
        *extra,
    )
    w2 = Window.partitionBy(*key_cols).orderBy(
        F.col("valid_from_us").asc(), *[F.col(c).asc() for c in extra]
    )
    return (
        starts.withColumn("valid_to_us", F.lead("valid_from_us").over(w2))
        .withColumn("is_current", F.col("valid_to_us").isNull())
        .drop(*extra)
    )


def time_weighted_avg(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    bucket: str = "1 hour",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Time-weighted average per (keys, bucket) — the irregular-sample
    average a plain AVG gets wrong (a sensor reporting 10x more often
    during a spike drags the arithmetic mean; weighting each sample by
    its holding time doesn't care about reporting rate). LOCF
    weighting: each sample holds its value until the next sample in
    the bucket; twa = Σ v_i·Δt_i / (t_n − t_1).

    Cross-engine contract: Δt is integer microseconds; each v·Δt
    product is round-6'd and summed as DECIMAL(28,6) (order-free); one
    final double division, round-6. Buckets with < 2 samples have no
    holding time — twa_r is NULL (n is still reported).

    One window (lead over the (keys, bucket) sort) + one partial-agg
    shuffle on the same key.

    Output: keys + (bucket_start, n, twa_r).
    """
    b = F.window(F.col(ts_col), bucket).getField("start").alias("_bucket")
    order = order_cols or []
    rows = df.filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        *keys, *order, b, F.unix_micros(ts_col).alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
    )
    # equal-timestamp ties get a deterministic lead order (their own
    # holding time is 0 either way, but WHICH value holds to the next
    # distinct instant must not depend on layout)
    w = Window.partitionBy(*keys, "_bucket").orderBy(
        F.col("_t").asc(), *[F.col(c).asc() for c in order]
    )
    seg = rows.withColumn("_t_next", F.lead("_t").over(w)).withColumn(
        "_contrib",
        F.round(
            F.col("_v") * (F.col("_t_next") - F.col("_t")).cast("double"), 6
        ).cast("decimal(28,6)"),
    )
    agg = seg.groupBy(*keys, "_bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_contrib").alias("_num"),
        (F.max("_t") - F.min("_t")).alias("_span_us"),
    )
    return agg.select(
        *keys,
        F.col("_bucket").alias("bucket_start"),
        "n",
        F.when(
            F.col("_span_us") > 0,
            F.round(
                F.col("_num").cast("double") / F.col("_span_us").cast("double"),
                6,
            ),
        ).alias("twa_r"),
    )


def cusum(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
    h: float = 25.0,
    target: float | None = None,
) -> DataFrame:
    """CUSUM change-point detection (Page '54): the control chart that
    catches a small persistent SHIFT in a series' level — the drift a
    per-point z-score never flags because no single point is extreme.

    The textbook recurrence C+_i = max(0, C+_{i-1} + dev_i) is not
    window-expressible, but its closed form is: with S_i the prefix sum
    of deviations-from-mean, C+_i = S_i − min(0, min_{j≤i} S_j) and
    C−_i = max(0, max_{j≤i} S_j) − S_i — two running windows over one
    (key, order) sort.

    ``target`` picks the reference level deviations are measured from:
    None (default) centers on each key's own mean — the retrospective
    chart; a float is the FIXED reference of a live control chart (and
    what the streaming twin `streaming.state.streaming_cusum` uses —
    a stream cannot know its mean upfront).

    Cross-engine contract: deviations are exact DECIMAL(18,6)
    (round-6'd value minus the round-6 reference), so prefix sums,
    running extrema and the CUSUM statistics are exact decimal
    arithmetic — bitwise identical however either engine schedules it.

    Output: order_cols + keys + (value, s_r, cusum_pos_r, cusum_neg_r,
    alarm) — alarm when either statistic exceeds ``h``.
    """
    order = [F.col(c).asc() for c in order_cols]
    v6 = F.round(F.col(value_col), 6).cast("decimal(18,6)")
    if target is None:
        w_all = Window.partitionBy(*keys)
        ref = (
            F.round(
                F.sum(v6).over(w_all).cast("double")
                / F.count(v6).over(w_all).cast("double"),
                6,
            )
        ).cast("decimal(18,6)")
    else:
        # round-half-up on the double's shortest repr — the SAME
        # rounding as F.round and the streaming twin's micro-unit
        # quantize (Python round() is half-even on the binary value
        # and can disagree at the 6th decimal, e.g. 1.0000015)
        from decimal import ROUND_HALF_UP, Decimal

        t6 = float(
            Decimal(repr(float(target))).quantize(
                Decimal("0.000001"), ROUND_HALF_UP
            )
        )
        ref = F.lit(t6).cast("decimal(18,6)")
    base = df.filter(F.col(value_col).isNotNull()).withColumn(
        "_dev", v6 - ref
    )
    w_run = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = (
        base.withColumn("_s", F.sum("_dev").over(w_run))
        .withColumn("_min_s", F.least(F.lit(0).cast("decimal(28,6)"),
                                      F.min("_s").over(w_run)))
        .withColumn("_max_s", F.greatest(F.lit(0).cast("decimal(28,6)"),
                                         F.max("_s").over(w_run)))
    )
    cpos = (F.col("_s") - F.col("_min_s")).cast("double")
    cneg = (F.col("_max_s") - F.col("_s")).cast("double")
    return run.select(
        *order_cols, *keys, value_col,
        F.col("_s").cast("double").alias("s_r"),
        cpos.alias("cusum_pos_r"),
        cneg.alias("cusum_neg_r"),
        ((cpos > F.lit(h)) | (cneg > F.lit(h))).alias("alarm"),
    )


def page_hinkley(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
    delta: float = 0.0,
    lam: float = 25.0,
) -> DataFrame:
    """Page-Hinkley drift detection (Page '54 §5, the sequential-mean
    form; Gama '04's stream-drift staple): where `cusum` watches
    deviation from a FIXED reference, PH watches deviation from the
    series' OWN RUNNING MEAN — the detector you deploy when the
    in-control level is unknown and only the CHANGE matters:

        m_t  = Σ_{i≤t} (x_i − mean_i − δ),   mean_i = running mean
        PH_t = m_t − min_{τ≤t} m_τ,          alarm when PH_t > λ

    (the rising-mean form; a falling mean is the same chart on −x.)

    Cross-engine exactness: x quantizes to 1e-6 units via the family's
    DECIMAL(18,6) cast; mean_i = floor(S_i / i) in integer micro-units
    (true floor for either sign via the nonneg-mod identity
    (S − ((S%i)+i)%i) div i — shared VERBATIM with the oracle, since
    DuckDB's `//` truncates exactly like Spark's div), so every
    m_t, PH_t is an exact BIGINT and the alarm compare is integral.
    The floor-mean is the documented convention (≤ 1e-6 below the real
    mean, same bound both engines). NULL and NaN rows are dropped.

    Output: order_cols + keys + (value_micro, m_micro, ph_micro,
    alarm) — one judged row per event.

    Scale: three stacked running windows on ONE (key, order) sort —
    key-partitioned, a single shuffle; state never leaves the plan.
    Headroom: |S| ≤ n·|x|·1e6 must fit BIGINT (n·|x| ≤ 9·10¹²).
    """
    from decimal import ROUND_HALF_UP, Decimal

    q6 = Decimal("0.000001")
    delta_u = int(Decimal(repr(float(delta))).quantize(q6, ROUND_HALF_UP) / q6)
    lam_u = int(Decimal(repr(float(lam))).quantize(q6, ROUND_HALF_UP) / q6)
    order = [F.col(c).asc() for c in order_cols]
    v = F.col(value_col)
    base = df.filter(
        v.isNotNull() & ~F.isnan(v.cast("double"))
    ).withColumn(
        "_vu",
        (v.cast("decimal(18,6)") * 1_000_000).cast("long"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = base.withColumn("_t", F.count(F.lit(1)).over(w)).withColumn(
        "_s", F.sum("_vu").over(w)
    )
    r = r.withColumn(
        "_mf", F.expr("(_s - ((_s % _t) + _t) % _t) div _t")
    )
    r = r.withColumn(
        "_m",
        F.col("_s") - F.sum("_mf").over(w) - F.col("_t") * F.lit(delta_u),
    )
    r = r.withColumn("_ph", F.col("_m") - F.min("_m").over(w))
    return r.select(
        *order_cols, *keys,
        F.col("_vu").alias("value_micro"),
        F.col("_m").alias("m_micro"),
        F.col("_ph").alias("ph_micro"),
        (F.col("_ph") > F.lit(lam_u)).alias("alarm"),
    )


def watermark_lateness(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    arrival_cols: list[str],
) -> DataFrame:
    """Out-of-orderness audit: how late does data really arrive? Per
    key, each row's lateness is (running max event-time in ARRIVAL
    order) − its own event time — exactly the quantity a Structured
    Streaming watermark must exceed to never drop that row. Run this
    over a day's history BEFORE picking `withWatermark`'s delay; the
    repo's streaming twins otherwise inherit a guessed bound.

    ``arrival_cols`` define arrival order (ingest seq / file order /
    kafka offset — NOT the event time). All-integer microseconds:
    exact counts, exact max, one pinned division pair for the mean.

    Output: keys + (n, n_late, max_late_us, mean_late_s_r).
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(c).asc() for c in arrival_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = F.unix_micros(F.col(ts_col))
    late = (F.max(t).over(w) - t).alias("_late")
    per_row = df.filter(F.col(ts_col).isNotNull()).select(*keys, late)
    return per_row.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("_late") > 0, 1)).alias("n_late"),
        F.max("_late").alias("max_late_us"),
        F.round(
            F.sum("_late").cast("double") / F.count(F.lit(1)).cast("double")
            / F.lit(1_000_000.0),
            6,
        ).alias("mean_late_s_r"),
    )


def hourly_profile_distance(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_buckets: int = 24,
) -> DataFrame:
    """Time-series similarity: each key's hour-of-day activity profile
    scored against the CORPUS profile by squared distance.

    The "whose rhythm deviates" question (bot detection, cohort
    discovery, anomaly triage): a key's profile is its mean value per
    hour-of-day bucket; the output ranks keys by how far that shape
    sits from the global mean shape. Missing buckets read as 0 on
    both sides — absence of activity IS shape.

    Integer-exact end to end (the cross-engine contract): per-bucket
    means become micro-units via floor(cents·10⁴ / n) on an exact
    DECIMAL sum, the squared distance is a BIGINT sum of squared
    integer diffs — no float accumulation anywhere, so any engine
    replays it bit for bit.

    Output: (key, dist_sq) — micro-unit² squared distance.
    Shuffles: the (key, bucket) partial agg and a key-sized rollup;
    the grid explode is keys × n_buckets (profile-sized, not
    event-sized) and the corpus profile joins as n_buckets rows
    (broadcast).

    ``n_buckets`` folds the hour of day modulo n (24 = hourly
    profile, 12 = AM/PM-folded, 6 = four-hour blocks) so the bucket
    expression and the zero-fill grid always agree.
    """
    if not 0 < n_buckets <= 24:
        raise ValueError(f"n_buckets must be in 1..24, got {n_buckets}")
    b = F.hour(ts_col) % n_buckets
    cents = F.expr(
        f"CAST(SUM(CAST({value_col} AS DECIMAL(18,2))) * 100 AS BIGINT)"
    )
    per = df.groupBy(F.col(key_col).alias("_k"), b.alias("_b")).agg(
        cents.alias("_cents"), F.count(F.lit(1)).alias("_c")
    )
    mu = per.select(
        "_k", "_b",
        F.floor(F.col("_cents") * F.lit(10_000) / F.col("_c"))
        .cast("long")
        .alias("_mu"),
    )
    grid = (
        df.select(F.col(key_col).alias("_k"))
        .distinct()
        .select("_k", F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))).alias("_b"))
    )
    up = grid.join(mu, ["_k", "_b"], "left").select(
        "_k", "_b", F.coalesce("_mu", F.lit(0)).alias("_mu")
    )
    glob = (
        df.groupBy(b.alias("_b"))
        .agg(cents.alias("_cents"), F.count(F.lit(1)).alias("_c"))
        .select(
            "_b",
            F.floor(F.col("_cents") * F.lit(10_000) / F.col("_c"))
            .cast("long")
            .alias("_gmu"),
        )
    )
    d = F.col("_mu") - F.coalesce("_gmu", F.lit(0))
    return (
        up.join(glob, "_b", "left")
        .select("_k", (d * d).alias("_t"))
        .groupBy("_k")
        .agg(F.sum("_t").alias("dist_sq"))
        .select(F.col("_k").alias(key_col), "dist_sq")
    )


def seasonal_naive_backtest(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Forecast-quality floor: backtest the seasonal-naive predictor
    (tomorrow's hour h = today's hour h) over the series' history.

    Every fancier forecaster must beat this baseline; publishing its
    per-key error first is the honest starting point. Buckets are
    (key, day, hour) means in exact integer micro-units (the
    DECIMAL-cents → floored-scale idiom of `hourly_profile_distance`);
    the prediction for a bucket is the SAME HOUR of the PREVIOUS
    CALENDAR day (a lag over the (key, hour) series ordered by day,
    scored only when the previous day actually exists — a gap is not
    silently treated as yesterday).

    Output per key: (n_scored, sum_ae_mu, sum_err_mu, mae_mu) — the
    absolute-error sum, the signed bias sum, and floor(sum_ae/n), all
    exact integers.

    Shuffles: one (key, day, hour) partial agg (event-sized exchange
    carries bucket partials), one window over the bucket relation
    (profile-sized), one key rollup.
    """
    cents = F.expr(
        f"CAST(SUM(CAST({value_col} AS DECIMAL(18,2))) * 100 AS BIGINT)"
    )
    cells = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("_k"),
            F.to_date(ts_col).alias("_d"),
            F.hour(ts_col).alias("_h"),
        )
        .agg(cents.alias("_cents"), F.count(F.lit(1)).alias("_c"))
    )
    return seasonal_naive_from_cells(cells, key_col)


def _seasonal_naive_residuals(cells: DataFrame) -> DataFrame:
    """Per-bucket seasonal-naive residuals (_k, _e) over the shared
    (_k, _d, _h, _cents, _c) cell relation: prediction = same hour,
    previous CALENDAR day; scored only when that day exists. The
    common core of the backtest aggregate and the conformal radius."""
    b = cells.select(
        "_k", "_d", "_h",
        F.floor(F.col("_cents") * F.lit(10_000) / F.col("_c"))
        .cast("long")
        .alias("_mu"),
    )
    w = Window.partitionBy("_k", "_h").orderBy("_d")
    scored = b.select(
        "_k", "_d", "_h", "_mu",
        F.lag("_mu").over(w).alias("_prev_mu"),
        F.lag("_d").over(w).alias("_prev_d"),
    ).filter(
        F.col("_prev_mu").isNotNull()
        & (F.datediff(F.col("_d"), F.col("_prev_d")) == 1)
    )
    return scored.select("_k", (F.col("_mu") - F.col("_prev_mu")).alias("_e"))


def seasonal_naive_from_cells(cells: DataFrame, key_col: str) -> DataFrame:
    """The scoring half of `seasonal_naive_backtest`, over an
    already-aggregated (_k, _d, _h, _cents, _c) cell relation — shared
    verbatim with the streaming twin's committed cell state
    (streaming.continuous.continuous_hourly_cells): cents and counts
    are mergeable sums, so 'streamed cells == batch groupBy' gives
    'streamed backtest == batch backtest' through this one code path."""
    return (
        _seasonal_naive_residuals(cells)
        .groupBy("_k")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum(F.abs(F.col("_e"))).alias("sum_ae_mu"),
            F.sum("_e").alias("sum_err_mu"),
        )
        .select(
            F.col("_k").alias(key_col),
            "n_scored", "sum_ae_mu", "sum_err_mu",
            F.floor(F.col("sum_ae_mu") / F.col("n_scored"))
            .cast("long")
            .alias("mae_mu"),
        )
    )


def seasonal_decompose(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    period: int = 24,
    trend_radius: int = 12,
) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly series:
    value = trend + seasonal + residual — the "is this spike growth,
    rhythm, or an anomaly?" question, per key.

    Deterministic integer formulation (the cross-engine contract):

    1. bucket to hours; per (key, bucket) the mean becomes exact
       micro-units: floor(DECIMAL-cents-sum · 10⁴ / n).
    2. trend = centered moving average over 2·trend_radius+1 OBSERVED
       buckets (ROWS frame; NULL until the frame is full — a partial
       frame would bias the ends), floored to an integer.
    3. seasonal = per (key, hour-of-day mod ``period``) mean of the
       detrended values, floored — the fixed daily shape.
    4. residual = value − trend − seasonal: what neither the level nor
       the rhythm explains (the anomaly-triage column).

    Every number is a BIGINT; the two floor(sum/n) divisions are
    pinned single-double expressions, so any SQL engine replays the
    decomposition bit for bit. Gaps: the ROWS trend frame spans
    observed buckets (an empty hour is absent, not zero) — on sparse
    series pre-fill with `gap_fill` if calendar alignment matters.

    Scale: one (key, bucket) partial-agg shuffle over events, then
    windows and a (key, hod) agg over the BUCKET relation (keys ×
    hours rows — profile-sized). Output: (key, bucket_s, hod,
    value_mu, trend_mu, seasonal_mu, residual_mu).
    """
    cells = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("_k"),
            F.to_date(ts_col).alias("_d"),
            F.hour(ts_col).alias("_h"),
        )
        .agg(
            F.expr(
                f"CAST(SUM(CAST({value_col} AS DECIMAL(18,2))) * 100 AS BIGINT)"
            ).alias("_cents"),
            F.count(F.lit(1)).alias("_c"),
        )
    )
    return seasonal_from_cells(cells, key_col, period, trend_radius)


def seasonal_from_cells(
    cells: DataFrame,
    key_col: str,
    period: int = 24,
    trend_radius: int = 12,
) -> DataFrame:
    """The decomposition half of `seasonal_decompose`, over the
    (_k, _d, _h, _cents, _c) cell relation — the SAME mergeable cells
    the forecast backtest and its streaming twin fold
    (streaming.continuous.continuous_hourly_cells), so a rolling
    streamed decomposition IS the batch decomposition on the committed
    state."""
    from pyspark.sql import Window

    span = 2 * trend_radius + 1
    b = cells.select(
        "_k",
        (
            F.unix_timestamp(F.col("_d").cast("timestamp"))
            + F.col("_h").cast("long") * 3600
        ).alias("bucket_s"),
        (F.col("_h") % period).alias("hod"),
        F.floor(F.col("_cents") * 10000 / F.col("_c"))
        .cast("long")
        .alias("value_mu"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("bucket_s")
        .rowsBetween(-trend_radius, trend_radius)
    )
    t = b.select(
        "_k",
        "bucket_s",
        "hod",
        "value_mu",
        F.when(
            F.count(F.lit(1)).over(w) == span,
            F.floor(F.sum("value_mu").over(w) / F.lit(span)).cast("long"),
        ).alias("trend_mu"),
    ).withColumn("_detr", F.col("value_mu") - F.col("trend_mu"))
    seas = (
        t.groupBy("_k", "hod")
        .agg(
            F.sum("_detr").alias("_sd"),
            F.count("_detr").alias("_nd"),
        )
        .select(
            "_k",
            "hod",
            F.floor(F.col("_sd") / F.col("_nd")).cast("long").alias("seasonal_mu"),
        )
    )
    return t.join(seas, ["_k", "hod"]).select(
        F.col("_k").alias(key_col),
        "bucket_s",
        "hod",
        "value_mu",
        "trend_mu",
        "seasonal_mu",
        (F.col("value_mu") - F.col("trend_mu") - F.col("seasonal_mu")).alias(
            "residual_mu"
        ),
    )


def m4_downsample(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_cols: list[str],
    bucket_s: int = 21600,
) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014): per
    (key, time bucket) keep min/max/first/last of the value — the
    four points that make a line chart over the bucket pixel-exact,
    which is why it is THE dashboard-rendering reduction (error-free
    at one bucket per pixel, unlike averaging which flattens spikes).

    first/last ride as lexicographic struct extrema over
    (ts, *order_cols, value) — the repo's deterministic tiebreak
    discipline expressed as a plain aggregate, so the whole operator
    is ONE map-side-combined aggregation (no window sort at all) and
    every column merges algebraically (see `m4_partials`, shared with
    the streaming twin). Values pass through untouched (no rounding
    convention needed: both engines aggregate identical doubles).

    Output: (key, bucket_start_s, n, min_v, max_v, first_v, last_v).

    Scale: ONE shuffle on (key, bucket), partials combined map-side.
    A month of µs events reduces to keys × (span/bucket) rows — the
    point of M4.
    """
    partials = m4_partials(
        df, key_col, ts_col, value_col, order_cols, bucket_s
    )
    return m4_finish(partials, bucket_s)


def m4_partials(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_cols: list[str],
    bucket_s: int,
) -> DataFrame:
    """The MERGEABLE M4 state: per (key, bucket) n/min/max plus the
    first and last points carried as lexicographic struct extrema over
    (ts, *order_cols, value) — a pure aggregation (map-side combined,
    no window sort), and every column merges algebraically, which is
    what makes the streaming twin exact. Shared by the batch operator
    and `streaming.continuous.continuous_m4`."""
    bucket_us = bucket_s * 1_000_000
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(
        F.col(key_col).alias("key"),
        t.alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
        *[F.col(c) for c in order_cols],
    ).withColumn("_b", F.floor(F.col("_t") / F.lit(bucket_us)).cast("long"))
    point = F.struct(
        F.col("_t").alias("t"),
        *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)],
        F.col("_v").alias("v"),
    )
    return base.groupBy("key", "_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_v").alias("min_v"),
        F.max("_v").alias("max_v"),
        F.min(point).alias("_first"),
        F.max(point).alias("_last"),
    )


def m4_finish(partials: DataFrame, bucket_s: int) -> DataFrame:
    """Project the M4 state into the chart-ready relation — shared by
    the batch operator and the streaming twin's read path."""
    return partials.select(
        "key",
        (F.col("_b") * F.lit(bucket_s)).cast("long").alias("bucket_start_s"),
        "n", "min_v", "max_v",
        F.col("_first")["v"].alias("first_v"),
        F.col("_last")["v"].alias("last_v"),
    )


def lag_correlation(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    key_a: str,
    key_b: str,
    bucket_s: int = 3600,
    max_lag: int = 12,
) -> DataFrame:
    """Cross-correlation profile between two event series: Pearson
    correlation of A's per-bucket counts against B's shifted by each
    lag in [−max_lag, +max_lag] — "do errors follow deploys, and by
    how many hours?". A positive-lag peak means B trails A.

    Both series are densified onto the full bucket spine (missing
    buckets count 0 — skipping them would silently bias the moments),
    the shift is an integer-bucket equi-join per lag, and every
    moment is an exact integer sum; each lag's correlation is the one
    pinned round-6 float (NULL on zero variance in the overlap).

    Output: (lag, n, corr_r) — one row per lag.

    Scale: the count aggregation is the only data-sized shuffle; the
    spine and the 2·max_lag+1 lag joins run on the bucket relation
    (span/bucket rows — thousands, not the corpus).
    """
    bucket_us = bucket_s * 1_000_000
    h = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(bucket_us)
    ).cast("long")
    counts = (
        df.filter(F.col(key_col).isin(key_a, key_b))
        .select(h.alias("h"), F.col(key_col).alias("k"))
        .groupBy("h", "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = counts.agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx")).alias("h")
    )

    def dense(key: str, out: str) -> DataFrame:
        side = counts.filter(F.col("k") == key).select(
            "h", F.col("n").alias(out)
        )
        return spine.join(side, "h", "left").select(
            "h", F.coalesce(out, F.lit(0)).alias(out)
        )

    sa = dense(key_a, "x")
    sb = dense(key_b, "y")
    spark = df.sparkSession
    lags = spark.range(-max_lag, max_lag + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    j = sa.crossJoin(F.broadcast(lags)).join(
        sb.select(F.col("h").alias("h2"), "y"),
        F.col("h2") == F.col("h") + F.col("lag"),
    )
    m = j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    from unitdb_spark.operators.olap import pinned_pearson

    return m.select(
        "lag",
        F.col("n").cast("long").alias("n"),
        pinned_pearson(
            F.col("n"), F.col("sx"), F.col("sy"),
            F.col("sxx"), F.col("syy"), F.col("sxy"),
        ).alias("corr_r"),
    )


def trend_break(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    break_ts: str,
) -> DataFrame:
    """Piecewise-linear trend comparison around a known breakpoint —
    "did the daily trend change after the deploy?". OLS slope on
    (day index, exact cents) fitted separately before and after
    ``break_ts`` (an ISO timestamp literal; the break row itself
    counts as post).

    Day indices are exact integers from a shared origin (the corpus
    min date — the slope is origin-invariant, the shared origin just
    keeps x small); all moments accumulate in DECIMAL(38,0); each
    slope is ONE pinned double (n·Σxy − Σx·Σy)/(n·Σxx − Σx²),
    round-6, NULL when a side has < 2 distinct days. delta_r is the
    pinned difference of the two rounded slopes (cents per day).

    Output: (n_pre, slope_pre_r, n_post, slope_post_r, delta_r).

    Scale: one global aggregation; both sides' moments come from the
    same pass via conditional aggregates.
    """
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    base = df.select(
        F.to_date(F.col(ts_col)).alias("_d"), cents.alias("_y")
    ).filter(F.col("_y").isNotNull())
    origin = base.agg(F.min("_d").alias("_o"))
    xy = base.join(F.broadcast(origin)).select(
        F.datediff(F.col("_d"), F.col("_o")).cast("long").alias("_x"),
        "_y",
        (F.col("_d") >= F.to_date(F.lit(break_ts))).alias("_post"),
    )

    def side(name: str, flag: bool):
        cond = F.col("_post") == flag
        return [
            F.count(F.when(cond, 1)).alias(f"n_{name}"),
            F.sum(F.when(cond, d38(F.col("_x")))).alias(f"sx_{name}"),
            F.sum(F.when(cond, d38(F.col("_y")))).alias(f"sy_{name}"),
            F.sum(F.when(cond, d38(F.col("_x")) * d38(F.col("_x"))))
            .alias(f"sxx_{name}"),
            F.sum(F.when(cond, d38(F.col("_x")) * d38(F.col("_y"))))
            .alias(f"sxy_{name}"),
        ]

    m = xy.agg(*side("pre", False), *side("post", True))
    d = lambda c: F.col(c).cast("double")  # noqa: E731

    def slope(name: str):
        n = d(f"n_{name}")
        num = n * d(f"sxy_{name}") - d(f"sx_{name}") * d(f"sy_{name}")
        den = n * d(f"sxx_{name}") - d(f"sx_{name}") * d(f"sx_{name}")
        return F.when(den > F.lit(0.0), F.round(num / den, 6))

    sp, sq = slope("pre"), slope("post")
    return m.select(
        F.col("n_pre").cast("long").alias("n_pre"),
        sp.alias("slope_pre_r"),
        F.col("n_post").cast("long").alias("n_post"),
        sq.alias("slope_post_r"),
        F.when(
            sp.isNotNull() & sq.isNotNull(), F.round(sq - sp, 6)
        ).alias("delta_r"),
    )


def decomposition_strength(
    sd: DataFrame, key_col: str = "event_type"
) -> DataFrame:
    """Trend/seasonality strength (Hyndman & Athanasopoulos, FPP) from
    a `seasonal_decompose` output — the one-row-per-series summary
    that turns a decomposition into a triage signal ("which series
    are actually seasonal?"):

        F_trend    = max(0, 1 − Var(R) / Var(T+R))
        F_seasonal = max(0, 1 − Var(R) / Var(S+R))

    Rows without a trend value (the MA warm-up edges) are excluded —
    the residual is undefined there. Components are exact BIGINT
    micro-units, so every variance is the exact integer
    n·Σx² − (Σx)² (DECIMAL accumulation); each strength is ONE pinned
    round-6 expression, NULL when the denominator variance is 0.

    ``key_col`` names the series-key column of the decomposition
    (``seasonal_decompose`` emits it under the caller-chosen key_col;
    default matches its default), mirroring ``seasonal_from_cells``.

    Output: (<key_col>, n, trend_strength_r, seasonal_strength_r).
    """
    base = sd.filter(F.col("trend_mu").isNotNull()).select(
        key_col,
        F.col("residual_mu").alias("_r"),
        (F.col("value_mu") - F.col("seasonal_mu")).alias("_tr"),
        (F.col("value_mu") - F.col("trend_mu")).alias("_sr"),
    )

    def moments(col: str, tag: str):
        return [
            F.sum(d38(F.col(col))).alias(f"s_{tag}"),
            F.sum(d38(F.col(col)) * d38(F.col(col))).alias(f"q_{tag}"),
        ]

    m = base.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        *moments("_r", "r"), *moments("_tr", "tr"), *moments("_sr", "sr"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    nD = d("n")

    def var(tag: str):
        return nD * d(f"q_{tag}") - d(f"s_{tag}") * d(f"s_{tag}")

    def strength(tag: str):
        return F.when(
            var(tag) > F.lit(0.0),
            F.round(
                F.greatest(F.lit(0.0), F.lit(1.0) - var("r") / var(tag)), 6
            ),
        )

    return m.select(
        key_col,
        F.col("n").cast("long").alias("n"),
        strength("tr").alias("trend_strength_r"),
        strength("sr").alias("seasonal_strength_r"),
    )


def holt_linear(
    cells: DataFrame,
    key_col: str,
    t_col: str = "t",
    y_col: str = "y",
    alpha: tuple[int, int] = (3, 10),
    beta: tuple[int, int] = (1, 10),
    horizon: int = 3,
) -> DataFrame:
    """Holt's linear-trend (double) exponential smoothing per key, in
    EXACT integer fixed-point — the trend-aware forecaster the
    level-only `trailing_ewma` / seasonal-naive pair lacks.

    Input: one row per (key, t, y) with integer ``y`` (counts,
    micro-units) — the CELL relation, i.e. already aggregated, so its
    size is keys × observation span regardless of event volume.
    Ordering is by ``t`` per key; indices need not be contiguous
    (each observation is one smoothing step, the standard discrete
    formulation).

    Recurrence (micro-unit states, α = an/ad, β = bn/bd as exact
    rationals; S = 10⁶):

        L₀ = y₀·S        B₀ = (y₁ − y₀)·S
        for each subsequent observation yᵢ (i ≥ 1):
          L ← (an·yᵢ·S + (ad − an)·(L + B)) div ad
          B ← (bn·(L_new − L_old) + (bd − bn)·B) div bd

    where ``div`` TRUNCATES toward zero on both engines (Python
    mirrors SQL's integer division; trend terms go negative, where
    floor and truncate differ). Every state is an exact integer, so a
    recursive-CTE oracle replays the fold bit-for-bit. Envelope:
    |y|·S·ad must stay inside int64 — |y| < 9·10¹¹/ad micro-scaled,
    far beyond any daily-count series; the Python fold itself is
    arbitrary-precision.

    Keys with a single observation emit (L=y₀·S, B=0). Forecasts are
    the linear extrapolation fc_h = L + h·B for h = 1..horizon.

    Shuffle budget: ONE applyInPandas shuffle on the key column; the
    fold is sequential per key (inherent to exponential smoothing)
    but over the tiny cell relation, and keys run in parallel.

    Output: (key, n_obs, l_e6, b_e6, fc1_e6..fc{horizon}_e6).
    """
    an, ad = alpha
    bn, bd = beta
    if not (0 < an <= ad and 0 < bn <= bd):
        raise ValueError("alpha/beta must be rationals in (0, 1]")

    fc_cols = [f"fc{h}_e6" for h in range(1, horizon + 1)]
    out_schema = (
        f"{key_col} string, n_obs long, l_e6 long, b_e6 long, "
        + ", ".join(f"{c} long" for c in fc_cols)
    )

    def tdiv(n: int, d: int) -> int:
        q = abs(n) // d
        return q if n >= 0 else -q

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values(t_col)
        ys = [int(v) for v in pdf[y_col]]
        key = pdf[key_col].iloc[0]
        S = 1_000_000
        if len(ys) == 1:
            lvl, tr = ys[0] * S, 0
        else:
            lvl, tr = ys[0] * S, (ys[1] - ys[0]) * S
            for y in ys[1:]:
                prev = lvl
                lvl = tdiv(an * y * S + (ad - an) * (lvl + tr), ad)
                tr = tdiv(bn * (lvl - prev) + (bd - bn) * tr, bd)
        row = [key, len(ys), lvl, tr] + [
            lvl + h * tr for h in range(1, horizon + 1)
        ]
        return pd.DataFrame(
            [row], columns=[key_col, "n_obs", "l_e6", "b_e6"] + fc_cols
        )

    return (
        cells.select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(t_col).alias(t_col),
            F.col(y_col).cast("long").alias(y_col),
        )
        .groupBy(key_col)
        .applyInPandas(fold, out_schema)
    )


def holt_winters_additive(
    cells: DataFrame,
    key_col: str,
    t_col: str = "t",
    y_col: str = "y",
    m: int = 7,
    alpha: tuple[int, int] = (3, 10),
    beta: tuple[int, int] = (1, 10),
    gamma: tuple[int, int] = (2, 10),
    horizon: int = 3,
) -> DataFrame:
    """Holt-Winters ADDITIVE triple smoothing per key in exact integer
    fixed-point — the seasonal member of the forecasting family
    (`trailing_ewma` = level, `holt_linear` = level+trend, this =
    level+trend+season): a weekly-cycled daily series forecasts with
    the cycle instead of smearing it into the trend.

    Input: the CELL relation (one row per (key, t, y), integer y),
    ordered by ``t`` per key; observation POSITION i (0-based, the
    standard discrete formulation) carries the seasonal phase
    i mod m. Keys with fewer than ``m`` observations are dropped —
    the seasonal state needs one full cycle to initialize.

    Recurrence (micro-unit states, α/β/γ exact rationals, S = 10⁶;
    ``div`` truncates toward zero — the semantics Python's sign-split
    fold and DuckDB's ``//`` share, pinning negative seasonal terms):

        L₀ = (Σ_{i<m} yᵢ·S) div m      B₀ = 0     Sᵢ = yᵢ·S − L₀
        for i = m .. n−1, with sm = S[i mod m]:
          L ← (an·(yᵢ·S − sm) + (ad−an)·(L + B)) div ad
          B ← (bn·(L_new − L_old) + (bd−bn)·B) div bd
          S[i mod m] ← (gn·(yᵢ·S − L_new) + (gd−gn)·sm) div gd

    Every state is an exact integer, so a recursive-CTE oracle
    carrying the seasonal vector as a LIST replays the fold
    bit-for-bit. Forecasts: fc_h = L + h·B + S[(n−1+h) mod m].

    Shuffle budget: ONE applyInPandas shuffle on the key column (the
    holt_linear contract) — the fold is sequential per key, inherent
    to exponential smoothing, but runs over the tiny cell relation
    with keys in parallel.

    Output: (key, n_obs, l_e6, b_e6, fc1_e6..fc{horizon}_e6).
    """
    an, ad = alpha
    bn, bd = beta
    gn, gd = gamma
    if not (0 < an <= ad and 0 < bn <= bd and 0 < gn <= gd):
        raise ValueError("alpha/beta/gamma must be rationals in (0, 1]")
    if m < 2:
        raise ValueError("season length m must be >= 2")

    fc_cols = [f"fc{h}_e6" for h in range(1, horizon + 1)]
    out_schema = (
        f"{key_col} string, n_obs long, l_e6 long, b_e6 long, "
        + ", ".join(f"{c} long" for c in fc_cols)
    )

    def tdiv(n: int, d: int) -> int:
        q = abs(n) // d
        return q if n >= 0 else -q

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values(t_col)
        ys = [int(v) for v in pdf[y_col]]
        key = pdf[key_col].iloc[0]
        SC = 1_000_000
        if len(ys) < m:
            return pd.DataFrame(
                [], columns=[key_col, "n_obs", "l_e6", "b_e6"] + fc_cols
            )
        lvl = tdiv(sum(y * SC for y in ys[:m]), m)
        tr = 0
        seas = [y * SC - lvl for y in ys[:m]]
        for i in range(m, len(ys)):
            sm = seas[i % m]
            prev = lvl
            lvl = tdiv(an * (ys[i] * SC - sm) + (ad - an) * (lvl + tr), ad)
            tr = tdiv(bn * (lvl - prev) + (bd - bn) * tr, bd)
            seas[i % m] = tdiv(gn * (ys[i] * SC - lvl) + (gd - gn) * sm, gd)
        n = len(ys)
        row = [key, n, lvl, tr] + [
            lvl + h * tr + seas[(n - 1 + h) % m]
            for h in range(1, horizon + 1)
        ]
        return pd.DataFrame(
            [row], columns=[key_col, "n_obs", "l_e6", "b_e6"] + fc_cols
        )

    return (
        cells.select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(t_col).alias(t_col),
            F.col(y_col).cast("long").alias(y_col),
        )
        .groupBy(key_col)
        .applyInPandas(fold, out_schema)
    )


def detect_peaks(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    bucket_s: int = 3600,
    half_window: int = 12,
    thresh_num: int = 2,
    thresh_den: int = 1,
) -> DataFrame:
    """Local-peak detection over densified per-key count series — the
    spike TRIAGE view the anomaly family lacks: z-score/CUSUM flag
    individual rows against a global or drifting baseline, while a
    peak is a SHAPE claim (strictly above both neighbors AND above
    thresh × the rolling mean), which is what "did traffic spike at
    3am" actually asks.

    The series densifies onto the full bucket spine per key (missing
    buckets are REAL ZEROS — a spike next to silence must compare
    against 0, the `lag_correlation` spine discipline). Peak test,
    all integer (cross-multiplied threshold, never a float mean):

        y > y_prev  AND  y > y_next  AND
        y · win_n · thresh_den  >  thresh_num · win_sum

    with win_sum/win_n over ±half_window buckets (center included;
    edge buckets carry their true shorter window). First/last spine
    buckets are excluded (no two-sided neighborhood). Strictness
    breaks plateau ties deliberately — a flat-top "peak" is a level
    shift, CUSUM's territory.

    Output: (key, bucket_s, y, win_sum, win_n) — peak rows only.

    Scale: one count agg onto the bucket relation; the spine is
    keys × span buckets regardless of event volume; all windows
    PARTITION BY key. 100 TB note: a multi-year 1s-bucket spine is
    ~10⁸ rows per key — raise bucket_s with the horizon.
    """
    return peaks_from_cells(
        count_cells(df, key_col, ts_col, bucket_s), "_k", "_h", "_y",
        bucket_s=bucket_s, half_window=half_window,
        thresh_num=thresh_num, thresh_den=thresh_den,
        out_key=key_col,
    )


def peaks_from_cells(
    cells: DataFrame,
    key_col: str,
    h_col: str,
    y_col: str,
    bucket_s: int = 3600,
    half_window: int = 12,
    thresh_num: int = 2,
    thresh_den: int = 1,
    out_key: str | None = None,
) -> DataFrame:
    """The peak finish over an already-aggregated (key, bucket-index,
    count) CELL relation — the shared code path between
    `detect_peaks` (batch) and the rolling cell-state twin: cells
    densify onto the spine, then the strict-local-max +
    cross-multiplied rolling-mean test runs per key. See
    `detect_peaks` for semantics."""
    out_key = out_key or key_col
    d = dense_cells(cells, key_col, h_col, y_col)
    wo = Window.partitionBy("_k").orderBy("_h")
    ww = wo.rowsBetween(-int(half_window), int(half_window))
    w = d.select(
        "_k", "_h", "_y",
        F.lag("_y").over(wo).alias("_py"),
        F.lead("_y").over(wo).alias("_ny"),
        F.sum("_y").over(ww).cast("long").alias("win_sum"),
        F.count(F.lit(1)).over(ww).cast("long").alias("win_n"),
    )
    return w.filter(
        F.col("_py").isNotNull()
        & F.col("_ny").isNotNull()
        & (F.col("_y") > F.col("_py"))
        & (F.col("_y") > F.col("_ny"))
        & (
            F.col("_y") * F.col("win_n") * F.lit(int(thresh_den))
            > F.lit(int(thresh_num)) * F.col("win_sum")
        )
    ).select(
        F.col("_k").alias(out_key),
        (F.col("_h") * F.lit(int(bucket_s))).cast("long").alias("bucket_s"),
        F.col("_y").alias("y"),
        "win_sum", "win_n",
    )


def ewma_control(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    bucket_s: int = 3600,
    lam: tuple[int, int] = (1, 8),
    l2: int = 9,
) -> DataFrame:
    """EWMA control chart (Roberts 1959; Lucas & Saccucci 1990) over
    densified per-key count series — the DRIFT detector between the
    point anomaly (z-score), the level shift (CUSUM), and the shape
    claim (peaks): the EWMA statistic z_t = λ·x_t + (1−λ)·z_{t−1}
    accumulates small persistent departures that no single bucket
    would flag, and the chart signals when z leaves the asymptotic
    control band μ ± L·σ·sqrt(λ/(2−λ)).

    Exactness discipline: λ = ln/ld stays rational; the fold runs in
    micro-unit integers with TRUNCATING division (DuckDB's `//`, the
    holt_linear contract — here every state is non-negative so floor
    and truncate agree):

        z_0 = (S·10⁶) div n          (the series mean — never flags)
        z_t = (ln·x_t·10⁶ + (ld−ln)·z_{t−1}) div ld

    and the control test is fully cross-multiplied — with n = spine
    length, S = Σx, SS = Σx², flag at step t ≥ 1 iff

        (z_t·n − S·10⁶)² · (2·ld − ln)  >  l2 · (n·SS − S²) · 10¹² · ln

    (l2 = L², default 9 = the classic 3σ). Both sides are exact
    integers — arbitrary precision in the Python fold, HUGEINT in the
    oracle replay. Constant series (σ² = 0) never flag: z stays
    pinned at μ, so the strict inequality fails.

    Output: out-of-control rows only —
    (key, bucket_s, y, z_e6, side ±1).

    Scale: ONE applyInPandas shuffle on the key; the fold is
    inherently sequential per key but runs over the CELL relation
    (keys × span buckets, independent of event volume), keys in
    parallel. 100 TB envelope: the oracle's HUGEINT (z·n − S·10⁶)²
    holds to n ≈ 10⁶ spine cells at max_count 10⁶; the Spark fold is
    exact at any scale.
    """
    return ewma_from_cells(
        count_cells(df, key_col, ts_col, bucket_s), "_k", "_h", "_y",
        bucket_s=bucket_s, lam=lam, l2=l2, out_key=key_col,
    )


def ewma_from_cells(
    cells: DataFrame,
    key_col: str,
    h_col: str,
    y_col: str,
    bucket_s: int = 3600,
    lam: tuple[int, int] = (1, 8),
    l2: int = 9,
    out_key: str | None = None,
) -> DataFrame:
    """The EWMA-chart finish over an already-aggregated (key,
    bucket-index, count) CELL relation — the shared code path between
    `ewma_control` (batch) and the rolling hourly-cell twin. Cells
    densify onto the contiguous spine (missing buckets are real
    zeros), then the micro-unit fold + cross-multiplied 3σ test runs
    per key. See `ewma_control` for semantics."""
    ln, ld = int(lam[0]), int(lam[1])
    if not 0 < ln < ld:
        raise ValueError("lam must be a rational in (0, 1)")
    l2 = int(l2)
    out_key = out_key or key_col
    d = dense_cells(cells, key_col, h_col, y_col).withColumn(
        "_k", F.col("_k").cast("string")
    )
    SC = 1_000_000

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values("_h")
        ys = [int(v) for v in pdf["_y"]]
        hs = [int(v) for v in pdf["_h"]]
        key = pdf["_k"].iloc[0]
        n, s = len(ys), sum(ys)
        ss = sum(y * y for y in ys)
        rhs = l2 * (n * ss - s * s) * SC * SC * ln
        z = (s * SC) // n
        out = []
        for i in range(1, n):
            z = (ln * ys[i] * SC + (ld - ln) * z) // ld
            dlt = z * n - s * SC
            if dlt * dlt * (2 * ld - ln) > rhs:
                out.append(
                    (key, hs[i] * bucket_s, ys[i], z, 1 if dlt > 0 else -1)
                )
        return pd.DataFrame(
            out, columns=["_k", "bucket_s", "_y", "z_e6", "side"]
        )

    return (
        d.groupBy("_k")
        .applyInPandas(
            fold,
            "_k string, bucket_s long, _y long, z_e6 long, side int",
        )
        .select(
            F.col("_k").alias(out_key), "bucket_s",
            F.col("_y").alias("y"), "z_e6", "side",
        )
    )


def fano_factor(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    bucket_s: int = 3600,
) -> DataFrame:
    """Index of dispersion (Fano factor) per key over the densified
    count spine — the one-number burstiness verdict that routes the
    anomaly family: D = Var/Mean is 1 for a Poisson arrival process,
    D >> 1 means bursty traffic (peaks/CUSUM territory), D << 1 means
    regular/clocked traffic (seasonal territory).

        D = (n·SS − S²) / (n·S),   z = (D − 1)·sqrt((n−1)/2)

    (the classical dispersion-test normal approximation). n, S, SS
    are exact integer/DECIMAL spine moments (lifted before
    multiplying); D and z are each ONE pinned double over those exact
    integers, round-6 — sqrt is IEEE-correctly-rounded on every
    engine, so both columns replay bitwise. `overdispersed` compares
    the round-6 z against the literal one-sided 5% normal quantile.

    Keys with S = 0 (an empty spine can't happen; an all-zero one
    can) are excluded — D is undefined.

    Output: (key, n, fano_r, z_r, overdispersed).

    Scale: one count agg onto the bucket relation + one spine agg per
    key — no windows at all. Envelope: n·SS at 10⁶ cells × 10⁶ max
    count needs the DECIMAL(38,0)/HUGEINT lift used here.
    """
    return fano_from_cells(
        count_cells(df, key_col, ts_col, bucket_s), "_k", "_h", "_y",
        out_key=key_col,
    )


def fano_from_cells(
    cells: DataFrame,
    key_col: str,
    h_col: str,
    y_col: str,
    out_key: str | None = None,
) -> DataFrame:
    """The Fano finish over an already-aggregated (key, bucket-index,
    count) CELL relation — shared between `fano_factor` (batch) and
    the rolling hourly-cell twin. See `fano_factor` for semantics."""
    out_key = out_key or key_col
    d = dense_cells(cells, key_col, h_col, y_col)
    m = d.groupBy("_k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_y").cast("long").alias("_s"),
        F.sum(d38(F.col("_y")) * F.col("_y")).alias("_ss"),
    ).filter(F.col("_s") > 0)
    num = (
        d38(F.col("n")) * F.col("_ss") - d38(F.col("_s")) * F.col("_s")
    ).cast("double")
    den = (d38(F.col("n")) * F.col("_s")).cast("double")
    fano = num / den
    z = (fano - F.lit(1.0)) * F.sqrt(
        (F.col("n") - 1).cast("double") / F.lit(2.0)
    )
    out = m.select(
        F.col("_k").alias(out_key), "n",
        F.round(fano, 6).alias("fano_r"),
        F.round(z, 6).alias("z_r"),
    )
    return out.select(
        "*", (F.col("z_r") > F.lit(1.644854)).alias("overdispersed")
    )


def conformal_backtest(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: tuple[int, int] = (1, 10),
) -> DataFrame:
    """Split-conformal prediction radius (Vovk et al. 2005; Lei et al.
    2018) for the seasonal-naive forecaster — the distribution-free
    interval the point forecasters (seasonal-naive, Holt, HW) lack:
    with calibration residuals r_1..r_n, the radius

        q = the k-th smallest |r|,  k = ceil((1−α)·(n+1))

    guarantees ≥ 1−α coverage for the NEXT observation under
    exchangeability — no normality, no variance estimate, pure order
    statistics, which is also why it is exactly replayable: k is the
    integer ceil((αd−αn)·(n+1) / αd), the radius is the value at
    row_number k over |r| (deterministic under ties — equal values,
    whatever their arbitrary rank order), and the audit coverage
    count(|r| ≤ q)·10⁶ div n is pure integer arithmetic. k > n (too
    few calibration points for the requested level) yields a NULL
    radius — the honest 'interval is infinite' answer.

    Output per key: (key, n_scored, k_rank, q_mu, cov_ppm) — q in the
    backtest's micro-units.

    Scale: rides `_seasonal_naive_residuals` (one cell agg + one
    (key, hour)-partitioned lag window); the rank is a key-partitioned
    window over the residual relation (scored buckets, not events).
    """
    an, ad = int(alpha[0]), int(alpha[1])
    if not 0 < an < ad:
        raise ValueError("alpha must be a rational in (0, 1)")
    cents = F.expr(
        f"CAST(SUM(CAST({value_col} AS DECIMAL(18,2))) * 100 AS BIGINT)"
    )
    cells = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("_k"),
            F.to_date(ts_col).alias("_d"),
            F.hour(ts_col).alias("_h"),
        )
        .agg(cents.alias("_cents"), F.count(F.lit(1)).alias("_c"))
    )
    return conformal_from_cells(cells, key_col, alpha=(an, ad))


def conformal_from_cells(
    cells: DataFrame,
    key_col: str,
    alpha: tuple[int, int] = (1, 10),
) -> DataFrame:
    """The conformal finish over the shared (_k, _d, _h, _cents, _c)
    cell relation — `conformal_backtest`'s scoring half, shared with
    the rolling hourly-cell twin. See `conformal_backtest`."""
    an, ad = int(alpha[0]), int(alpha[1])
    r = _seasonal_naive_residuals(cells).select(
        "_k", F.abs(F.col("_e")).alias("_a")
    )
    w = Window.partitionBy("_k").orderBy("_a")
    ranked = r.select(
        "_k", "_a", F.row_number().over(w).alias("_rn")
    )
    m = r.groupBy("_k").agg(F.count(F.lit(1)).cast("long").alias("n_scored"))
    # k = ceil((1-α)(n+1)) = ((ad-an)(n+1) + ad - 1) div ad
    k_rank = F.expr(
        f"CAST((({ad - an}) * (n_scored + 1) + {ad - 1}) div {ad} AS BIGINT)"
    )
    mk = m.select("_k", "n_scored", k_rank.alias("k_rank"))
    q = (
        ranked.join(mk, "_k")
        .filter(F.col("_rn") == F.col("k_rank"))
        .select("_k", F.col("_a").alias("q_mu"))
    )
    cov = (
        r.join(q, "_k")
        .groupBy("_k")
        .agg(
            F.count(F.when(F.col("_a") <= F.col("q_mu"), 1))
            .cast("long").alias("_nin"),
        )
    )
    return (
        mk.join(q, "_k", "left")
        .join(cov, "_k", "left")
        .select(
            F.col("_k").alias(key_col),
            "n_scored", "k_rank",
            F.col("q_mu").cast("long").alias("q_mu"),
            F.expr("CAST(_nin * 1000000 div n_scored AS BIGINT)")
            .alias("cov_ppm"),
        )
    )


def holt_reconcile(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    alpha: tuple[int, int] = (3, 10),
    beta: tuple[int, int] = (1, 10),
) -> DataFrame:
    """Hierarchical forecast reconciliation (top-down proportional,
    Hyndman FPP ch. 11) over the Holt family: per-key daily forecasts
    and the AGGREGATE series' own forecast generally disagree —
    Σ fc_key ≠ fc_total — because each Holt state smooths its own
    noise. Dashboards need COHERENT numbers: this reconciles the
    per-key h=1 forecasts to the total-series forecast by exact
    largest-remainder apportionment, weights = the clamped base
    forecasts max(fc1, 0).

    One fold covers everything: the per-key daily-count cells UNION a
    synthetic '__total__' series (the day-summed counts) run through
    the SAME holt_linear fold, so the total's forecast obeys the
    identical integer fixed-point contract and the whole operator
    replays in one recursive-CTE oracle.

    Exactness: T = max(fc1_total, 0); base_i = (T·w_i) div W lifted
    to DECIMAL(38,0)/HUGEINT before multiplying (T·w reaches 10²² at
    production volumes); the T − Σ base leftover units go to the
    largest remainders (ties to the smaller key). Σ recon = T
    exactly. W = 0 (every clamped weight zero) yields NULL
    reconciled values — no proportional answer exists.

    Output per key: (key, n_obs, fc1_e6, recon_e6, delta_e6).

    Scale: the cells relation is keys × days; the apportionment runs
    on the per-key forecast relation (keys rows — the
    temperature_allocation allowlist class for its global windows).
    """
    TOTAL = "__total__"
    cells = count_cells(df, F.col(key_col).cast("string"), ts_col, 86_400)
    tot_cells = cells.groupBy("_h").agg(
        F.sum("_y").cast("long").alias("_y")
    ).select(F.lit(TOTAL).alias("_k"), "_h", "_y")
    fc = holt_linear(
        cells.unionByName(tot_cells), "_k", "_h", "_y",
        alpha=alpha, beta=beta, horizon=1,
    )
    tot = fc.filter(F.col("_k") == TOTAL).select(
        F.greatest(F.col("fc1_e6"), F.lit(0)).alias("_T")
    )
    keys = fc.filter(F.col("_k") != TOTAL).select(
        "_k", "n_obs", "fc1_e6",
        F.greatest(F.col("fc1_e6"), F.lit(0)).alias("_w"),
    )
    wall = Window.partitionBy()
    j = keys.crossJoin(F.broadcast(tot)).select(
        "*", F.sum("_w").over(wall).cast("long").alias("_wsum")
    )
    tw = d38(F.col("_T")) * F.col("_w")
    based = j.select(
        "_k", "n_obs", "fc1_e6", "_T", "_wsum",
        F.when(F.col("_wsum") > 0, F.expr(
            "CAST((CAST(_T AS DECIMAL(38,0)) * _w) div _wsum AS BIGINT)"
        )).alias("_base"),
        F.when(F.col("_wsum") > 0, (tw % F.col("_wsum")).cast("long")).alias("_rem"),
    )
    w_rank = Window.orderBy(F.desc("_rem"), F.asc("_k"))
    ranked = based.select(
        "*",
        F.row_number().over(w_rank).alias("_rk"),
        (F.col("_T") - F.sum("_base").over(wall)).cast("long").alias("_left"),
    )
    recon = F.when(
        F.col("_wsum") > 0,
        F.col("_base")
        + F.when(F.col("_rk") <= F.col("_left"), F.lit(1)).otherwise(F.lit(0)),
    ).cast("long")
    return ranked.select(
        F.col("_k").alias(key_col), "n_obs", "fc1_e6",
        recon.alias("recon_e6"),
        (recon - F.col("fc1_e6")).cast("long").alias("delta_e6"),
    )


def haar_energy(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    bucket_s: int = 3600,
    levels: int = 8,
) -> DataFrame:
    """Haar wavelet energy spectrum per key — WHICH TIMESCALE carries
    the variance: level 0 pairs adjacent buckets (hour-to-hour churn
    at the default bucket), level ℓ pairs adjacent blocks of 2^ℓ
    buckets (level 4–5 ≈ intraday vs overnight, beyond ≈ multi-day
    swings). The complement of `events_dominant_period` (which finds
    ONE period) and `seasonal_decompose` (which needs the period
    given): the spectrum localizes energy across ALL dyadic scales in
    one pass.

    Per level ℓ, unnormalized detail energy

        E_ℓ = Σ_j (S_{2j} − S_{2j+1})²,   S = counts summed over
                                           blocks of 2^ℓ buckets

    where pair j is scored iff its odd block intersects the observed
    span (blocks never extend past the data — no zero-padding
    artifacts; EMPTY interior blocks are real zeros automatically,
    because missing cells simply add nothing to a block sum — the
    spine never materializes). share_ppm applies the classical
    1/2^(ℓ+1) Haar normalization by CROSS-SCALING to integers:
    share_ℓ = E_ℓ·2^(L−ℓ)·10⁶ div Σ_m E_m·2^(L−m).

    Everything is exact: block sums are integer aggregates, energies
    are DECIMAL(38,0) sums of squared integers, shares are integer
    division. Levels whose pairing exceeds the span emit no row.

    Output: (key, level, block_s, energy, share_ppm) — block_s = the
    block width in seconds.

    Scale: ONE levels× explode of the (key, bucket) cell relation
    into a map-side-combined (key, level, block) aggregate; the pair
    diff and energy run on block relations that HALVE per level.
    Envelope: S ≤ span·max_count; E sums of S² need the DECIMAL lift
    (present) past ~3·10⁹ block mass.
    """
    return haar_from_cells(
        count_cells(df, key_col, ts_col, bucket_s), "_k", "_h", "_y",
        bucket_s=bucket_s, levels=levels, out_key=key_col,
    )


def haar_from_cells(
    cells: DataFrame,
    key_col: str,
    h_col: str,
    y_col: str,
    bucket_s: int = 3600,
    levels: int = 8,
    out_key: str | None = None,
) -> DataFrame:
    """The Haar-spectrum finish over an already-aggregated (key,
    bucket-index, count) CELL relation — shared between `haar_energy`
    (batch) and the rolling hourly-cell twin. See `haar_energy`."""
    L = int(levels)
    if L < 1:
        raise ValueError("haar_energy: levels must be >= 1")
    out_key = out_key or key_col
    b = cells.select(
        F.col(key_col).alias("_k"),
        F.col(h_col).cast("long").alias("_h"),
        F.col(y_col).cast("long").alias("_y"),
    )
    key_col = out_key
    rng = b.groupBy("_k").agg(
        F.min("_h").alias("_mn"), F.max("_h").alias("_mx")
    )
    o = b.join(rng, "_k").select(
        "_k", (F.col("_h") - F.col("_mn")).alias("_o"), "_y",
        (F.col("_mx") - F.col("_mn")).alias("_span"),
    )
    lv = o.select(
        "_k", "_y", "_span",
        F.explode(F.sequence(F.lit(0), F.lit(L - 1))).alias("lvl"),
        "_o",
    ).select(
        "_k", "lvl", "_y", "_span",
        F.expr("_o div CAST(pow(2, lvl) AS BIGINT)").alias("_blk"),
    )
    blocks = lv.groupBy("_k", "lvl", "_span", "_blk").agg(
        F.sum("_y").cast("long").alias("_s")
    )
    paired = blocks.select(
        "_k", "lvl", "_span",
        F.expr("_blk div 2").alias("_j"),
        F.when(F.col("_blk") % 2 == 0, F.col("_s")).alias("_e"),
        F.when(F.col("_blk") % 2 == 1, F.col("_s")).alias("_od"),
    ).groupBy("_k", "lvl", "_span", "_j").agg(
        F.coalesce(F.sum("_e"), F.lit(0)).alias("s0"),
        F.coalesce(F.sum("_od"), F.lit(0)).alias("s1"),
    ).filter(
        # the odd block must start inside the span
        (F.lit(2) * F.col("_j") + 1)
        * F.expr("CAST(pow(2, lvl) AS BIGINT)")
        <= F.col("_span")
    )
    d = (F.col("s0") - F.col("s1")).cast("decimal(38,0)")
    en = paired.groupBy("_k", "lvl").agg(
        F.sum(d * d).cast("decimal(38,0)").alias("_en")
    )
    wsum = Window.partitionBy("_k")
    scaled = en.select(
        "_k", "lvl", "_en",
        (
            F.col("_en")
            * F.expr(f"CAST(pow(2, {L} - lvl) AS BIGINT)")
        ).alias("_sc"),
    ).select(
        "_k", "lvl", "_en", "_sc",
        F.sum("_sc").over(wsum).alias("_tot"),
    )
    return scaled.select(
        F.col("_k").alias(key_col),
        F.col("lvl").cast("int").alias("level"),
        (
            F.expr("CAST(pow(2, lvl) AS BIGINT)") * F.lit(int(bucket_s))
        ).cast("long").alias("block_s"),
        F.col("_en").cast("long").alias("energy"),
        F.when(
            F.col("_tot") > 0,
            F.expr("CAST((_sc * 1000000) div _tot AS BIGINT)"),
        ).alias("share_ppm"),
    )


def interrupted_ts(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    cutoff_ppm: int = 700_000,
) -> DataFrame:
    """Interrupted time-series (segmented-regression) analysis per
    key: fit y ~ t to the daily counts BEFORE and AFTER a cutoff and
    report the level and slope changes at the break — the standard
    causal readout for "we shipped/changed X on day D" when no
    concurrent control exists (the within-series counterpart of
    events_did's control-arm design).

    The cutoff day is value-based integer arithmetic (mn +
    (mx−mn)·ppm div 10⁶, the training_table convention). Each side's
    OLS runs on EXACT integer moments (x = day − mn and y = count are
    integers, so Σx, Σy, Σxy, Σx² are exact DECIMAL(38,0) sums);
    slope, intercept, the slope change, and the level change at the
    first post day x₀

        level_change = (b_post + m_post·x₀) − (b_pre + m_pre·x₀)

    are each ONE pinned double, round-6. A side with fewer than 2
    days or zero x-variance yields NULLs.

    Output per key: (key, n_pre, n_post, slope_pre_r, slope_post_r,
    slope_change_r, level_change_r).

    Scale: one (key, day) count agg; both fits are plain aggregates
    over the day relation — no windows at all.
    """
    if not 0 < int(cutoff_ppm) < 1_000_000:
        raise ValueError("cutoff_ppm must be inside the unit span")
    cells = count_cells(df, key_col, ts_col, 86_400)
    rng = cells.groupBy("_k").agg(
        F.min("_h").alias("_mn"), F.max("_h").alias("_mx")
    ).select(
        "_k", "_mn",
        (
            F.col("_mn")
            + F.expr(f"((_mx - _mn) * {int(cutoff_ppm)}) div 1000000")
        ).alias("_cut"),
    )
    x = (F.col("_h") - F.col("_mn")).alias("_x")
    sided = cells.join(rng, "_k").select(
        "_k", "_y", "_cut", "_mn", x,
        (F.col("_h") > F.col("_cut")).cast("int").alias("_post"),
    )

    def moments(side: int, tag: str):
        c = F.col("_post") == side
        xx = F.when(c, F.col("_x"))
        yy = F.when(c, F.col("_y"))
        return [
            F.count(xx).cast("long").alias(f"n_{tag}"),
            F.coalesce(F.sum(d38(xx)), F.lit(0)).alias(f"sx_{tag}"),
            F.coalesce(F.sum(d38(yy)), F.lit(0)).alias(f"sy_{tag}"),
            F.coalesce(
                F.sum(d38(xx) * F.col("_y")), F.lit(0)
            ).alias(f"sxy_{tag}"),
            F.coalesce(
                F.sum(d38(xx) * F.col("_x")), F.lit(0)
            ).alias(f"sxx_{tag}"),
        ]

    m = sided.groupBy("_k").agg(
        *moments(0, "pre"), *moments(1, "post"),
        (F.min("_cut") - F.min("_mn") + 1).cast("double").alias("_x0"),
    )

    def fit(tag: str):
        n = F.col(f"n_{tag}").cast("double")
        sx = F.col(f"sx_{tag}").cast("double")
        sy = F.col(f"sy_{tag}").cast("double")
        sxy = F.col(f"sxy_{tag}").cast("double")
        sxx = F.col(f"sxx_{tag}").cast("double")
        den = n * sxx - sx * sx
        slope = (n * sxy - sx * sy) / den
        intercept = (sy - slope * sx) / n
        ok = (F.col(f"n_{tag}") >= 2) & (den != 0)
        return ok, slope, intercept

    ok_a, m_a, b_a = fit("pre")
    ok_b, m_b, b_b = fit("post")
    both = ok_a & ok_b
    x0 = F.col("_x0")
    return m.select(
        F.col("_k").alias(key_col), "n_pre", "n_post",
        F.when(ok_a, F.round(m_a, 6)).alias("slope_pre_r"),
        F.when(ok_b, F.round(m_b, 6)).alias("slope_post_r"),
        F.when(both, F.round(m_b - m_a, 6)).alias("slope_change_r"),
        F.when(
            both,
            F.round((b_b + m_b * x0) - (b_a + m_a * x0), 6),
        ).alias("level_change_r"),
    )


def sax_motifs(
    cells: DataFrame,
    key_col: str,
    t_col: str,
    y_col: str,
    alphabet: int = 4,
    word_len: int = 3,
    top_k: int = 3,
) -> DataFrame:
    """SAX-style motif discovery per key (Lin & Keogh 2003's
    symbolize-then-count idea): the daily series becomes a string
    over a small alphabet, and the most frequent length-``word_len``
    words are the series' recurring shapes — "which 3-day pattern
    does this metric keep playing?". The symbolic companion of
    `events_dominant_period` (spectral) and the Markov family
    (per-event transitions; this is per-DAY level patterns).

    Symbolization deviates from the paper's Gaussian breakpoints on
    purpose: ntile(``alphabet``) over (y, t) within the key gives
    EQUAL-FREQUENCY symbols — scale-free (no mean/variance
    normalization, so no floats at all), deterministic cross-engine
    (ntile is purely positional and the (y, t) order is total), and
    robust to the heavy tails the Gaussian assumption breaks on.
    Words must be CONTIGUOUS in t (lead(t, i) = t + i), so calendar
    gaps never fabricate a motif. Ties rank (count DESC, motif).

    Output: (key, motif, n, rank) with rank ≤ ``top_k``.

    Scale: cost is the per-key CELL relation (days, not events) —
    two key-partitioned windows (ntile, lead) + one (key, word)
    count; at 100 TB the upstream daily aggregation owns the
    reduction and every window stays on the key shuffle.
    """
    if not 2 <= alphabet <= 26:
        raise ValueError("sax_motifs: alphabet in 2..26")
    if word_len < 2:
        raise ValueError("sax_motifs: word_len >= 2")
    b = cells.select(
        F.col(key_col).alias("_k"),
        F.col(t_col).cast("long").alias("_t"),
        F.col(y_col).cast("long").alias("_y"),
    )
    wq = Window.partitionBy("_k").orderBy("_y", "_t")
    letters = F.array(
        *[F.lit(c) for c in "abcdefghijklmnopqrstuvwxyz"[:alphabet]]
    )
    sym = b.select(
        "_k", "_t",
        F.element_at(letters, F.ntile(alphabet).over(wq)).alias("_s"),
    )
    wt = Window.partitionBy("_k").orderBy("_t")
    parts = [F.col("_s")]
    ok = F.lit(True)
    for i in range(1, word_len):
        parts.append(F.lead("_s", i).over(wt))
        ok = ok & (F.lead("_t", i).over(wt) == F.col("_t") + i)
    words = sym.select(
        "_k", F.concat(*parts).alias("_w"), ok.alias("_ok")
    ).filter(F.col("_ok") & F.col("_w").isNotNull())
    counts = words.groupBy("_k", "_w").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wr = Window.partitionBy("_k").orderBy(F.col("n").desc(), "_w")
    return (
        counts.select(
            F.col("_k").alias(key_col),
            F.col("_w").alias("motif"),
            "n",
            F.row_number().over(wr).alias("rank"),
        )
        .filter(F.col("rank") <= top_k)
    )


def burstiness_report(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-key (burstiness, memory) characterization of inter-event
    times (Goh & Barabási 2008) — the temporal-texture signature that
    separates a Poisson stream (B≈0, M≈0) from human/bursty activity
    (B>0: heavy-tailed gaps) and from machine heartbeats (B<0:
    regular gaps), and whether long gaps FOLLOW long gaps (M>0,
    clustered outages) or alternate (M<0). Complements
    `events_fano` (count dispersion) with the GAP-domain view the
    Fano factor cannot see.

        B = (σ − μ)/(σ + μ)          over the gap distribution
        M = corr(g_i, g_{i+1})        lag-1 gap autocorrelation

    Gaps are exact integer microseconds from one (key)-partitioned
    lag window; all moments accumulate in DECIMAL(38,0); B and M are
    each ONE pinned float chain (population σ; Pearson over the
    consecutive-gap pairs), NULL under 2 gaps / zero variance.

    Output: (key, n_gaps, mean_gap_us, b_r, m_r).

    Scale: one window + one partial agg per key — the
    sessionize/gaps shape; nothing leaves the key partition.
    """
    w = Window.partitionBy("_k").orderBy("_t", "_e")
    base = df.select(
        F.col(key_col).alias("_k"),
        F.unix_micros(F.col(ts_col)).alias("_t"),
        F.col(tiebreak_col).alias("_e"),
    )
    # one window gives gap i (backward lag) and its successor gap
    # (forward lead) on the same row — consecutive pairs for free
    seq = base.select(
        "_k",
        (F.col("_t") - F.lag("_t").over(w)).alias("_g"),
        (F.lead("_t", 1).over(w) - F.col("_t")).alias("_gn"),
    ).filter(F.col("_g").isNotNull())
    agg = seq.groupBy("_k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d38(F.col("_g"))).alias("s"),
        F.sum(d38(F.col("_g")) * d38(F.col("_g"))).alias("q"),
    )
    pair = seq.filter(F.col("_gn").isNotNull()).groupBy("_k").agg(
        F.count(F.lit(1)).alias("n2"),
        F.sum(d38(F.col("_g"))).alias("sa"),
        F.sum(d38(F.col("_gn"))).alias("sb"),
        F.sum(d38(F.col("_g")) * d38(F.col("_g"))).alias("saa"),
        F.sum(d38(F.col("_gn")) * d38(F.col("_gn"))).alias("sbb"),
        F.sum(d38(F.col("_g")) * d38(F.col("_gn"))).alias("sab"),
    )
    j = agg.join(pair, "_k", "left")
    return burstiness_from_moments(j, key_col)


def burstiness_from_moments(j: DataFrame, key_col: str) -> DataFrame:
    """Finish the (B, M) report from per-key exact moment sums
    (_k, n, s, q, n2, sa, sb, saa, sbb, sab) — split out so the
    streaming stitcher can fold mergeable per-batch gap partials into
    the SAME pinned float chains (gaps and consecutive-gap pairs are
    reconstructed exactly at the batch boundary by the last-ts/
    last-gap state, and their moments merge by SUM)."""
    nD = F.col("n").cast("double")
    sig = F.sqrt(
        (F.col("q") * F.col("n") - F.col("s") * F.col("s"))
        .cast("double")
    ) / nD
    mu = F.col("s").cast("double") / nD
    b = (sig - mu) / (sig + mu)
    va = (F.col("saa") * F.col("n2") - F.col("sa") * F.col("sa"))
    vb = (F.col("sbb") * F.col("n2") - F.col("sb") * F.col("sb"))
    m = (
        (F.col("sab") * F.col("n2") - F.col("sa") * F.col("sb"))
        .cast("double")
        / F.sqrt(va.cast("double") * vb.cast("double"))
    )
    return j.select(
        F.col("_k").alias(key_col),
        F.col("n").cast("long").alias("n_gaps"),
        F.expr("CAST(s div n AS BIGINT)").alias("mean_gap_us"),
        F.when(
            (F.col("n") >= 2) & ((sig + mu) > 0), F.round(b, 6)
        ).alias("b_r"),
        F.when(
            (F.col("n2") >= 2) & (va > 0) & (vb > 0), F.round(m, 6)
        ).alias("m_r"),
    )


HURST_SIZES = (16, 64, 256)
# log2 of each window size, exact integers for the literal OLS x-axis
_HURST_LOG2 = {16: 4, 64: 6, 256: 8}


def hurst_rs(
    cells: DataFrame,
    key_col: str,
    t_col: str,
    y_col: str,
    sizes: tuple[int, ...] = HURST_SIZES,
) -> DataFrame:
    """Per-key Hurst exponent by rescaled-range analysis (Hurst 1951,
    Mandelbrot & Wallis 1969) — the long-memory summary the ACF table
    can only hint at: H ≈ 0.5 is a memoryless walk, H > 0.5
    long-range persistence (trends feed trends — capacity planning
    must NOT assume independent hours), H < 0.5 mean reversion.

    Protocol, exactness-first: the per-key series (``t_col`` must be
    a DENSE 0..n-1 index — build the spine upstream) splits into
    non-overlapping windows of each size in ``sizes`` (incomplete
    tails drop); within a window the cumulative deviation clears to
    integers by multiplying through by n (n·dev_j = n·cum_j − j·S),
    so

        R/S = (max(n·dev) − min(n·dev)) / sqrt(n·Q − S²)

    is ONE pinned float per window (zero-variance windows drop — R/S
    is undefined there, the standard treatment). Each window
    contributes a round-6 log2(R/S) (the per-TYPE transcendental
    contract); per size the mean log2 is an exact decimal sum with
    one pinned division; H is the OLS slope of mean-log2(R/S) against
    the LITERAL integer log2(size) axis — with the default sizes the
    denominator Σ(x−x̄)² = 8 exactly, so the slope is one more pinned
    float over exact decimals.

    Output: (key, n_windows, h_r) — h_r NULL when fewer than two
    sizes produced a usable window.

    Scale: windows are (key, size, segment) groups over the CELL
    relation — Σ_k n_k × |sizes| rows of window work, all
    key-partitioned; the OLS finish runs on a keys × sizes relation.
    """
    if len(sizes) < 2:
        raise ValueError("hurst_rs: need >= 2 window sizes")
    if any(_HURST_LOG2.get(sz) is None for sz in sizes):
        raise ValueError(
            f"hurst_rs: sizes must be powers of two in {sorted(_HURST_LOG2)}"
        )
    b = cells.select(
        F.col(key_col).alias("_k"),
        F.col(t_col).cast("long").alias("_t"),
        F.col(y_col).cast("long").alias("_y"),
    )
    parts = [
        b.select(
            "_k",
            F.lit(sz).alias("_sz"),
            F.lit(_HURST_LOG2[sz]).alias("_lx"),
            (F.col("_t") % sz).alias("_j"),
            F.expr(f"_t div {sz}").alias("_seg"),
            "_y",
        )
        for sz in sizes
    ]
    u = parts[0]
    for p_ in parts[1:]:
        u = u.unionByName(p_)
    wcum = (
        Window.partitionBy("_k", "_sz", "_seg")
        .orderBy("_j")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("_k", "_sz", "_seg")
    # n·dev_j = n·cum_j − (j+1)·S — exact integers, no mean division
    nd = (
        d38(F.sum("_y").over(wcum)) * F.col("_sz")
        - (F.col("_j") + 1) * d38(F.sum("_y").over(wtot))
    )
    spread = u.select(
        "_k", "_sz", "_lx", "_seg",
        nd.alias("_nd"),
        F.count(F.lit(1)).over(wtot).alias("_n"),
        F.sum("_y").over(wtot).alias("_s"),
        F.sum(d38(F.col("_y")) * d38(F.col("_y"))).over(wtot).alias("_q"),
    )
    per_seg = spread.groupBy("_k", "_sz", "_lx", "_seg").agg(
        F.first("_n").alias("n"),
        F.first("_s").alias("s"),
        F.first("_q").alias("q"),
        F.max("_nd").alias("ndmax"),
        F.min("_nd").alias("ndmin"),
    )
    full = per_seg.filter(F.col("n") == F.col("_sz"))
    var_n2 = d38(F.col("q")) * F.col("n") - d38(F.col("s")) * F.col("s")
    rs = (
        (F.col("ndmax") - F.col("ndmin")).cast("double")
        / F.sqrt(var_n2.cast("double"))
    )
    lg = full.filter(var_n2 > 0).select(
        "_k", "_sz", "_lx",
        F.round(F.log2(rs), 6).cast("decimal(18,6)").alias("_l2"),
    )
    per_size = lg.groupBy("_k", "_sz", "_lx").agg(
        F.count(F.lit(1)).alias("n_w"),
        F.sum("_l2").alias("_l2s"),
    )
    # OLS slope over the (log2 size, mean log2 RS) points with the
    # LITERAL x axis: u_i = m·x_i − Σx clears the mean, so
    # slope = m·Σ u_i·y_i / Σ u_i² — one pinned float chain. The x̄
    # is precomputed for the FULL sizes tuple, so H is NULL unless
    # every size produced a usable window.
    xs = [_HURST_LOG2[sz] for sz in sizes]
    xn = len(xs)
    xsum = sum(xs)
    den = sum((x * xn - xsum) ** 2 for x in xs)
    pts = per_size.select(
        "_k", "_lx", "n_w",
        (F.col("_l2s").cast("double") / F.col("n_w").cast("double"))
        .alias("_my"),
    )
    agg = pts.groupBy("_k").agg(
        F.count(F.lit(1)).alias("n_sizes"),
        F.sum("n_w").cast("long").alias("n_windows"),
        F.sum(
            (F.col("_lx") * xn - F.lit(xsum)).cast("double")
            * F.col("_my")
        ).alias("_num"),
    )
    h = F.col("_num") * F.lit(float(xn)) / F.lit(float(den))
    return agg.select(
        F.col("_k").alias(key_col),
        "n_windows",
        F.when(F.col("n_sizes") == xn, F.round(h, 6)).alias("h_r"),
    )


def running_records(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col,
) -> DataFrame:
    """Running-record detector: per key, the rows whose value STRICTLY
    exceeds every earlier value under the total order (ts, id) — the
    record-breaking events. In a stationary series records arrive
    ~ln(n) times, so a key minting records much faster is trending or
    anomalous (the extreme-value companion of `cusum`'s mean-shift
    and `peaks`' local-max readings).

    ``value_col`` must be an exact integer expression (cents — the
    repo's quantization); NULL values drop before ranking. A row is a
    record when the strict prefix max is NULL (first valid row) or
    smaller; record_no counts records so far within the key.

    Output: one row per RECORD — (key, id, value, record_no).

    Scale: ONE key-partitioned window over the raw rows (parallel
    across keys, the events_running class); no global sort, no join.
    The streaming twin (`streaming.state.streaming_records`) holds
    two integers per key and emits the identical rows on an in-order
    replay — exact integer arithmetic has no order ambiguity.
    """
    val = value_col if not isinstance(value_col, str) else F.col(value_col)
    ts = ts_col if not isinstance(ts_col, str) else F.col(ts_col)
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(id_col).cast("long").alias("id"),
        ts.cast("timestamp").alias("_ts"),
        val.cast("long").alias("value"),
    ).filter(F.col("value").isNotNull())
    w = Window.partitionBy("key").orderBy("_ts", "id")
    prev_max = F.max("value").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = base.select(
        "key", "id", "value",
        (prev_max.isNull() | (F.col("value") > prev_max)).alias("_rec"),
        F.sum(
            F.when(
                prev_max.isNull() | (F.col("value") > prev_max), 1
            ).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "record_no"
        ),
    )
    return flagged.filter(F.col("_rec")).select(
        "key", "id", "value", F.col("record_no").cast("long").alias("record_no")
    )


def spc_western_rules(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col,
) -> DataFrame:
    """Western Electric run rules over a Shewhart chart of DAILY
    totals — the classical zone-test complement of `cusum` (drift)
    and `ewma_chart` (small shifts): per key, center μ and σ come
    from the series itself (retrospective chart), and each day is
    judged by the four WE rules:

        r1: the point is beyond μ ± 3σ
        r2: ≥ 2 of the last 3 points beyond 2σ on the SAME side
        r3: ≥ 4 of the last 5 points beyond 1σ on the same side
        r4: 8 consecutive points on the same side of μ

    Daily x = exact SUM of integer cents (no division); μ and σ are
    each ONE pinned float chain off exact DECIMAL moments (identical
    text in the oracle), and every zone comparison is between doubles
    both engines derive identically — deterministic throughout. A
    flat series (σ = 0) reports NULL flags (no zones to test).

    Output: (key, d, x_cents, r1, r2, r3, r4) — one row per
    (key, day).

    Scale: one (key, day) cell aggregation; per-key moments broadcast
    back (keys rows); the rule windows are key-partitioned lags over
    the day relation — nothing leaves the key partition.
    """
    val = value_col if not isinstance(value_col, str) else F.col(value_col)
    ts = ts_col if not isinstance(ts_col, str) else F.col(ts_col)
    cells = (
        df.select(
            F.col(key_col).alias("key"),
            F.to_date(ts).alias("d"),
            val.cast("long").alias("_c"),
        )
        .filter(F.col("_c").isNotNull())
        .groupBy("key", "d")
        .agg(F.sum("_c").alias("x_cents"))
    )
    stats = cells.groupBy("key").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("x_cents").alias("_s"),
        F.sum(d38(F.col("x_cents")) * d38(F.col("x_cents"))).alias("_ss"),
    )
    nD = F.col("_n").cast("double")
    mu = F.col("_s").cast("double") / nD
    var = (
        F.col("_n").cast("decimal(38,0)") * F.col("_ss")
        - d38(F.col("_s")) * d38(F.col("_s"))
    ).cast("double") / (nD * nD)
    st = stats.select(
        "key", "_n", mu.alias("_mu"),
        F.when(var > 0, F.sqrt(var)).alias("_sd"),
    )
    j = cells.join(F.broadcast(st), "key")
    xd = F.col("x_cents").cast("double")
    up1, lo1 = F.col("_mu") + F.col("_sd"), F.col("_mu") - F.col("_sd")
    up2 = F.col("_mu") + F.lit(2.0) * F.col("_sd")
    lo2 = F.col("_mu") - F.lit(2.0) * F.col("_sd")
    up3 = F.col("_mu") + F.lit(3.0) * F.col("_sd")
    lo3 = F.col("_mu") - F.lit(3.0) * F.col("_sd")
    flags = j.select(
        "key", "d", "x_cents", "_sd",
        (xd > F.col("_mu")).cast("int").alias("_above"),
        (xd < F.col("_mu")).cast("int").alias("_below"),
        (xd > up2).cast("int").alias("_a2"),
        (xd < lo2).cast("int").alias("_b2"),
        (xd > up1).cast("int").alias("_a1"),
        (xd < lo1).cast("int").alias("_b1"),
        ((xd > up3) | (xd < lo3)).alias("_r1"),
    )
    w3 = Window.partitionBy("key").orderBy("d").rowsBetween(-2, 0)
    w5 = Window.partitionBy("key").orderBy("d").rowsBetween(-4, 0)
    w8 = Window.partitionBy("key").orderBy("d").rowsBetween(-7, 0)
    out = flags.select(
        "key", "d", "x_cents", "_sd",
        F.col("_r1").alias("r1"),
        (
            (F.sum("_a2").over(w3) >= 2) | (F.sum("_b2").over(w3) >= 2)
        ).alias("r2"),
        (
            (F.sum("_a1").over(w5) >= 4) | (F.sum("_b1").over(w5) >= 4)
        ).alias("r3"),
        (
            (F.sum("_above").over(w8) == 8)
            | (F.sum("_below").over(w8) == 8)
        ).alias("r4"),
    )
    return out.select(
        "key", "d", "x_cents",
        *[
            F.when(F.col("_sd").isNotNull(), F.col(c)).alias(c)
            for c in ("r1", "r2", "r3", "r4")
        ],
    )
