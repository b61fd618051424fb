"""Continuous aggregates: rolling state tables maintained by the stream.

The batch ``operators.rollup.topic_rollup`` recomputes the whole topic
tree; at 100 TB of history that is the wrong cost model for a
dashboard refreshed every minute. The streaming formulation declares
each state as ONE streaming aggregation (``groupBy(...).agg(...)``
over the stream). Spark's state store folds every micro-batch into
the aggregation buffers of the touched keys, and
``streaming.commitlog.snapshot_sink`` publishes the whole state after
each batch as a versioned snapshot; its docstring gives the crash and
restart protocol. The ``read_*`` functions finish a committed
snapshot through the batch operators' own code, so on the same rows
the streamed dashboard IS the batch one.

Only aggregates the state store can fold are maintained (count, sum,
min, max, struct extrema). Distinct counts are NOT (a streaming
distinct would keep every value as state); callers needing them run
the batch operator or a sketch instead. The skyline frontier is the
one fold that is not a Spark aggregate: it passes ``merge`` to the
sink instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unitdb_spark.operators.rollup import prefix_expr
from unitdb_spark.streaming.commitlog import read_snapshot, snapshot_sink


def _rollup_state(entries: DataFrame) -> DataFrame:
    val = F.col("value") if "value" in entries.columns else F.lit(0.0)
    ex = entries.filter(~F.col("is_pattern")).select(
        "contract",
        F.explode(prefix_expr()).alias("topic_prefix"),
        "ts",
        val.alias("value"),
    )
    return ex.groupBy("contract", "topic_prefix").agg(
        F.count(F.lit(1)).alias("n_msgs"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def read_rollup(spark, agg_path: str) -> DataFrame:
    """Read the current committed rollup snapshot (latest commit-log
    entry across query generations)."""
    return read_snapshot(spark, agg_path, "rollup snapshot")


def continuous_rollup(
    entries: DataFrame,
    agg_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Start the streaming query maintaining the versioned rollup
    table under ``agg_path`` (read it with ``read_rollup``) from a
    messages-schema stream (with derived topic columns). Returns the
    StreamingQuery."""
    return snapshot_sink(
        _rollup_state(entries), agg_path, checkpoint,
        trigger_available_now=trigger_available_now,
    )


# --------------------------------------------- rolling key-count state
#
# The concentration audit's streaming twin: per-key mass (row counts)
# is the algebraic state — a count the state store folds batch by
# batch, so the committed state equals the one-shot batch groupBy bit
# for bit regardless of how the stream was split into micro-batches. The
# CONCENTRATION REPORT (top-1/top-k shares, HHI) is derived from the
# state at read time via the batch operator's own math
# (operators.profile.concentration_from_counts): a rolling skew audit
# refreshed per micro-batch at O(state + batch) cost, never
# O(history).


def continuous_key_counts(
    stream: DataFrame,
    key_col: str,
    state_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Maintain the versioned per-key count state under ``state_path``
    from any streaming DataFrame; read it with ``read_key_counts`` or
    go straight to the audit with ``read_concentration``. Returns the
    StreamingQuery."""
    return snapshot_sink(
        stream.groupBy(F.col(key_col).alias("_k")).agg(
            F.count(F.lit(1)).alias("_n")
        ),
        state_path,
        checkpoint,
        trigger_available_now=trigger_available_now,
    )


def read_key_counts(spark, state_path: str) -> DataFrame:
    """The committed (_k, _n) per-key state."""
    return read_snapshot(spark, state_path, "key-count state")


def read_concentration(spark, state_path: str, top_k: int = 10) -> DataFrame:
    """The rolling concentration audit over the committed state —
    identical math to the batch `operators.profile.concentration_report`
    (shared implementation), so on the same data the streamed audit IS
    the batch audit."""
    from unitdb_spark.operators.profile import concentration_from_counts

    return concentration_from_counts(read_key_counts(spark, state_path), top_k)


# ------------------------------------------ rolling forecast backtest
#
# The seasonal-naive backtest's streaming twin: the mergeable state is
# the (key, day, hour) cell relation — exact BIGINT cents + counts,
# both plain sums, so the committed state equals the batch groupBy bit
# for bit however the stream was split. The SCORING (previous-calendar-
# day lag, MAE/bias) runs over the committed cells at read time
# through the batch operator's own shared code path
# (operators.timeseries.seasonal_naive_from_cells) — a forecast-error
# dashboard refreshed per micro-batch at O(cells + batch) cost.


def continuous_hourly_cells(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    state_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Maintain the versioned (key, day, hour) cents/count cell state;
    read it with ``read_cells`` or go straight to the rolling backtest
    with ``read_forecast_backtest``. Returns the StreamingQuery."""
    cents = F.expr(
        f"CAST(SUM(CAST({value_col} AS DECIMAL(18,2))) * 100 AS BIGINT)"
    )
    cells = (
        stream.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("_k"),
            F.to_date(ts_col).alias("_d"),
            F.hour(ts_col).alias("_h"),
        )
        .agg(cents.alias("_cents"), F.count(F.lit(1)).alias("_c"))
    )
    return snapshot_sink(
        cells, state_path, checkpoint,
        trigger_available_now=trigger_available_now,
    )


def read_cells(spark, state_path: str) -> DataFrame:
    """The committed (_k, _d, _h, _cents, _c) cell state."""
    return read_snapshot(spark, state_path, "cell state")


def read_forecast_backtest(
    spark, state_path: str, key_col: str = "event_type"
) -> DataFrame:
    """The rolling seasonal-naive backtest over the committed cells —
    scoring shared verbatim with the batch operator, so on the same
    data the streamed backtest IS the batch backtest."""
    from unitdb_spark.operators.timeseries import seasonal_naive_from_cells

    return seasonal_naive_from_cells(read_cells(spark, state_path), key_col)


def read_seasonal_decompose(
    spark, state_path: str, key_col: str = "event_type"
) -> DataFrame:
    """The rolling seasonal decomposition over the committed hourly
    cells — the same state `read_forecast_backtest` scores, decomposed
    through the batch operator's shared code path
    (operators.timeseries.seasonal_from_cells): one maintained state,
    two derived dashboards."""
    from unitdb_spark.operators.timeseries import seasonal_from_cells

    return seasonal_from_cells(read_cells(spark, state_path), key_col)


def read_jackknife_ratio(
    spark, state_path: str, key_col: str = "event_type"
) -> DataFrame:
    """Rolling jackknife SE of the per-key cents-per-event ratio, off
    the SAME committed hourly cells the backtest/decomposition read —
    a third dashboard on one maintained state. The hourly cells roll
    up to delete-1 DAY units (cents/counts merge by sum, so the
    rolled relation equals the batch day groupBy bit for bit), then
    the finish is the batch operator's shared code path
    (operators.stats_tests.jackknife_ratio)."""
    from pyspark.sql import functions as F

    from unitdb_spark.operators.stats_tests import jackknife_ratio

    days = (
        read_cells(spark, state_path)
        .groupBy(F.col("_k").alias(key_col), "_d")
        .agg(F.sum("_cents").alias("y"), F.sum("_c").alias("x"))
    )
    return jackknife_ratio(days, key_col, "y", "x")


# ------------------------------------------------ rolling JSON stats
#
# The JSON field profile's streaming twin: per-group (n, n_missing,
# sum_v, min_v, max_v) are all algebraic (sums merge by sum, extrema
# by min/max), so the committed state equals the one-shot aggregation
# bit for bit. n_distinct is NOT algebraic and is deliberately absent
# (the KMV snapshot twin covers sketched distincts); the derived
# mean_ppm comes from the batch operator's own shared finish
# (operators.olap.json_stats_finish).


def continuous_json_stats(
    stream: DataFrame,
    json_col: str,
    field: str,
    group_col: str,
    state_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Maintain the versioned per-group JSON-field stats state; read
    the report with ``read_json_stats``. Returns the StreamingQuery."""
    from unitdb_spark.operators.olap import json_field_expr

    stats = (
        stream.select(
            F.col(group_col).alias("group"),
            json_field_expr(json_col, field).alias("v"),
        )
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("v").isNull(), 1)).alias("n_missing"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.sum("v").alias("sum_v"),
        )
    )
    return snapshot_sink(
        stats, state_path, checkpoint,
        trigger_available_now=trigger_available_now,
    )


def read_json_stats(spark, state_path: str) -> DataFrame:
    """The rolling JSON-field profile over the committed state —
    identical math to the batch `operators.olap.json_field_stats`
    minus the non-mergeable n_distinct column."""
    from unitdb_spark.operators.olap import json_stats_finish

    return json_stats_finish(read_snapshot(spark, state_path, "json-stats state"))


# ------------------------------------------------------- rolling M4
#
# The M4 downsample is algebraic end to end (n/min/max are trivial;
# first/last ride as lexicographic struct extrema that merge by
# min/max), so the committed state equals the one-shot aggregation bit
# for bit — a pixel-exact dashboard maintained per micro-batch.


def continuous_m4(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_cols: list[str],
    bucket_s: int,
    state_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Maintain the versioned M4 state; read the chart-ready relation
    with ``read_m4``. Returns the StreamingQuery."""
    from unitdb_spark.operators.timeseries import m4_partials

    return snapshot_sink(
        m4_partials(stream, key_col, ts_col, value_col, order_cols, bucket_s),
        state_path, checkpoint,
        trigger_available_now=trigger_available_now,
    )


def read_m4(spark, state_path: str, bucket_s: int) -> DataFrame:
    """The rolling M4 chart relation over the committed state — shared
    finish with the batch `operators.timeseries.m4_downsample`."""
    from unitdb_spark.operators.timeseries import m4_finish

    return m4_finish(read_snapshot(spark, state_path, "m4 state"), bucket_s)


# --------------------------------------------------- rolling Benford
#
# Per-digit counts are plain sums — the smallest possible algebraic
# state (9 rows) — so the rolling fabricated-numbers audit equals the
# one-shot report bit for bit.


def continuous_benford(
    stream: DataFrame,
    amount_col: str,
    state_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Maintain the versioned per-digit count state; read the audit
    with ``read_benford``. Returns the StreamingQuery."""
    from unitdb_spark.operators.profile import benford_digit_counts

    return snapshot_sink(
        benford_digit_counts(stream, amount_col), state_path, checkpoint,
        trigger_available_now=trigger_available_now,
    )


def read_benford(spark, state_path: str) -> DataFrame:
    """The rolling Benford audit over the committed digit counts —
    identical math to the batch `operators.profile.benford_report`
    (shared finish)."""
    from unitdb_spark.operators.profile import benford_finish

    return benford_finish(read_snapshot(spark, state_path, "benford state"))


# ------------------------------------------------------ rolling ABC
#
# The ABC classification's state (exact cents per key) is a plain
# sum; the rank and band derivation — NOT algebraic — runs at read
# time over the committed key relation through the batch operator's
# shared finish. The pattern for any "ranked report over mergeable
# totals" dashboard.


def continuous_abc(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    state_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Maintain the versioned per-key cents state; read the ranked
    classification with ``read_abc``. Returns the StreamingQuery."""
    from unitdb_spark.operators.olap import abc_key_cents

    return snapshot_sink(
        abc_key_cents(stream, key_col, value_col), state_path, checkpoint,
        trigger_available_now=trigger_available_now,
    )


def read_abc(spark, state_path: str) -> DataFrame:
    """The rolling ABC classification over the committed per-key cents
    — identical math to the batch `operators.olap.abc_classification`
    (shared finish)."""
    from unitdb_spark.operators.olap import abc_finish

    return abc_finish(read_snapshot(spark, state_path, "abc state"))


def read_holt(
    spark, state_path: str, key_col: str = "event_type"
) -> DataFrame:
    """Holt linear-trend forecasts over the committed hourly cells —
    a third read-time dashboard off the SAME state `read_forecast_
    backtest` and `read_seasonal_decompose` derive from: the cells
    roll up to per-(key, day) event counts (exact BIGINT sums — the
    rollup of mergeable partials is batch-equal however the stream
    split), then the batch `operators.timeseries.holt_linear` fold
    runs over that tiny relation. One maintained fold, three derived
    dashboards; the sequential recursion happens only at read time
    over keys x days rows."""
    from unitdb_spark.operators.timeseries import holt_linear

    cells = read_cells(spark, state_path)
    days = cells.groupBy(
        F.col("_k").alias(key_col),
        F.expr("CAST(unix_date(_d) AS BIGINT)").alias("day"),
    ).agg(F.sum("_c").alias("y"))
    return holt_linear(days, key_col, t_col="day", y_col="y")


def read_holt_winters(
    spark, state_path: str, key_col: str = "event_type", m: int = 7
) -> DataFrame:
    """Holt-Winters ADDITIVE forecasts over the committed hourly
    cells — the SEASONAL sibling of `read_holt` on the same
    maintained state: cells roll up to per-(key, day) counts
    (mergeable sums, batch-equal however the stream split), then the
    batch `operators.timeseries.holt_winters_additive` fold runs over
    that tiny relation at read time. One maintained fold, four
    derived dashboards."""
    from unitdb_spark.operators.timeseries import holt_winters_additive

    cells = read_cells(spark, state_path)
    days = cells.groupBy(
        F.col("_k").alias(key_col),
        F.expr("CAST(unix_date(_d) AS BIGINT)").alias("day"),
    ).agg(F.sum("_c").alias("y"))
    return holt_winters_additive(days, key_col, t_col="day", y_col="y", m=m)


# ------------------------------------------------ rolling integer PCA
#
# The embedding corpus's dominant axis as a continuously-maintained
# dashboard: the (i, j, v) Gram/sum/count partial relation from
# operators.pca is MERGEABLE by summation (integer sums — batch-equal
# however the stream splits), so the state-store aggregation holds
# d² + d + 1 longs of state regardless of corpus size, and the read side
# finishes through the batch code path (moment_finish +
# power_iteration) — the streamed eigenvector IS the batch
# eigenvector, bit for bit.


def continuous_gram(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    dim: int = 64,
    trigger_available_now: bool = True,
):
    """Maintain the versioned integer Gram state over a vector
    stream; read the rolling dominant axis with ``read_pca_dir``.
    Returns the StreamingQuery."""
    from unitdb_spark.operators.pca import PCA_QUANT, gram_partials

    return snapshot_sink(
        gram_partials(stream, vec_col, dim, PCA_QUANT), state_path, checkpoint,
        trigger_available_now=trigger_available_now,
    )


def read_pca_dir(spark, state_path: str, dim: int = 64) -> DataFrame:
    """The dominant embedding axis over the committed Gram state —
    centering, scaling and the unrolled power iteration all run
    through the batch operator's shared code path
    (operators.pca.moment_finish / power_iteration) over the d²-row
    state relation: read cost is control-plane sized, never a corpus
    rescan."""
    from unitdb_spark.operators.pca import moment_finish, power_iteration

    tot = read_snapshot(spark, state_path, "gram state")
    md, _, _ = moment_finish(tot)
    return power_iteration(md, dim=dim)


def read_temperature_mix(
    spark, state_path: str, budget: int, temperature: str = "sqrt"
) -> DataFrame:
    """Rolling temperature-mixture dashboard over the committed
    per-key count state (`continuous_key_counts`): the committed
    counts ARE the batch per-source totals (mergeable sums), and the
    α=1/2 apportionment runs through the batch operator's shared
    code path (operators.mixture.temperature_allocation_from_counts)
    — a second derived dashboard off the same state
    `read_concentration` audits."""
    from unitdb_spark.operators.mixture import (
        temperature_allocation_from_counts,
    )

    per = read_key_counts(spark, state_path).select(
        F.col("_k").alias("source"), F.col("_n").cast("long").alias("n_tokens")
    )
    return temperature_allocation_from_counts(per, budget, temperature)


# ------------------------------------------------ rolling 2-D skyline
#
# The Pareto frontier is MERGEABLE: skyline(A ∪ B) =
# skyline(skyline(A) ∪ B) — dominated rows can never rejoin the
# frontier, so the committed state holds only the current frontier
# (buckets × |distinct B| rows, corpus-size-independent). A frontier
# is not a Spark aggregate, so this twin passes ``merge`` to the sink:
# each refresh runs the batch operator (operators.skyline.skyline2d)
# over the committed frontier ∪ the batch — the streamed frontier IS
# the batch frontier on the same rows.


def continuous_skyline(
    stream: DataFrame,
    min_col: str,
    max_col: str,
    state_path: str,
    checkpoint: str,
    bucket_width: int = 1000,
    trigger_available_now: bool = True,
):
    """Maintain the versioned frontier state under (minimize
    ``min_col``, maximize ``max_col``); read it with
    ``read_skyline``. Returns the StreamingQuery."""
    from unitdb_spark.operators.skyline import skyline2d

    return snapshot_sink(
        stream, state_path, checkpoint,
        merge=lambda u: skyline2d(u, min_col, max_col, bucket_width),
        trigger_available_now=trigger_available_now,
    )


def read_skyline(spark, state_path: str) -> DataFrame:
    """The committed frontier rows (full input schema)."""
    return read_snapshot(spark, state_path, "skyline state")


# ---------------------------------------------- rolling bootstrap CI
#
# The Poisson bootstrap's streaming twin: the mergeable state is the
# per-(group, replicate) partial-sum relation (replicate 0 = identity
# weights). Weights are a PURE FUNCTION of (event id, replicate,
# salt), so the streamed sums equal the batch relation bit for bit
# however the stream was split; the order-statistic CI report runs at
# read time through the batch operator's shared finish.


def continuous_bootstrap(
    stream: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    state_path: str,
    checkpoint: str,
    b: int = 40,
    trigger_available_now: bool = True,
):
    """Maintain the versioned (group, replicate) bootstrap partial-sum
    state; read the CI report with ``read_bootstrap_ci``. Returns the
    StreamingQuery."""
    from unitdb_spark.operators.bootstrap import bootstrap_partials

    rows = stream.filter(
        F.col(value_col).isNotNull() & ~F.isnan(value_col)
    ).select(
        F.col(group_col),
        F.col(id_col),
        F.expr(
            f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("_cents"),
    )
    return snapshot_sink(
        bootstrap_partials(rows, group_col, id_col, "_cents", b),
        state_path, checkpoint,
        trigger_available_now=trigger_available_now,
    )


def read_bootstrap_ci(
    spark, state_path: str, group_col: str = "event_type"
) -> DataFrame:
    """The rolling CI report over the committed partial sums — the
    batch operator's own finish (operators.bootstrap.bootstrap_finish),
    so on the same data the streamed CI IS the batch CI."""
    from unitdb_spark.operators.bootstrap import bootstrap_finish

    return bootstrap_finish(
        read_snapshot(spark, state_path, "bootstrap state"), group_col
    )


# ------------------------------------------- rolling survival curve
#
# The Kaplan-Meier twin: censoring-aware survival over a STREAM. The
# insight that makes the state mergeable: the batch duration is
# datediff(date(first event AFTER origin), date(origin)), and
# date(min ts > t0) == the earliest DAY whose per-day MAX event ts
# exceeds t0 — so (subject → min origin ts), (subject, day → max
# event ts) and (global max ts, the censor) are all min/max-mergeable
# and reproduce the batch durations EXACTLY, including the
# strictly-after contract and same-day edge cases. State size:
# subjects × active event days, independent of event volume.


def continuous_survival(
    stream: DataFrame,
    subject_col: str,
    ts_col: str,
    origin_filter,
    event_filter,
    state_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Maintain the versioned survival state (origin mins, per-day
    event maxes, global censor max); read the rolling KM curve with
    ``read_survival``. ``origin_filter``/``event_filter`` are Column
    predicates (the `time_to_event` contract). Returns the
    StreamingQuery."""
    ts = F.col(ts_col).cast("timestamp")
    no_s = F.lit(None).cast(stream.schema[subject_col].dataType)
    no_d = F.lit(None).cast("date")

    def row(kind: str, s, d):
        return F.struct(F.lit(kind).alias("_kind"), s.alias("_s"), d.alias("_d"))

    # each input row projects to up to three state rows: its origin,
    # its event day and the global censor
    keys = F.array(
        F.when(origin_filter, row("o", F.col(subject_col), no_d)),
        F.when(event_filter, row("e", F.col(subject_col), F.to_date(ts))),
        F.when(ts.isNotNull(), row("m", no_s, no_d)),
    )
    state = (
        stream.select(F.explode(keys).alias("_r"), ts.alias("_ts"))
        .filter(F.col("_r").isNotNull())
        .groupBy("_r._kind", "_r._s", "_r._d")
        .agg(F.min("_ts").alias("_vmin"), F.max("_ts").alias("_vmax"))
    )
    return snapshot_sink(
        state, state_path, checkpoint,
        trigger_available_now=trigger_available_now,
    )


def read_survival(spark, state_path: str) -> DataFrame:
    """The rolling Kaplan-Meier curve over the committed survival
    state — durations rebuilt from the min/max state (equal to the
    batch `time_to_event` bit for bit, see the module note), then the
    batch `kaplan_meier` fold. Censoring recomputes against the
    rolling corpus max every refresh — late data moves the censor,
    exactly as a batch recompute would."""
    from unitdb_spark.operators.survival import kaplan_meier

    st = read_snapshot(spark, state_path, "survival state")
    t0 = st.filter(F.col("_kind") == "o").select(
        "_s", F.col("_vmin").alias("_t0")
    )
    ev = st.filter(F.col("_kind") == "e").select(
        "_s", "_d", F.col("_vmax").alias("_mx")
    )
    censor = st.filter(F.col("_kind") == "m").select(
        F.col("_vmax").alias("_cmx")
    )
    conv = (
        ev.join(t0, "_s")
        .filter(F.col("_mx") > F.col("_t0"))
        .groupBy("_s")
        .agg(F.min("_d").alias("_cd"))
    )
    durations = (
        t0.join(conv, "_s", "left")
        .join(F.broadcast(censor))
        .select(
            F.col("_s").alias("subject"),
            F.when(
                F.col("_cd").isNotNull(),
                F.datediff(F.col("_cd"), F.to_date("_t0")),
            )
            .otherwise(F.datediff(F.to_date("_cmx"), F.to_date("_t0")))
            .cast("long")
            .alias("duration_days"),
            F.col("_cd").isNotNull().alias("event"),
        )
    )
    return kaplan_meier(durations, "duration_days", "event")


def _cells_hourly(spark, state_path: str, key_col: str) -> DataFrame:
    """The committed cells mapped to absolute hour indices — the
    shared entry point of the hour-grain dashboards."""
    cells = read_cells(spark, state_path)
    return cells.select(
        F.col("_k").alias(key_col),
        (
            F.expr("CAST(unix_date(_d) AS BIGINT)") * 24 + F.col("_h")
        ).alias("hidx"),
        F.col("_c").alias("y"),
    )


def _cells_daily(spark, state_path: str, key_col: str) -> DataFrame:
    """The committed cells rolled up to (key, day-index, count) — the
    shared entry point of the day-grain dashboards (mergeable sums,
    batch-equal however the stream split)."""
    cells = read_cells(spark, state_path)
    return cells.groupBy(
        F.col("_k").alias(key_col),
        F.expr("CAST(unix_date(_d) AS BIGINT)").alias("t"),
    ).agg(F.sum("_c").cast("long").alias("y"))


def read_peaks(
    spark, state_path: str, key_col: str = "event_type",
    half_window: int = 12, thresh_num: int = 2, thresh_den: int = 1,
) -> DataFrame:
    """Rolling spike triage over the committed hourly cells — a FIFTH
    dashboard off the same maintained state: the (key, day, hour)
    counts map to absolute hour indices (mergeable sums, batch-equal
    however the stream split) and finish through the shared
    `peaks_from_cells` code path."""
    from unitdb_spark.operators.timeseries import peaks_from_cells

    hourly = _cells_hourly(spark, state_path, key_col)
    return peaks_from_cells(
        hourly, key_col, "hidx", "y",
        bucket_s=3600, half_window=half_window,
        thresh_num=thresh_num, thresh_den=thresh_den,
    )


def read_ewma(
    spark, state_path: str, key_col: str = "event_type",
    lam: tuple[int, int] = (1, 8), l2: int = 9,
) -> DataFrame:
    """Rolling EWMA control chart over the committed hourly cells — a
    SIXTH dashboard off the same maintained state: the (key, day,
    hour) counts map to absolute hour indices (mergeable sums,
    batch-equal however the stream split) and finish through the
    shared `ewma_from_cells` fold + cross-multiplied 3σ test."""
    from unitdb_spark.operators.timeseries import ewma_from_cells

    hourly = _cells_hourly(spark, state_path, key_col)
    return ewma_from_cells(
        hourly, key_col, "hidx", "y", bucket_s=3600, lam=lam, l2=l2
    )


def read_ljungbox(
    spark, state_path: str, key_col: str = "event_type", lags: int = 12,
) -> DataFrame:
    """Rolling Ljung-Box white-noise test over the committed hourly
    cells — a SEVENTH dashboard off the same maintained state: the
    (key, day, hour) counts map to absolute hour indices (mergeable
    sums, batch-equal however the stream split) and finish through the
    shared `ljungbox_from_cells` exact-moment Q test."""
    from unitdb_spark.operators.stats_tests import ljungbox_from_cells

    hourly = _cells_hourly(spark, state_path, key_col)
    return ljungbox_from_cells(hourly, key_col, "hidx", "y", lags=lags)


def read_fano(
    spark, state_path: str, key_col: str = "event_type",
) -> DataFrame:
    """Rolling Fano burstiness verdict over the committed hourly
    cells — an EIGHTH dashboard off the same maintained state,
    through the shared `fano_from_cells` finish."""
    from unitdb_spark.operators.timeseries import fano_from_cells

    hourly = _cells_hourly(spark, state_path, key_col)
    return fano_from_cells(hourly, key_col, "hidx", "y")


def read_conformal(
    spark, state_path: str, key_col: str = "event_type",
    alpha: tuple[int, int] = (1, 10),
) -> DataFrame:
    """Rolling split-conformal radius over the committed hourly
    cells — a NINTH dashboard off the same maintained state, through
    the shared `conformal_from_cells` order-statistic finish."""
    from unitdb_spark.operators.timeseries import conformal_from_cells

    cells = read_cells(spark, state_path)
    return conformal_from_cells(cells, key_col, alpha=alpha)


def read_haar(
    spark, state_path: str, key_col: str = "event_type", levels: int = 8,
) -> DataFrame:
    """Rolling Haar energy spectrum over the committed hourly cells —
    a TENTH dashboard off the same maintained state, through the
    shared `haar_from_cells` block arithmetic."""
    from unitdb_spark.operators.timeseries import haar_from_cells

    hourly = _cells_hourly(spark, state_path, key_col)
    return haar_from_cells(hourly, key_col, "hidx", "y", levels=levels)


def read_runs(
    spark, state_path: str, key_col: str = "event_type",
) -> DataFrame:
    """Rolling Wald-Wolfowitz runs verdict over the committed hourly
    cells — an ELEVENTH dashboard off the same maintained state,
    through the shared `runs_from_cells` finish."""
    from unitdb_spark.operators.stats_tests import runs_from_cells

    hourly = _cells_hourly(spark, state_path, key_col)
    return runs_from_cells(hourly, key_col, "hidx", "y")


def read_acf(
    spark, state_path: str, key_col: str = "event_type", lags: int = 12,
) -> DataFrame:
    """Rolling ACF table over the committed hourly cells — a TWELFTH
    dashboard off the same maintained state."""
    from unitdb_spark.operators.stats_tests import acf_from_cells

    return acf_from_cells(
        _cells_hourly(spark, state_path, key_col), key_col, "hidx", "y",
        lags=lags,
    )


def read_pacf(
    spark, state_path: str, key_col: str = "event_type", lags: int = 4,
) -> DataFrame:
    """Rolling PACF over the committed hourly cells: the rolling ACF's
    integer rho_ppm through the shared Durbin-Levinson finish
    (`pacf_from_acf`) — the Box-Jenkins order plot as a live
    dashboard off the same maintained state."""
    from unitdb_spark.operators.stats_tests import (
        acf_from_cells,
        pacf_from_acf,
    )

    acf = acf_from_cells(
        _cells_hourly(spark, state_path, key_col), key_col, "hidx", "y",
        lags=lags,
    )
    return pacf_from_acf(acf, key_col, lags=lags)


def read_mann_kendall(
    spark, state_path: str, key_col: str = "event_type",
) -> DataFrame:
    """Rolling Mann-Kendall trend verdict over the committed cells'
    DAY rollup — a THIRTEENTH dashboard; the batch operator already
    takes the cell relation directly."""
    from unitdb_spark.operators.stats_tests import mann_kendall

    return mann_kendall(
        _cells_daily(spark, state_path, key_col), key_col, "t", "y"
    )


def read_theil_sen(
    spark, state_path: str, key_col: str = "event_type",
) -> DataFrame:
    """Rolling Theil-Sen slope over the committed cells' DAY rollup —
    a FOURTEENTH dashboard."""
    from unitdb_spark.operators.stats_tests import theil_sen

    return theil_sen(
        _cells_daily(spark, state_path, key_col), key_col, "t", "y"
    )


def continuous_user_cents(
    stream: DataFrame,
    user_col: str,
    value_col: str,
    state_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Maintain the versioned per-user revenue state (exact cents +
    row count, mergeable sums over value-non-null rows) — the UNIT
    relation of the experiment family, folded incrementally so the
    design/readout dashboards (`read_power`, `read_qte`) answer
    without rescanning history. Returns the StreamingQuery."""
    cents = F.expr(
        f"CAST(sum(CAST({value_col} AS DECIMAL(18,2)) * 100) AS BIGINT)"
    )
    return snapshot_sink(
        stream.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(user_col).alias("_u"))
        .agg(cents.alias("_cents"), F.count(F.lit(1)).alias("_c")),
        state_path,
        checkpoint,
        trigger_available_now=trigger_available_now,
    )


def read_user_cents(spark, state_path: str) -> DataFrame:
    """The committed (_u, _cents, _c) per-user revenue state."""
    return read_snapshot(spark, state_path, "user-cents state")


def _ab_arm():
    """The A/B arm of a per-user state row: the same portable hash
    the batch experiment queries use."""
    from unitdb_spark.functions.portable_hash import md5_int60

    return (
        md5_int60(F.concat(F.col("_u").cast("string"), F.lit(":ab"))) % 2
    ).cast("int").alias("arm")


def read_power(spark, state_path: str) -> DataFrame:
    """Rolling experiment sample-size design off the per-user revenue
    state — how long must the test still run, recomputed per refresh
    from the maintained unit relation."""
    from unitdb_spark.operators.evaluation import power_analysis

    units = read_user_cents(spark, state_path).select(
        F.col("_u").alias("user_id"), F.col("_cents").alias("cents")
    )
    return power_analysis(units, "cents")


def read_effect_size(spark, state_path: str) -> DataFrame:
    """Rolling standardized effect sizes (Cohen's d / Hedges' g /
    Glass's Δ) off the per-user revenue state — the magnitude
    dashboard beside the rolling power/QTE readouts, arms from the
    same portable hash."""
    from unitdb_spark.operators.evaluation import effect_size_report

    units = read_user_cents(spark, state_path).select(
        F.col("_cents").alias("cents"), _ab_arm()
    )
    return effect_size_report(units, "cents", "arm")


def read_tost(spark, state_path: str, margin: float = 500.0) -> DataFrame:
    """Rolling TOST equivalence verdict off the per-user revenue
    state — the live do-no-harm gate."""
    from unitdb_spark.operators.stats_tests import tost_equivalence

    units = read_user_cents(spark, state_path).select(
        F.col("_cents").alias("cents"), _ab_arm()
    )
    return tost_equivalence(units, "cents", "arm", margin=margin)


def read_qte(spark, state_path: str) -> DataFrame:
    """Rolling quantile treatment effects off the per-user revenue
    state: the distributional A/B readout, arms from the same
    portable hash the batch queries use."""
    from unitdb_spark.operators.evaluation import quantile_treatment_effect

    units = read_user_cents(spark, state_path).select(
        F.col("_cents").alias("cents"), _ab_arm()
    )
    return quantile_treatment_effect(units, "cents", "arm")


def read_permtest(spark, state_path: str, n_perm: int = 199) -> DataFrame:
    """Rolling randomization test off the per-user revenue state —
    the assumption-free significance readout next to `read_power` and
    `read_qte`: the md5 re-randomizations explode the maintained UNIT
    relation at read time (users, not events)."""
    from unitdb_spark.operators.stats_tests import permutation_test

    units = read_user_cents(spark, state_path).select(
        F.col("_u").alias("user_id"),
        F.col("_cents").alias("cents"),
        _ab_arm(),
    )
    return permutation_test(units, "cents", "arm", "user_id", n_perm=n_perm)
