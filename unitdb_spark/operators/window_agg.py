"""Time-window aggregation operators (the north-star analytics surface).

The reference's only windows are fixed 1s ingest blocks and expiry-
minute buckets (reference: memdb/tiny_log.go:122-128,
expiry_window.go:133) — no user-facing window aggs exist; these
operators provide the time-series analytics the north star requires,
built entirely on Spark's native window()/session_window() so they run
identically in batch and Structured Streaming.

Scale notes: tumbling/sliding aggs are one shuffle on (window, keys)
with map-side partial aggregation; sessionization uses the native
session_window (streaming-capable, state-store backed) — the batch
oracle equivalent is the classic gaps-and-islands formulation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def session_agg(
    df: DataFrame,
    gap: str,
    keys: list[str],
    aggs: list[Column],
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows with inactivity gap (native session_window)."""
    w = F.session_window(F.col(ts_col), gap)
    return (
        df.groupBy(w.alias("_w"), *keys)
        .agg(*aggs)
        .withColumn("session_start", F.col("_w.start"))
        .withColumn("session_end", F.col("_w.end"))
        .drop("_w")
    )


def sessionize_ids(
    df: DataFrame,
    gap_seconds: int,
    key: str,
    ts_col: str = "ts",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Gaps-and-islands sessionization: adds session_id per key row.

    SQL-expressible (lag + cumulative sum over per-key windows) so the
    DuckDB oracle can reproduce it exactly; same shuffle profile as a
    window function (one shuffle on key).

    Boundary semantics match native ``session_window`` (its windows
    are end-exclusive): a gap EQUAL to ``gap_seconds`` starts a new
    session — so the batch and streaming sessionizations agree row for
    row at exact-gap boundaries.

    ``tiebreak_cols`` makes the per-key row order fully deterministic
    when timestamps collide (session assignment is tie-order-invariant,
    but a pinned order keeps lag() reproducible across engines).
    """
    wk = Window.partitionBy(key).orderBy(ts_col, *(tiebreak_cols or []))
    prev = F.lag(ts_col).over(wk)
    # epoch-with-fraction diff (cast timestamp->double keeps sub-second
    # precision, matching an `extract(epoch ...)` SQL oracle exactly)
    new_s = (
        prev.isNull()
        | ((F.col(ts_col).cast("double") - prev.cast("double")) >= gap_seconds)
    ).cast("int")
    return df.withColumn("_new_s", new_s).withColumn(
        "session_id", F.sum("_new_s").over(wk.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("_new_s")

