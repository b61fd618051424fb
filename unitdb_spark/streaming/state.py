"""Custom stateful streaming operators (applyInPandasWithState).

``streaming_topk_per_topic`` keeps the newest-K messages per
(contract, topic) as live streaming state — the streaming analog of
the reference's in-memory per-topic reverse-time window
(reference: time_window.go:107-187 add/ilookup: unsynced newest-first
entries served before disk). Each micro-batch updates the per-key
top-K and emits the refreshed view.

State is bounded: K entries per key, incoming rows are deduped by seq
(upstream delivery is at-least-once), and a PROCESSING-TIME timeout
drops keys idle past ``idle_timeout_ms`` of wall clock (expiry-window
parity, expiry_window.go:28-148 — which is also wall-clock there).
Note this is not an event-time eviction: a historical replay processed
quickly won't time keys out mid-replay (usually what you want), and a
paused stream does evict after the idle window. At scale state is
partitioned by the group key across executors by the state store — no
driver involvement.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("contract", LongType()),
        StructField("topic", StringType()),
        StructField("seq", LongType()),
        StructField("ts_us", LongType()),
        StructField("payload", BinaryType()),
        StructField("rank", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("seqs", ArrayType(LongType())),
        StructField("ts_us", ArrayType(LongType())),
        StructField("payloads", ArrayType(BinaryType())),
    ]
)


def _exact_units(v: float, places: int) -> int:
    """``v`` in exact 10^-places units, as Spark's double ->
    DECIMAL(p, places) cast gives it: round half up at ``places``
    fractional digits on the double's shortest repr."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(repr(float(v))).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP)
    return int(q.scaleb(places))


def _topk_fn(k: int, timeout_ms: int | None):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        contract, topic = key
        if state.hasTimedOut:
            state.remove()
            return
        seqs: list[int]
        ts_us: list[int]
        payloads: list[bytes]
        if state.exists:
            seqs, ts_us, payloads = state.get
            seqs, ts_us, payloads = list(seqs), list(ts_us), list(payloads)
        else:
            seqs, ts_us, payloads = [], [], []
        # dedup by seq: upstream delivery is at-least-once, and a
        # redelivered message must not occupy two of the K slots
        seen = set(seqs)
        for pdf in pdfs:
            for seq, t, p in zip(pdf["seq"], pdf["ts_us"], pdf["payload"]):
                s = int(seq)
                if s in seen:
                    continue
                seen.add(s)
                seqs.append(s)
                ts_us.append(int(t))
                payloads.append(bytes(p) if p is not None else b"")
        order = sorted(range(len(seqs)), key=lambda i: -seqs[i])[:k]
        seqs = [seqs[i] for i in order]
        ts_us = [ts_us[i] for i in order]
        payloads = [payloads[i] for i in order]
        state.update((seqs, ts_us, payloads))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {
                "contract": [contract] * len(seqs),
                "topic": [topic] * len(seqs),
                "seq": seqs,
                "ts_us": ts_us,
                "payload": payloads,
                "rank": list(range(1, len(seqs) + 1)),
            }
        )

    return fn


def streaming_topk_per_topic(
    entries: DataFrame, k: int = 5, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Maintain newest-K per (contract, topic) as streaming state.

    Input: messages-schema stream (contract, topic, seq, ts, payload).
    Output (update mode): refreshed top-K per touched key each batch.
    """
    from pyspark.sql import functions as F

    prepped = entries.select(
        "contract", "topic", "seq", F.unix_micros("ts").alias("ts_us"), "payload"
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return prepped.groupBy("contract", "topic").applyInPandasWithState(
        _topk_fn(k, idle_timeout_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


# ------------------------------------------------- streaming anomaly

ZSCORE_OUTPUT = StructType(
    [
        StructField("event_id", LongType()),
        StructField("key", StringType()),
        StructField("value", DoubleType()),
        StructField("trail_n", LongType()),
        StructField("is_anomaly", BooleanType()),
    ]
)

#: ring buffer of the trailing n ROWS (slots) in event order — a NULL
#: value keeps its slot as None, mirroring the batch operator's ROWS
#: frame where a NULL-value row still occupies one of the n positions
ZSCORE_STATE = StructType([StructField("values", ArrayType(DoubleType()))])


def _zscore_fn(n: int, z: float):
    z2 = float(z * z)

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        (k,) = key
        values = list(state.get[0]) if state.exists else []
        rows = []
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "event_id"])
        for eid, v in zip(batch["event_id"], batch["value"]):
            is_null = v is None or (isinstance(v, float) and math.isnan(v))
            # ROWS-frame parity: the tail is the last n SLOTS (NULL rows
            # included), the stats skip the NULL slots — exactly the
            # batch operator's frame (rowsBetween(-n,-1)) with
            # count/sum over a nullable column
            tail = values[-n:]
            tail_v = [x for x in tail if x is not None]
            m = len(tail_v)
            if m >= 2:
                # identical algebra to operators.timeseries.trailing_zscore:
                # (m·v − s)² > z²·(m·q − s²), s/q via exact fsum so the
                # flag matches the batch operator's DECIMAL-sum result
                s = math.fsum(tail_v)
                q = math.fsum(x * x for x in tail_v)
                if is_null:
                    flag = None  # batch: NULL value ⇒ NULL comparison
                else:
                    v_f = float(v)
                    flag = (m * v_f - s) ** 2 > z2 * (m * q - s * s)
            else:
                flag = False  # batch: when(trail_n>=2, …).otherwise(False)
            rows.append((int(eid), k, None if is_null else float(v), m, flag))
            values.append(None if is_null else float(v))
        # trim state to the trailing n slots
        state.update((values[-n:],))
        # object dtype keeps None as SQL NULL through Arrow (a float
        # column would coerce None→NaN, which is NOT NULL to Spark)
        yield pd.DataFrame(
            {
                "event_id": pd.array([r[0] for r in rows], dtype="int64"),
                "key": pd.Series([r[1] for r in rows], dtype=object),
                "value": pd.Series([r[2] for r in rows], dtype=object),
                "trail_n": pd.array([r[3] for r in rows], dtype="int64"),
                "is_anomaly": pd.Series([r[4] for r in rows], dtype=object),
            }
        )

    return fn


# ------------------------------------------------- streaming sessions

SESSION_OUTPUT = StructType(
    [
        StructField("key", LongType()),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
    ]
)

#: (next session ordinal, current session start/last/n) — one open
#: session per key, O(keys) state total
SESSION_STATE = StructType(
    [
        StructField("session_id", LongType()),
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _sessionize_fn(gap_us: int):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.exists:
            sid, start, last, n = state.get
        else:
            sid, start, last, n = 0, None, None, 0
        closed = []
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "event_id"])
        for t in batch["ts_us"]:
            t = int(t)
            if start is None:
                sid, start, last, n = sid + 1, t, t, 1
            elif t - last >= gap_us:
                closed.append((int(k), sid, n, start, last))
                sid, start, last, n = sid + 1, t, t, 1
            else:
                last, n = t, n + 1
        state.update((sid, start, last, n))
        yield pd.DataFrame(
            closed,
            columns=["key", "session_id", "n_events", "start_us", "end_us"],
        )

    return fn


def streaming_sessionize(
    stream: DataFrame,
    key_col: str = "user_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Streaming gaps-and-islands sessionization: the stateful twin of
    ``operators.window_agg.sessionize_ids`` + the per-session aggregate
    (count, start, end) — state per key is ONE open session (4 longs,
    O(keys) total), and a session is emitted exactly once, when the
    first event at or past the gap closes it (append mode).

    Boundary semantics match the batch operator: a gap EQUAL to
    ``gap_seconds`` starts a new session; ``session_id`` ordinals count
    from 1 per key in event order, so on an in-order replay the closed
    sessions match the batch sessionization row for row (the batch
    side's final — still open — session per key has no streaming
    counterpart until more data or a timeout closes it; that is the
    inherent append-mode lag, same reason native session_window needs
    a watermark to emit).

    Ordering caveat (shared with streaming_zscore): rows sort by event
    time within a micro-batch; cross-batch late data would split
    sessions a batch recomputation would merge.

    Input needs (``key_col``, ts, event_id). Output:
    (key, session_id, n_events, start_us, end_us).
    """
    from pyspark.sql import functions as F

    prepped = stream.select(
        F.col(key_col).cast("long").alias("key"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    return prepped.groupBy("key").applyInPandasWithState(
        _sessionize_fn(int(gap_seconds) * 1_000_000),
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_zscore(
    stream: DataFrame,
    key_col: str = "event_type",
    n: int = 20,
    z: float = 3.0,
) -> DataFrame:
    """Streaming trailing-z-score anomaly detection: the stateful twin
    of ``operators.timeseries.trailing_zscore`` — per-key state is a
    bounded ring of the last ``n`` observations (O(keys × n), never
    the stream), each event is judged against the trailing window
    BEFORE being added to it, and the same cross-multiplied z-test is
    evaluated with exact sums (``math.fsum`` ↔ the batch operator's
    DECIMAL accumulation), so on an in-order replay the flags match
    the batch operator row for row — for values exactly representable
    in DECIMAL(18,6) (≤6 fractional digits, |v| < 10¹²; outside that
    domain the batch DECIMAL cast rounds/overflows while this path
    keeps the full double, and a borderline flag can differ). NULL/NaN
    rows mirror the batch ROWS frame exactly: the row is emitted
    (value NULL, is_anomaly NULL when the trailing stats exist, False
    under 2 observations) and occupies one of the n trailing slots,
    while the trailing sums/count skip it — so ``trail_n`` and flags
    stay row-for-row identical to the batch operator on streams WITH
    missing values.

    Ordering caveat (inherent to streaming): rows are sorted by event
    time WITHIN a micro-batch, but late data across batches sees a
    different trailing window than a batch recomputation would — the
    usual streaming/batch divergence, same as the reference's
    in-memory window serving unsynced entries (time_window.go ilookup).

    Input needs (event_id, ts, <key_col>, value). Output (append
    mode): one judged row per event.
    """
    from pyspark.sql import functions as F

    prepped = stream.select(
        "event_id",
        F.col(key_col).cast("string").alias("key"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("value").cast("double").alias("value"),
    )
    return prepped.groupBy("key").applyInPandasWithState(
        _zscore_fn(n, z),
        outputStructType=ZSCORE_OUTPUT,
        stateStructType=ZSCORE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------- streaming gap fill

GAPFILL_OUTPUT = StructType(
    [
        StructField("key", StringType()),
        StructField("bucket_s", LongType()),
        StructField("avg_value", DoubleType()),
        StructField("filled_value", DoubleType()),
        StructField("is_gap", BooleanType()),
    ]
)

#: one OPEN bucket per key: (bucket, exact micro-unit sum, whether any
#: non-null value landed, row count, last carried fill) — O(keys)
GAPFILL_STATE = StructType(
    [
        StructField("cur_bucket_s", LongType()),
        StructField("sum_micro", LongType()),
        StructField("has_sum", BooleanType()),
        StructField("cnt", LongType()),
        StructField("filled", DoubleType()),
        StructField("has_filled", BooleanType()),
    ]
)


def _gapfill_fn(step_s: int):
    step_us = step_s * 1_000_000

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math
        from decimal import Decimal

        MICRO = Decimal("0.000001")

        (k,) = key
        if state.exists:
            cur, sum_micro, has_sum, cnt, filled, has_filled = state.get
        else:
            cur = None
            sum_micro, has_sum, cnt, filled, has_filled = 0, False, 0, 0.0, False

        rows = []

        def close_and_advance(new_bucket: int):
            # emit the finished open bucket, then one gap row per
            # missing grid step up to (not including) new_bucket
            nonlocal cur, sum_micro, has_sum, cnt, filled, has_filled
            if has_sum:
                # identical arithmetic to the batch operator:
                # DECIMAL(18,6)-exact sum -> double, then /count double
                avg = float(Decimal(sum_micro) * MICRO) / float(cnt)
                filled, has_filled = avg, True
            else:
                avg = None  # observed rows, all NULL values: a gap row
            rows.append((k, cur, avg, filled if has_filled else None,
                         avg is None))
            for g in range(cur + step_s, new_bucket, step_s):
                rows.append((k, g, None, filled if has_filled else None, True))
            cur, sum_micro, has_sum, cnt = new_bucket, 0, False, 0

        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "event_id"])
        for ts_us, v in zip(batch["ts_us"], batch["value"]):
            b = int(ts_us // step_us) * step_s
            if cur is None:
                cur = b
            elif b > cur:
                close_and_advance(b)
            # late cross-bucket data (b < cur) folds into the open
            # bucket: an emitted bucket can't be reopened in append
            # mode (same caveat as the other stateful twins — in-order
            # replay matches batch exactly)
            cnt += 1
            is_null = v is None or (isinstance(v, float) and math.isnan(v))
            if not is_null:
                # Spark's double->DECIMAL(18,6) cast
                sum_micro += _exact_units(v, 6)
                has_sum = True
        if cur is not None:
            state.update((cur, sum_micro, has_sum, cnt,
                          filled if has_filled else 0.0, has_filled))
        yield pd.DataFrame(
            {
                "key": pd.Series([r[0] for r in rows], dtype=object),
                "bucket_s": pd.array([r[1] for r in rows], dtype="int64"),
                "avg_value": pd.Series([r[2] for r in rows], dtype=object),
                "filled_value": pd.Series([r[3] for r in rows], dtype=object),
                "is_gap": pd.Series([r[4] for r in rows], dtype=object),
            }
        )

    return fn


def streaming_gap_fill(
    stream: DataFrame,
    key_col: str = "event_type",
    step_minutes: int = 60,
) -> DataFrame:
    """Streaming time-grid regularization with LOCF: the stateful twin
    of ``operators.timeseries.gap_fill``. Per-key state is ONE open
    grid bucket (an exact DECIMAL-micro sum + count + the carried fill
    value — O(keys) total, never the stream). When an event lands past
    the open bucket, the bucket closes and is emitted exactly once,
    followed by one synthesized gap row per missing grid step (avg
    NULL, ``filled_value`` carried forward, ``is_gap`` True) — append
    mode, so the dense grid materializes incrementally as data
    arrives.

    Parity with the batch operator on an in-order replay, row for row
    and bit for bit: the per-bucket average is the same
    DECIMAL(18,6)-exact sum cast to double divided by the ALL-rows
    count (a bucket whose observed rows are all NULL stays a gap row,
    exactly like batch), and the carry-forward updates only on
    non-NULL averages (``F.last(ignorenulls=True)`` semantics). The
    batch result equals the streamed rows plus each key's final —
    still open — bucket, which streams out once later data (or a
    restart with more input) passes it: the inherent append-mode lag,
    same as ``streaming_sessionize``'s open session.

    Ordering caveat (shared with the other twins): rows sort by event
    time within a micro-batch; late cross-bucket data folds into the
    open bucket rather than reopening an emitted one.

    Input needs (``key_col``, ts, event_id, value). Output:
    (key, bucket_s, avg_value, filled_value, is_gap).
    """
    from pyspark.sql import functions as F

    prepped = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.col("value").cast("double").alias("value"),
    )
    return prepped.groupBy("key").applyInPandasWithState(
        _gapfill_fn(int(step_minutes) * 60),
        outputStructType=GAPFILL_OUTPUT,
        stateStructType=GAPFILL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------- streaming KMV sketch

KMV_OUTPUT = StructType(
    [
        StructField("key", StringType()),
        StructField("n_kept", LongType()),
        StructField("kth_hash", LongType()),
        StructField("n_batches", LongType()),
    ]
)

#: bottom-k distinct 60-bit hashes (sorted ascending) + emission counter
KMV_STATE = StructType(
    [
        StructField("hashes", ArrayType(LongType())),
        StructField("n_batches", LongType()),
    ]
)


def _kmv_fn(k: int):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (kv,) = key
        if state.exists:
            hashes, n_batches = state.get
            merged = set(hashes)
        else:
            merged, n_batches = set(), 0
        for pdf in pdfs:
            merged.update(int(h) for h in pdf["_h"])
        hashes = sorted(merged)[:k]
        n_batches = int(n_batches) + 1
        state.update((hashes, n_batches))
        yield pd.DataFrame(
            {
                "key": [kv],
                "n_kept": [len(hashes)],
                "kth_hash": [hashes[-1] if hashes else None],
                "n_batches": [n_batches],
            }
        )

    return fn


def streaming_kmv(
    stream: DataFrame, key_col: str, value_col: str, k: int = 64
) -> DataFrame:
    """Streaming KMV bottom-k distinct sketch per key — the stateful
    twin of ``operators.sketch.kmv_distinct``.

    Bottom-k of a SET is order-free and mergeable
    (bottom_k(bottom_k(A) ∪ B) = bottom_k(A ∪ B)), so however the
    stream is split into micro-batches, the final state is bitwise the
    batch sketch over the same rows — the strongest batch-parity
    contract of the streaming twins, checked value-for-value by the
    driver oracle (`streamed_kmv_snapshot`).

    State is exactly min(k, distinct) longs + one counter per key —
    O(keys × k), independent of throughput. Hashing (md5_int60 of the
    cast value — identical to the batch path) runs JVM-side BEFORE the
    Arrow hop, so the Python worker only merges longs. The hash-tie
    caveat: the batch path counts two distinct values colliding on one
    60-bit hash twice (row_number over ties), the set-state collapses
    them — a ~2^-60-probability divergence accepted for O(k) state.

    Output (update mode): refreshed (key, n_kept, kth_hash, n_batches)
    per touched key each batch; n_batches is a per-key monotone
    emission counter, so "latest row per key" = max n_batches — how
    the snapshot twin reconstructs final state from the update stream.
    """
    from pyspark.sql import functions as F

    from unitdb_spark.functions.portable_hash import md5_int60

    prepped = (
        stream.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).cast("string").alias("key"),
            md5_int60(F.col(value_col).cast("string")).alias("_h"),
        )
    )
    return prepped.groupBy("key").applyInPandasWithState(
        _kmv_fn(k),
        outputStructType=KMV_OUTPUT,
        stateStructType=KMV_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------- streaming CUSUM

CUSUM_OUTPUT = StructType(
    [
        StructField("event_id", LongType()),
        StructField("key", StringType()),
        StructField("value", DoubleType()),
        StructField("s_r", DoubleType()),
        StructField("cusum_pos_r", DoubleType()),
        StructField("cusum_neg_r", DoubleType()),
        StructField("alarm", BooleanType()),
    ]
)

#: prefix sum / running extrema of deviations, in exact 1e-6 units
CUSUM_STATE = StructType(
    [
        StructField("s_u", LongType()),
        StructField("min_u", LongType()),
        StructField("max_u", LongType()),
        StructField("n_valid", LongType()),
    ]
)


def _cusum_fn(target_u: int, h_u: int):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        (k,) = key
        # n_valid: rows with a real deviation so far — a key whose
        # prefix is all-NaN must emit NULL statistics like the batch
        # twin (SUM over an all-NULL window is NULL, not 0)
        s_u, mn_u, mx_u, n_valid = (
            state.get if state.exists else (0, 0, 0, 0)
        )
        rows = []
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "event_id"])
        for eid, v in zip(batch["event_id"], batch["value"]):
            # NULL rows never reach here (JVM-side isNotNull filter in
            # streaming_cusum — the Arrow hop would render SQL NULL as
            # NaN and conflate it with genuine NaN values); a NaN here
            # IS a NaN value, which the batch twin keeps
            if isinstance(v, float) and math.isnan(v):
                if n_valid == 0:
                    rows.append((int(eid), k, float("nan"),
                                 None, None, None, None))
                else:
                    rows.append(
                        (
                            int(eid), k, float("nan"),
                            s_u / 1e6,
                            (s_u - mn_u) / 1e6,
                            (mx_u - s_u) / 1e6,
                            (s_u - mn_u) > h_u or (mx_u - s_u) > h_u,
                        )
                    )
                continue
            # exactly Spark's round(value, 6), in exact 1e-6 units
            v_u = _exact_units(v, 6)
            s_u += v_u - target_u
            mn_u = min(mn_u, s_u)  # starts at 0 == min(0, min prefix)
            mx_u = max(mx_u, s_u)
            n_valid += 1
            cpos_u = s_u - mn_u
            cneg_u = mx_u - s_u
            rows.append(
                (
                    int(eid),
                    k,
                    float(v),
                    s_u / 1e6,
                    cpos_u / 1e6,
                    cneg_u / 1e6,
                    cpos_u > h_u or cneg_u > h_u,
                )
            )
        state.update((s_u, mn_u, mx_u, n_valid))
        # object dtype keeps None as SQL NULL through Arrow (float
        # columns would coerce None→NaN, which is NOT NULL to Spark)
        yield pd.DataFrame(
            {
                "event_id": pd.array([r[0] for r in rows], dtype="int64"),
                "key": pd.Series([r[1] for r in rows], dtype=object),
                "value": pd.Series([r[2] for r in rows], dtype=object),
                "s_r": pd.Series([r[3] for r in rows], dtype=object),
                "cusum_pos_r": pd.Series([r[4] for r in rows], dtype=object),
                "cusum_neg_r": pd.Series([r[5] for r in rows], dtype=object),
                "alarm": pd.Series([r[6] for r in rows], dtype=object),
            }
        )

    return fn


def streaming_cusum(
    stream: DataFrame,
    key_col: str = "event_type",
    target: float = 0.0,
    h: float = 25.0,
) -> DataFrame:
    """Streaming CUSUM control chart: the stateful twin of
    ``operators.timeseries.cusum(..., target=...)``.

    A live chart runs the textbook recurrence directly — per-key state
    is FOUR integers (prefix sum, running min, running max of
    deviations in exact 1e-6 units, plus the valid-row count), so
    state is O(keys), never the stream. The integer micro-units are value-identical to the batch
    operator's DECIMAL(18,6) algebra: on an in-order replay every
    emitted statistic matches the batch closed form bit for bit
    (integer arithmetic has no accumulation-order ambiguity to
    diverge on). A fixed ``target`` is required — a stream cannot
    center on a mean it has not seen yet (the batch operator's
    target=None retrospective mode has no streaming analog).

    Input needs (event_id, ts, <key_col>, value); NULL rows are
    dropped like the batch operator's isNotNull filter, while NaN
    rows are EMITTED with unchanged statistics (the batch twin keeps
    them: round(NaN)→DECIMAL is NULL, so the window sums skip the
    deviation but the row survives). One representational caveat:
    the emitted ``value`` of a NaN row reads as SQL NULL (the Arrow
    hop cannot distinguish pandas NaN from null) where the batch
    operator keeps the NaN — row count and every statistic still
    match. Output (append): one judged row per event — (event_id,
    key, value, s_r, cusum_pos_r, cusum_neg_r, alarm), alarm when
    either statistic exceeds ``h``.
    """
    from pyspark.sql import functions as F

    target_u = _exact_units(target, 6)
    h_u = _exact_units(h, 6)
    # NULL rows drop JVM-SIDE (batch isNotNull parity) — past the
    # Arrow hop a SQL NULL double reads as NaN and would conflate
    # with genuine NaN values, which the batch twin KEEPS
    prepped = stream.filter(F.col("value").isNotNull()).select(
        "event_id",
        F.col(key_col).cast("string").alias("key"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("value").cast("double").alias("value"),
    )
    return prepped.groupBy("key").applyInPandasWithState(
        _cusum_fn(target_u, h_u),
        outputStructType=CUSUM_OUTPUT,
        stateStructType=CUSUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PH_OUTPUT = StructType(
    [
        StructField("event_id", LongType()),
        StructField("key", StringType()),
        StructField("value_micro", LongType()),
        StructField("m_micro", LongType()),
        StructField("ph_micro", LongType()),
        StructField("alarm", BooleanType()),
    ]
)

PH_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("s_u", LongType()),
        StructField("m_u", LongType()),
        StructField("min_m", LongType()),
    ]
)


def _ph_fn(delta_u: int, lam_u: int):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        n, s_u, m_u, mn_m = state.get if state.exists else (0, 0, 0, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "event_id"])
        rows = []
        for eid, v in zip(batch["event_id"], batch["value"]):
            # NULL/NaN rows never reach here (JVM-side filter parity
            # with the batch operator's drop)
            v_u = _exact_units(v, 6)
            n += 1
            s_u += v_u
            # Python // floors for either sign — the same true floor
            # as the batch operator's (and oracle's) nonneg-mod identity
            m_u += v_u - (s_u // n) - delta_u
            mn_m = m_u if n == 1 else min(mn_m, m_u)
            ph = m_u - mn_m
            rows.append((int(eid), k, v_u, m_u, ph, ph > lam_u))
        state.update((n, s_u, m_u, mn_m))
        yield pd.DataFrame(
            rows,
            columns=[
                "event_id", "key", "value_micro", "m_micro",
                "ph_micro", "alarm",
            ],
        )

    return fn


def streaming_page_hinkley(
    stream: DataFrame,
    key_col: str = "event_type",
    delta: float = 0.0,
    lam: float = 25.0,
) -> DataFrame:
    """Streaming Page-Hinkley drift detector: the stateful twin of
    ``operators.timeseries.page_hinkley``. The live chart runs the
    recurrence directly — per-key state is FOUR integers (valid count,
    micro-unit prefix sum, current m, running min of m), so state is
    O(keys), never the stream. Integer micro-units make the replay
    value-identical to the batch windows: on an in-order replay every
    emitted (m, PH, alarm) matches bit for bit (floor-mean and all
    sums are integral — no accumulation-order ambiguity). NULL and
    NaN rows drop JVM-side exactly like the batch operator's filter.

    Input needs (event_id, ts, <key_col>, value). Output (append):
    one judged row per event — (event_id, key, value_micro, m_micro,
    ph_micro, alarm), alarm when PH exceeds ``lam``.
    """
    from pyspark.sql import functions as F

    delta_u = _exact_units(delta, 6)
    lam_u = _exact_units(lam, 6)
    prepped = stream.filter(
        F.col("value").isNotNull() & ~F.isnan(F.col("value").cast("double"))
    ).select(
        "event_id",
        F.col(key_col).cast("string").alias("key"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("value").cast("double").alias("value"),
    )
    return prepped.groupBy("key").applyInPandasWithState(
        _ph_fn(delta_u, lam_u),
        outputStructType=PH_OUTPUT,
        stateStructType=PH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    stream: DataFrame,
    id_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermark-bounded exactly-once id dedup: the STANDALONE form of
    Reliable delivery's redelivery ledger (pubsub.subscribe with
    DeliveryMode.RELIABLE applies the same construction to
    msg_id/seq; reference NOTIFY/RECEIPT ledger, store/store.go:183-288)
    — and the streaming twin of batch ``exact_dedup`` over an id.

    `dropDuplicatesWithinWatermark`, not `dropDuplicates`: the plain
    form never evicts state unless event time is part of the key, so
    its ledger grows without bound; the watermarked form holds one
    entry per id within the horizon and evicts as event time advances
    — state is O(ids per watermark window), the property that matters
    on an unbounded stream. The first arrival of an id is kept;
    duplicates arriving within ``watermark`` of it are dropped
    (in-batch, across micro-batches, and across checkpoint restarts —
    the ledger is part of the query state). Duplicates separated by
    MORE than the watermark are out of contract, exactly like a
    redelivery after the receipt horizon.

    Input needs (``id_col``, ``ts_col``, payload columns). Output: the
    input row set minus in-horizon duplicates, schema unchanged.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


MARKOV_OUTPUT = StructType(
    [
        StructField("key", LongType()),
        StructField("src", StringType()),
        StructField("dst", StringType()),
        StructField("n", LongType()),
    ]
)

MARKOV_STATE = StructType([StructField("last_s", StringType())])


def _markov_fn():
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        prev = state.get[0] if state.exists else None
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "event_id"])
        counts: dict[tuple[str, str], int] = {}
        for s in batch["s"]:
            s = str(s)
            if prev is not None:
                pair = (prev, s)
                counts[pair] = counts.get(pair, 0) + 1
            prev = s
        state.update((prev,))
        yield pd.DataFrame(
            [(int(k), a, b, n) for (a, b), n in counts.items()],
            columns=["key", "src", "dst", "n"],
        )

    return fn


def streaming_markov(
    stream: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
) -> DataFrame:
    """Streaming lag-1 transition counts: the stateful twin of
    ``operators.markov.transition_counts``. State per key is ONE
    string — the last event's state under the (ts, event_id) order —
    so the cross-micro-batch (and cross-checkpoint-restart) boundary
    transition is stitched exactly where the batch window's lag would
    pair it. Each micro-batch emits its per-key (src, dst) partial
    counts (append mode); partial counts are mergeable by summation,
    so summing the emitted rows reproduces the batch transition
    relation row for row on an in-order replay.

    Ordering caveat (shared with streaming_sessionize): rows sort by
    event time within a micro-batch; cross-batch late data would
    pair differently than a batch recomputation.

    Input needs (``key_col``, ts, event_id, ``state_col``). Output:
    (key, src, dst, n) partials per micro-batch.
    """
    from pyspark.sql import functions as F

    prepped = stream.select(
        F.col(key_col).cast("long").alias("key"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.col(state_col).cast("string").alias("s"),
    )
    return prepped.groupBy("key").applyInPandasWithState(
        _markov_fn(),
        outputStructType=MARKOV_OUTPUT,
        stateStructType=MARKOV_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


MARKOV2_OUTPUT = StructType(
    [
        StructField("key", LongType()),
        StructField("src2", StringType()),
        StructField("src1", StringType()),
        StructField("dst", StringType()),
        StructField("n", LongType()),
    ]
)

MARKOV2_STATE = StructType(
    [StructField("s2", StringType()), StructField("s1", StringType())]
)


def _markov2_fn():
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        s2, s1 = state.get if state.exists else (None, None)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "event_id"])
        counts: dict[tuple[str, str, str], int] = {}
        for s in batch["s"]:
            s = str(s)
            if s2 is not None:
                trip = (s2, s1, s)
                counts[trip] = counts.get(trip, 0) + 1
            s2, s1 = s1, s
        state.update((s2, s1))
        yield pd.DataFrame(
            [(int(k), a, b, c, n) for (a, b, c), n in counts.items()],
            columns=["key", "src2", "src1", "dst", "n"],
        )

    return fn


def streaming_markov2(
    stream: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
) -> DataFrame:
    """Second-order twin of `streaming_markov`: state per key is the
    last TWO event-type strings, so both boundary contexts spanning a
    micro-batch (or checkpoint restart) land exactly where the batch
    double-lag window would put them. Partial (src2, src1, dst)
    counts merge by summation into the batch relation on an in-order
    replay.

    Input needs (``key_col``, ts, event_id, ``state_col``). Output:
    (key, src2, src1, dst, n) partials per micro-batch.
    """
    from pyspark.sql import functions as F

    prepped = stream.select(
        F.col(key_col).cast("long").alias("key"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.col(state_col).cast("string").alias("s"),
    )
    return prepped.groupBy("key").applyInPandasWithState(
        _markov2_fn(),
        outputStructType=MARKOV2_OUTPUT,
        stateStructType=MARKOV2_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


BURST_OUTPUT = StructType(
    [
        StructField("key", StringType()),
        StructField("g", LongType()),
        StructField("gp", LongType()),
    ]
)

BURST_STATE = StructType(
    [StructField("last_ts", LongType()), StructField("last_gap", LongType())]
)


def _burst_fn():
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        # -1 sentinels instead of NULLs inside the state tuple
        if state.exists:
            last_ts, last_gap = state.get
            last_ts = None if last_ts < 0 else int(last_ts)
            last_gap = None if last_gap < 0 else int(last_gap)
        else:
            last_ts, last_gap = None, None
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "event_id"])
        rows = []
        for t in batch["ts_us"]:
            t = int(t)
            if last_ts is not None:
                g = t - last_ts
                rows.append((str(k), g, last_gap))
                last_gap = g
            last_ts = t
        state.update((
            -1 if last_ts is None else last_ts,
            -1 if last_gap is None else last_gap,
        ))
        yield pd.DataFrame(rows, columns=["key", "g", "gp"])

    return fn


def streaming_burstiness(
    stream: DataFrame,
    key_col: str = "event_type",
) -> DataFrame:
    """Streaming inter-event-gap stitcher: the stateful twin of
    `operators.timeseries.burstiness_report`'s gap pass. State per
    key is (last event ts, last gap) — two longs — so every
    cross-micro-batch (and cross-restart) boundary gap AND its
    consecutive-gap pairing are stitched exactly where the batch
    window's lag/lead would place them. Each micro-batch emits one
    row per NEW gap: (key, g, gp) with gp the predecessor gap (NULL
    for the key's first gap); gap rows are trivially mergeable (a
    union), so the fold finishes through the shared
    `burstiness_from_moments` chain bitwise.

    Ordering caveat (shared with streaming_markov): rows sort by
    event time within a micro-batch; cross-batch late data would
    pair differently than a batch recomputation.

    Input needs (``key_col``, ts, event_id). Output per micro-batch:
    (key, g, gp) partial gap rows, append mode.
    """
    from pyspark.sql import functions as F

    prepped = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    return prepped.groupBy("key").applyInPandasWithState(
        _burst_fn(),
        outputStructType=BURST_OUTPUT,
        stateStructType=BURST_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RECORDS_OUTPUT = StructType(
    [
        StructField("key", StringType()),
        StructField("id", LongType()),
        StructField("value", LongType()),
        StructField("record_no", LongType()),
    ]
)

RECORDS_STATE = StructType(
    [
        StructField("cur_max", LongType()),
        StructField("n_records", LongType()),
    ]
)


def _records_fn():
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        (k,) = key
        cur_max, n_rec = state.get if state.exists else (None, 0)
        rows = []
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "id"])
        for rid, v in zip(batch["id"], batch["value"]):
            if isinstance(v, float) and math.isnan(v):
                # batch twin: CAST(NaN AS DECIMAL) is NULL -> dropped
                continue
            # exactly Spark's CAST(value AS DECIMAL(18,2)) * 100
            cents = _exact_units(v, 2)
            if cur_max is None or cents > cur_max:
                cur_max = cents
                n_rec += 1
                rows.append((k, int(rid), cents, n_rec))
        state.update((cur_max, n_rec))
        yield pd.DataFrame(
            {
                "key": pd.Series([r[0] for r in rows], dtype=object),
                "id": pd.array([r[1] for r in rows], dtype="int64"),
                "value": pd.array([r[2] for r in rows], dtype="int64"),
                "record_no": pd.array(
                    [r[3] for r in rows], dtype="int64"
                ),
            }
        )

    return fn


def streaming_records(
    stream: DataFrame,
    key_col: str = "event_type",
    id_col: str = "event_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming running-record detector: the stateful twin of
    ``operators.timeseries.running_records``. Per-key state is TWO
    integers (current max in exact cents, records-so-far) — O(keys)
    forever, never the stream; on an in-order replay every emitted
    record row matches the batch window bit for bit (strict integer
    comparisons have no order ambiguity). NULL values drop JVM-side
    (batch isNotNull parity); NaN values drop inside the fold (the
    batch twin's CAST(NaN AS DECIMAL) is NULL). Output (append): one
    row per NEW RECORD — (key, id, value, record_no)."""
    from pyspark.sql import functions as F

    prepped = stream.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col).cast("string").alias("key"),
        F.col(id_col).cast("long").alias("id"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(value_col).cast("double").alias("value"),
    )
    return prepped.groupBy("key").applyInPandasWithState(
        _records_fn(),
        outputStructType=RECORDS_OUTPUT,
        stateStructType=RECORDS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
