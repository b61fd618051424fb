"""The Get operator: unitdb's flagship read as one declarative plan.

Shared by Engine.get_df (live store) and the correctness harness
(derived messages DataFrame): contract filter → topic match →
?last cutoff → TTL filter → newest-first top-K (reference:
db.go:222-319, query.go:50-123).

The emitted plan is: Parquet scan with pushed filters (contract is a
partition column on the live store; ts/seq hit row-group stats) →
whole-stage-codegen filter → TakeOrderedAndProject(limit, seq DESC).
No shuffle except the final K-row merge.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unitdb_spark.core.model import Query
from unitdb_spark.operators.topic_match import topic_match_expr
from unitdb_spark.table import ttl_live_expr


def now_column(now: float | dt.datetime | None) -> Column:
    if now is None:
        return F.current_timestamp()
    if isinstance(now, dt.datetime):
        return F.lit(now.replace(tzinfo=None))
    return F.lit(dt.datetime.fromtimestamp(now, dt.timezone.utc).replace(tzinfo=None))


def _query_predicate(q: Query, now_ts: Column) -> Column:
    """One Get query's contract, topic and ``?last`` predicate (TTL is
    the same for every query and is applied by the callers)."""
    cond = (F.col("contract") == F.lit(q.contract)) & topic_match_expr(q.spec)
    last = q.last_seconds()
    if last is not None:
        # fractional-second windows stay exact (INTERVAL accepts them);
        # int() would truncate ?last=500ms to a zero-width window
        cond = cond & (
            F.col("ts") >= now_ts - F.expr(f"INTERVAL {float(last)!r} SECOND")
        )
    return cond


def apply_get(
    df: DataFrame, query: Query | str, now: float | dt.datetime | None = None
) -> DataFrame:
    """Apply Get semantics to a messages-schema DataFrame."""
    q = Query(topic=query) if isinstance(query, str) else query
    now_ts = now_column(now)
    out = df.filter(_query_predicate(q, now_ts)).filter(ttl_live_expr(now_ts))
    return out.orderBy(F.desc("seq")).limit(q.effective_limit())


def apply_get_many(
    df: DataFrame,
    queries: Sequence[Query | str],
    now: float | dt.datetime | None = None,
) -> DataFrame:
    """N Get queries in ONE table pass (multi-topic RELAY,
    store/store.go:170-181 loops per topic; here the loop is fused).

    Each row is tagged with every query id whose predicate it matches
    (posexplode over the match-expression array), then a per-query-id
    window takes the newest-K. At 100 TB this reads the table once
    instead of N times — the batch analogue of the streaming fan-out's
    one-scan broadcast join (`streaming.pubsub.fanout_once`).

    Output: Get columns + ``query_id`` (index into ``queries``).
    Rows matching multiple queries appear once per match, exactly as N
    separate Gets would return them.
    """
    qs = [Query(topic=q) if isinstance(q, str) else q for q in queries]
    now_ts = now_column(now)
    base = df.filter(ttl_live_expr(now_ts))
    per_query = [_query_predicate(q, now_ts) for q in qs]
    tagged = base.select(
        "*",
        F.posexplode(
            F.filter(
                F.transform(
                    F.array(*[c.cast("boolean") for c in per_query]),
                    lambda m, i: F.when(m, i).otherwise(F.lit(None)),
                ),
                lambda v: v.isNotNull(),
            )
        ).alias("_pos", "query_id"),
    ).drop("_pos")
    limits = F.element_at(
        F.array(*[F.lit(q.effective_limit()) for q in qs]), F.col("query_id") + 1
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("seq"))
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= limits)
        .drop("_rn")
    )
