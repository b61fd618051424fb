"""The Get operator: unitdb's flagship read as one declarative plan.

Shared by Engine.get_df (live store) and the correctness harness
(derived messages DataFrame): contract filter → topic match →
?last cutoff → TTL filter → newest-first top-K (reference:
db.go:222-319, query.go:50-123).

The emitted plan is: Parquet scan with pushed filters (contract is a
partition column on the live store; ``Engine.get_df`` adds a ``p_date``
bound for ``?last``, since a derived messages DataFrame has no
``p_date``) → whole-stage-codegen filter → TakeOrderedAndProject(limit,
seq DESC). The pushed ``ts``/``expires_at`` conjuncts skip no row group
on the live store: those columns are stored as INT96, which carries no
min/max statistics. No shuffle: collected, each task's top-K is merged
on the driver.

Each predicate is generated as Spark SQL and parsed once (see
operators.topic_match for why), user strings quoted by ``sql_string``.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unitdb_spark.core.model import Query
from unitdb_spark.operators.topic_match import topic_match_expr, topic_match_sql
from unitdb_spark.table import now_sql, ttl_live_sql


def _query_terms(q: Query, now: str) -> list[str]:
    """One Get query's contract and ``?last`` conjuncts (the topic
    match comes from operators.topic_match; TTL is the same for every
    query and is added by the callers)."""
    terms = [f"contract = {int(q.contract)}"]
    last = q.last_seconds()
    if last is not None:
        # fractional-second windows stay exact (INTERVAL accepts them);
        # int() would truncate ?last=500ms to a zero-width window
        terms.append(f"ts >= {now} - INTERVAL {float(last)!r} SECOND")
    return terms


def apply_get(
    df: DataFrame, query: Query | str, now: float | dt.datetime | None = None
) -> DataFrame:
    """Apply Get semantics to a messages-schema DataFrame."""
    q = Query(topic=query) if isinstance(query, str) else query
    now_ts = now_sql(now)
    pred = topic_match_expr(q.spec, *_query_terms(q, now_ts), ttl_live_sql(now_ts))
    return df.filter(pred).orderBy(F.desc("seq")).limit(q.effective_limit())


def apply_get_many(
    df: DataFrame,
    queries: Sequence[Query | str],
    now: float | dt.datetime | None = None,
) -> DataFrame:
    """N Get queries in ONE table pass (multi-topic RELAY,
    store/store.go:170-181 loops per topic; here the loop is fused).

    Each row is tagged with every query id whose predicate it matches
    (explode over the match array), then a per-query-id window takes
    the newest-K. At 100 TB this reads the table once instead of N
    times — the batch analogue of the streaming fan-out's one-scan
    broadcast join (`streaming.pubsub.fanout_once`).

    The window filter ANDs the literal ``_rn <= max(limits)`` beside
    each query's own limit: from a literal bound Spark plans a
    ``Partial`` WindowGroupLimit below the shuffle, so each task sends
    at most that many rows per query; the per-query term keeps the
    answer exact.

    Output: Get columns + ``query_id`` (index into ``queries``).
    Rows matching multiple queries appear once per match, exactly as N
    separate Gets would return them.
    """
    qs = [Query(topic=q) if isinstance(q, str) else q for q in queries]
    now_ts = now_sql(now)
    matches = ", ".join(
        " AND ".join([topic_match_sql(q.spec), *_query_terms(q, now_ts)]) for q in qs
    )
    limits = [q.effective_limit() for q in qs]
    tagged = df.filter(ttl_live_sql(now_ts)).selectExpr(
        "*",
        f"explode(filter(transform(array({matches}), (_m, _i) -> IF(_m, _i, NULL)),"
        " _i -> _i IS NOT NULL)) AS query_id",
    )
    return (
        tagged.selectExpr("*", "row_number() OVER (PARTITION BY query_id ORDER BY seq DESC) AS _rn")
        .filter(
            f"_rn <= {max(limits, default=0)}"
            f" AND _rn <= element_at(array({', '.join(map(str, limits))}), query_id + 1)"
        )
        .drop("_rn")
    )
