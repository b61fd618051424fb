"""Spark Column expressions for (symmetric) wildcard topic matching.

The reference resolves wildcard matches with an in-RAM trie traversal
(reference: trie.go:156-188, message/topic.go:231-296). In Spark the
equivalent is a *predicate expression* over the stored ``topic`` /
``parts`` / ``depth`` / ``has_tail`` columns, generated driver-side
from the (known) query pattern, so that:

- static-topic queries collapse to ``topic = 'a.b.c'`` — a plain
  equality Catalyst pushes into the Parquet scan;
- wildcard queries become conjunctions of ``element_at`` equalities and
  a ``size()`` check — still JVM-side, whole-stage-codegen friendly,
  with NO Python UDF in the hot path;
- stored-side patterns (wildcards are legal on write,
  db_test.go:296-317) are matched with the symmetric direction OR-ed
  in.

Column layout expected on the messages table (SURVEY §1.3):
``topic STRING, parts ARRAY<STRING>, depth INT, has_tail BOOLEAN``
where ``parts`` contains wildcard tokens verbatim and ``has_tail``
marks a trailing '...'. ``depth = size(parts)`` (tail token excluded).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from unitdb_spark.core.topic import (
    WILDCARD_ONE,
    WILDCARD_TAIL,
    TopicKind,
    TopicSpec,
    parse_topic,
)


def _query_pattern_vs_stored(spec: TopicSpec, parts: Column, depth: Column, has_tail: Column, topic: Column) -> Column:
    """Query pattern (driver-side constant) matched against the stored
    topic *treated as concrete* — where a stored trailing '...' counts
    as one literal level, exactly like the Python reference matcher
    (core.topic._pattern_matches: the concrete side keeps its wildcard
    tokens as literals). Generated as a plain conjunction.
    """
    if spec.kind == TopicKind.STATIC:
        # Fast path: plain string equality — partition/predicate prunable.
        return topic == F.lit(spec.raw)
    qp = list(spec.parts)  # INCLUDES a trailing '...' token if present
    # effective stored token count: parts plus the tail token
    length = depth + has_tail.cast("int")

    def stored_tok(i: int) -> Column:
        return F.when(F.lit(i) < depth, F.get(parts, i)).otherwise(
            F.lit(WILDCARD_TAIL)
        )

    if qp and qp[-1] == WILDCARD_TAIL:
        base = qp[:-1]
        conds: list[Column] = [length >= F.lit(len(base))]
    else:
        base = qp
        conds = [length == F.lit(len(base))]
    for i, p in enumerate(base):
        if p != WILDCARD_ONE:
            conds.append(stored_tok(i) == F.lit(p))
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _stored_pattern_vs_query(
    spec: TopicSpec,
    parts: Column,
    depth: Column,
    has_tail: Column,
    is_pattern: Column,
) -> Column:
    """Stored patterns (rows written to wildcard topics) matched against
    the query *treated as concrete* — the query's own wildcard/tail
    tokens count as literal levels, mirroring the Python reference
    matcher's symmetric formulation.

    The whole branch is guarded by ``is_pattern`` — Parquet then
    receives the pushable `Or(topic = x, is_pattern)` residual and
    prunes pattern-free row groups on stats.
    """
    qparts = list(spec.parts)  # INCLUDES a trailing '...' token if present
    qd = len(qparts)
    # stored has trailing '...': base must be a (wildcard-tolerant) prefix
    tail_conds: Column = has_tail & (depth <= F.lit(qd))
    for i, qp in enumerate(qparts):
        pos_ok = (depth < F.lit(i + 1)) | (
            (F.get(parts, i) == F.lit(qp)) | (F.get(parts, i) == F.lit(WILDCARD_ONE))
        )
        tail_conds = tail_conds & pos_ok
    # stored flat pattern: same depth, each part equal or '*'
    flat_conds: Column = (~has_tail) & (depth == F.lit(qd))
    for i, qp in enumerate(qparts):
        flat_conds = flat_conds & (
            (F.get(parts, i) == F.lit(qp)) | (F.get(parts, i) == F.lit(WILDCARD_ONE))
        )
    return is_pattern & (tail_conds | flat_conds)


def topic_match_expr(query_topic: str | TopicSpec) -> Column:
    """Build the match predicate for one query topic over the messages
    columns ``topic``/``parts``/``depth``/``has_tail``/``is_pattern``.

    It is the reference's both-direction match (query pattern OR stored
    pattern — db_test.go:296-317); a static query's forward direction
    is the plain, prunable ``topic = x``.
    """
    spec = parse_topic(query_topic) if isinstance(query_topic, str) else query_topic
    topic, parts, depth, has_tail, is_pattern = (
        F.col(c) for c in ("topic", "parts", "depth", "has_tail", "is_pattern")
    )
    fwd = _query_pattern_vs_stored(spec, parts, depth, has_tail, topic)
    rev = _stored_pattern_vs_query(spec, parts, depth, has_tail, is_pattern)
    out = fwd | rev
    coarse = _coarse_pushdown(spec, topic, is_pattern)
    return out & coarse if coarse is not None else out


def _coarse_pushdown(
    spec: TopicSpec, topic: Column, is_pattern: Column
) -> Column | None:
    """A *necessary* (weaker) condition built only from pushable
    predicates (string equality / StartsWith / boolean), AND-ed onto the
    exact match as a redundant conjunct. Catalyst can't derive it from
    the OR of array conditions itself, but given explicitly it reaches
    the Parquet scan and prunes row groups holding neither the topic
    prefix nor any stored patterns."""
    if spec.kind == TopicKind.STATIC:
        # StartsWith, not equality: a plain `topic = x` here would be a
        # common factor with the exact branch and Catalyst's boolean
        # simplification would refactor `(x|rev)&(x|pat)` back into
        # `x|(rev&pat)`, dropping the pushable conjunct. The strict
        # superset survives optimization and still prunes row groups.
        cond = topic.startswith(F.lit(spec.raw))
    else:
        # concrete prefix before the first wildcard token
        prefix_parts = []
        for p in spec.base_parts:
            if p == WILDCARD_ONE:
                break
            prefix_parts.append(p)
        if not prefix_parts:
            return None  # bare '*' / '...' — nothing pushable
        prefix = ".".join(prefix_parts)
        if len(prefix_parts) == len(spec.base_parts) and spec.has_tail:
            # 'a.b...' -> exactly 'a.b' or anything under 'a.b.'
            cond = (topic == F.lit(prefix)) | topic.startswith(F.lit(prefix + "."))
        else:
            cond = topic.startswith(F.lit(prefix + "."))
    return cond | is_pattern

