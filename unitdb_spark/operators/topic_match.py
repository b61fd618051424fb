"""Spark SQL predicates for (symmetric) wildcard topic matching.

The reference resolves wildcard matches with an in-RAM trie traversal
(reference: trie.go:156-188, message/topic.go:231-296). In Spark the
equivalent is a *predicate expression* over the stored ``topic`` /
``parts`` / ``depth`` / ``has_tail`` columns, generated driver-side
from the (known) query pattern, so that:

- static-topic queries collapse to ``topic = 'a.b.c'`` — a plain
  equality Catalyst pushes into the Parquet scan;
- wildcard queries become conjunctions of ``get(parts, i)`` equalities
  and a ``depth`` check — still JVM-side, whole-stage-codegen friendly,
  with NO Python UDF in the hot path;
- stored-side patterns (wildcards are legal on write,
  db_test.go:296-317) are matched with the symmetric direction OR-ed
  in.

The predicate is generated as ONE Spark SQL string and parsed by one
``F.expr``. Built with the Column API, every ``&``, ``|``, ``F.get``,
``F.lit`` and ``F.when`` is a separate py4j round trip to the driver
JVM — dozens per wildcard query, tens of milliseconds per Get before a
task starts; one parse costs a fraction of a millisecond and yields the
same Catalyst expression. Topics are user strings, so every literal
goes through ``sql_string``.

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


def sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal. Backslash is the escape
    character of Spark's string literals, so it is doubled before the
    quote is escaped. ``$`` is written as the escape ``\\u0024``:
    Spark's parser substitutes ``${name}`` variables in the whole SQL
    text, quoted literals included, before it unescapes them. ``%`` and
    ``_`` need nothing (no LIKE is built)."""
    return "'" + value.replace("\\", "\\\\").replace("$", "\\u0024").replace("'", "\\'") + "'"


def _all(conds: list[str]) -> str:
    return "(" + " AND ".join(conds) + ")"


def _query_pattern_vs_stored(spec: TopicSpec) -> str:
    """Query pattern (driver-side constant) matched against the stored
    topic *treated as concrete* — where a stored trailing '...' counts
    as one literal level, exactly like the Python reference matcher
    (core.topic._pattern_matches: the concrete side keeps its wildcard
    tokens as literals). Generated as a plain conjunction.
    """
    if spec.kind == TopicKind.STATIC:
        # Fast path: plain string equality — partition/predicate prunable.
        return f"topic = {sql_string(spec.raw)}"
    qp = list(spec.parts)  # INCLUDES a trailing '...' token if present
    # effective stored token count: parts plus the tail token
    length = "(depth + CAST(has_tail AS INT))"
    if qp and qp[-1] == WILDCARD_TAIL:
        base = qp[:-1]
        conds = [f"{length} >= {len(base)}"]
    else:
        base = qp
        conds = [f"{length} = {len(base)}"]
    tail = sql_string(WILDCARD_TAIL)
    for i, p in enumerate(base):
        if p != WILDCARD_ONE:
            conds.append(
                f"CASE WHEN {i} < depth THEN get(parts, {i}) ELSE {tail} END = {sql_string(p)}"
            )
    return _all(conds)


def _stored_pattern_vs_query(spec: TopicSpec) -> str:
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
    star = sql_string(WILDCARD_ONE)

    def part_ok(i: int, qp: str) -> str:
        return f"get(parts, {i}) = {sql_string(qp)} OR get(parts, {i}) = {star}"

    # stored has trailing '...': base must be a (wildcard-tolerant) prefix
    tail_conds = ["has_tail", f"depth <= {qd}"]
    tail_conds += [f"(depth < {i + 1} OR {part_ok(i, qp)})" for i, qp in enumerate(qparts)]
    # stored flat pattern: same depth, each part equal or '*'
    flat_conds = ["(NOT has_tail)", f"depth = {qd}"]
    flat_conds += [f"({part_ok(i, qp)})" for i, qp in enumerate(qparts)]
    return f"(is_pattern AND ({_all(tail_conds)} OR {_all(flat_conds)}))"


def topic_match_sql(spec: TopicSpec) -> str:
    """The match predicate for one parsed query topic as Spark SQL, over
    the messages columns ``topic``/``parts``/``depth``/``has_tail``/
    ``is_pattern``.

    It is the reference's both-direction match (query pattern OR stored
    pattern — db_test.go:296-317); a static query's forward direction
    is the plain, prunable ``topic = x``.
    """
    out = f"({_query_pattern_vs_stored(spec)} OR {_stored_pattern_vs_query(spec)})"
    coarse = _coarse_pushdown(spec)
    return f"{out} AND {coarse}" if coarse is not None else out


def topic_match_expr(query_topic: str | TopicSpec, *conjuncts: str) -> Column:
    """``topic_match_sql`` as a Column, AND-ed with further SQL
    ``conjuncts`` (a Get's contract, ``?last`` and TTL terms) so that
    the caller's whole predicate is parsed once."""
    spec = parse_topic(query_topic) if isinstance(query_topic, str) else query_topic
    return F.expr(" AND ".join([topic_match_sql(spec), *conjuncts]))


def _coarse_pushdown(spec: TopicSpec) -> str | None:
    """A *necessary* (weaker) condition built only from pushable
    predicates (string equality / StartsWith / boolean), AND-ed onto the
    exact match as a redundant conjunct. Catalyst can't derive it from
    the OR of array conditions itself, but given explicitly it reaches
    the Parquet scan and prunes row groups holding neither the topic
    prefix nor any stored patterns."""
    if spec.kind == TopicKind.STATIC:
        # StartsWith, not equality: a plain `topic = x` here would be a
        # common factor of the two disjunctions in
        # `(x OR rev) AND (x OR is_pattern)`, and Catalyst's boolean
        # simplification would factor it out as
        # `x OR (rev AND is_pattern)`, dropping the pushable conjunct.
        # `startswith(topic, x)` is no common factor, so it survives
        # optimization, and as a strict superset it still prunes.
        cond = f"startswith(topic, {sql_string(spec.raw)})"
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
        under = f"startswith(topic, {sql_string(prefix + '.')})"
        if len(prefix_parts) == len(spec.base_parts) and spec.has_tail:
            # 'a.b...' -> exactly 'a.b' or anything under 'a.b.'
            cond = f"topic = {sql_string(prefix)} OR {under}"
        else:
            cond = under
    return f"({cond} OR is_pattern)"
