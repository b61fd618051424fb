"""Exhaustive wildcard-match verification over a closed topic universe.

The reference pins symmetric wildcard matching with a 16-case table
(db_test.go:288-318). This goes further: enumerate EVERY concrete topic
of depth 1..3 over {a,b} and EVERY query pattern of depth 1..3 over
{a,b,*} with/without a trailing '...' (plus bare '...'), and check the
Spark Column expression against an independent pure-Python model of the
reference semantics ('*' = exactly one level, trailing '...' = self or
any deeper — message/topic.go:231-296) on the full cross product.

Both directions are covered where the semantics are well-defined:
concrete-stored x any-query (the forward match) and pattern-stored x
static-query (the reverse match). Pattern-vs-pattern beyond these is
exercised by the reference's own matrix in test_topic.py.

Each direction is ONE Spark job: all query predicates evaluate as
columns of a single select over the stored-topic DataFrame.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from unitdb_spark.core.topic import parse_topic
from unitdb_spark.operators.topic_match import topic_match_expr
from unitdb_spark.table import with_topic_columns

ALPHABET = ("a", "b")
PATTERN_ALPHABET = ("a", "b", "*")


def _all_topics(alphabet, max_depth):
    for d in range(1, max_depth + 1):
        for combo in itertools.product(alphabet, repeat=d):
            yield ".".join(combo)


def _all_patterns(max_depth):
    yield "..."  # bare tail: matches everything
    for body in _all_topics(PATTERN_ALPHABET, max_depth):
        yield body
        yield body + "..."


def _pattern_matches(pbase: list[str], ptail: bool, tparts: list[str]) -> bool:
    """Reference model: '*' matches exactly one level; trailing '...'
    matches the base itself or anything deeper."""
    if ptail:
        if len(tparts) < len(pbase):
            return False
    elif len(tparts) != len(pbase):
        return False
    return all(p == "*" or p == t for p, t in zip(pbase, tparts))


def _eval_matrix(spark, stored_topics, queries):
    """One job: evaluate every query predicate over every stored topic."""
    df = with_topic_columns(
        spark.createDataFrame([(t,) for t in stored_topics], "topic string")
    )
    cols = [
        topic_match_expr(q).alias(f"q{i}") for i, q in enumerate(queries)
    ]
    rows = df.select(F.col("topic"), *cols).collect()
    return {
        (r["topic"], q): bool(r[f"q{i}"])
        for r in rows
        for i, q in enumerate(queries)
    }


class TestExhaustiveMatrix:
    def test_concrete_stored_vs_all_queries(self, spark):
        stored = list(_all_topics(ALPHABET, 3))            # 14 topics
        queries = list(_all_patterns(3))                   # 79 patterns
        got = _eval_matrix(spark, stored, queries)
        mismatches = []
        for t, q in got:
            spec = parse_topic(q)
            want = _pattern_matches(list(spec.base_parts), spec.has_tail, t.split("."))
            if got[(t, q)] != want:
                mismatches.append((t, q, got[(t, q)], want))
        assert not mismatches, f"{len(mismatches)} mismatches, first 10: {mismatches[:10]}"

    def test_deep_topics_sampled_patterns(self, spark):
        """Depth-5 universe (beyond the reference's own tests): all 363
        concrete topics over {a,b,c} vs a seeded 60-pattern sample of
        the depth-5 pattern space — 21,780 combos, one Spark job."""
        import random

        stored = list(_all_topics(("a", "b", "c"), 5))
        rng = random.Random(42)
        universe = [p for p in _all_patterns(5)]
        queries = rng.sample(universe, 60)
        got = _eval_matrix(spark, stored, queries)
        mismatches = []
        for t, q in got:
            spec = parse_topic(q)
            want = _pattern_matches(list(spec.base_parts), spec.has_tail, t.split("."))
            if got[(t, q)] != want:
                mismatches.append((t, q, got[(t, q)], want))
        assert not mismatches, f"{len(mismatches)} mismatches, first 10: {mismatches[:10]}"

    def test_pattern_stored_vs_pattern_queries(self, spark):
        """Full pattern-vs-pattern cross product vs the Python
        reference matcher (core.topic.topic_match) — pins the symmetric
        semantics where BOTH sides carry wildcards, e.g. stored
        'a.b...' must be visible to a 'a...' query."""
        from unitdb_spark.core.topic import topic_match

        universe = list(_all_patterns(3))  # 79 patterns incl '...'
        got = _eval_matrix(spark, universe, universe)
        mismatches = []
        for t, q in got:
            want = topic_match(t, q)
            if got[(t, q)] != want:
                mismatches.append((t, q, got[(t, q)], want))
        assert not mismatches, f"{len(mismatches)} mismatches, first 10: {mismatches[:10]}"

    def test_fanout_pattern_messages_vs_pattern_subscriptions(self, spark):
        """The same 79 × 79 cross product through the pub/sub fan-out
        join: a message published to a wildcard topic reaches exactly
        the subscriptions core.topic.topic_match pairs it with (the
        concrete side's trailing '...' is one literal level, so 'a...'
        reaches '*.*' but not '*')."""
        from unitdb_spark.core.topic import topic_match
        from unitdb_spark.streaming.pubsub import fanout_once

        universe = list(_all_patterns(3))
        messages = with_topic_columns(
            spark.createDataFrame([(t, 1) for t in universe], "topic string, contract long")
        )
        subs = spark.createDataFrame(
            [(i, q, 1) for i, q in enumerate(universe)],
            "sub_id long, topic string, contract long",
        )
        rows = fanout_once(messages, subs).select("topic", "sub_id").collect()
        got = [(r["topic"], universe[r["sub_id"]]) for r in rows]
        assert len(got) == len(set(got))
        want = {(t, q) for t in universe for q in universe if topic_match(t, q)}
        extra, missing = set(got) - want, want - set(got)
        assert not extra and not missing, (
            f"{len(extra)} extra, first {sorted(extra)[:10]}; "
            f"{len(missing)} missing, first {sorted(missing)[:10]}"
        )

    def test_pattern_stored_vs_static_queries(self, spark):
        stored = [p for p in _all_patterns(3) if ("*" in p or p.endswith("..."))]
        queries = list(_all_topics(ALPHABET, 3))           # static gets
        got = _eval_matrix(spark, stored, queries)
        mismatches = []
        for t, q in got:
            spec = parse_topic(t)                          # stored pattern
            want = _pattern_matches(list(spec.base_parts), spec.has_tail, q.split("."))
            if got[(t, q)] != want:
                mismatches.append((t, q, got[(t, q)], want))
        assert not mismatches, f"{len(mismatches)} mismatches, first 10: {mismatches[:10]}"


class TestRandomizedPatternMatch:
    """Hypothesis sweep beyond the closed universes above: random
    stored/query pairs — including pattern-vs-pattern with deeper
    bodies, longer tokens, and '*' in any position — checked against
    an INDEPENDENT in-test model of the reference trie semantics
    (trie.go:156-188: '*' consumes exactly one level, trailing '...'
    consumes >=0; symmetric = either side matches the other treated
    as concrete, its own wildcard tokens counting as literal levels).
    The model deliberately re-derives the semantics from scratch —
    it shares no code with core.topic — so a shared bug can't hide."""

    TOKENS = ("a", "b", "c", "dev", "x9", "*")

    @staticmethod
    def _tokens(p: str) -> list[str]:
        """Pattern string -> token list, trailing '...' as a token."""
        tail = p.endswith("...")
        body = p[:-3] if tail else p
        return (body.split(".") if body else []) + (["..."] if tail else [])

    @classmethod
    def _one_way(cls, pat: list[str], conc: list[str]) -> bool:
        if pat and pat[-1] == "...":
            base = pat[:-1]
            return len(conc) >= len(base) and all(
                x == "*" or x == y for x, y in zip(base, conc)
            )
        return len(pat) == len(conc) and all(
            x == "*" or x == y for x, y in zip(pat, conc)
        )

    @classmethod
    def _model(cls, stored: str, query: str) -> bool:
        s, q = cls._tokens(stored), cls._tokens(query)
        return cls._one_way(s, q) or cls._one_way(q, s)

    def test_random_pairs_match_model(self, spark):
        from hypothesis import given, settings, strategies as st

        token = st.sampled_from(self.TOKENS)
        pattern = (
            st.tuples(
                st.lists(token, min_size=0, max_size=5), st.booleans()
            )
            .filter(lambda t: t[0] or t[1])  # empty body only as bare '...'
            .map(lambda t: ".".join(t[0]) + ("..." if t[1] else ""))
        )

        @settings(max_examples=10, deadline=None)
        @given(
            stored=st.lists(pattern, min_size=1, max_size=8, unique=True),
            queries=st.lists(pattern, min_size=1, max_size=8, unique=True),
        )
        def check(stored, queries):
            got = _eval_matrix(spark, stored, queries)
            mismatches = [
                (t, q, got[(t, q)], self._model(t, q))
                for t, q in got
                if got[(t, q)] != self._model(t, q)
            ]
            assert not mismatches, f"first 10: {mismatches[:10]}"

        check()
