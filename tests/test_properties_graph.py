"""Property-based tests for the setjoin/graph family: randomized
inputs checked against independent pure-Python models, pinning the
ALGEBRA (losslessness of prefix filtering, triangle closure, rank
mass conservation) rather than one fixture. Example counts stay
small — every example pays a Spark job."""

from __future__ import annotations

import itertools

from hypothesis import given, settings, strategies as st

# documents over a small vocabulary — small vocab forces overlapping
# token sets, the regime where prefix filtering must not lose pairs
_VOCAB = ["ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen"]
_docs = st.lists(
    st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=6),
    min_size=2,
    max_size=10,
)

_edges = st.lists(
    st.tuples(st.integers(0, 11), st.integers(0, 11)),
    min_size=1,
    max_size=30,
).map(lambda es: sorted({(min(a, b), max(a, b)) for a, b in es if a != b}))


class TestPrefixJaccardProperty:
    @settings(max_examples=8, deadline=None)
    @given(docs=_docs, thr=st.sampled_from([0.3, 0.5, 0.8]))
    def test_lossless_vs_python_brute_force(self, spark, docs, thr):
        from unitdb_spark.operators.setjoin import prefix_jaccard_pairs

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            ["doc_id", "text"],
        )
        got = {
            (r.id_a, r.id_b)
            for r in prefix_jaccard_pairs(df, threshold=thr, unit="word").collect()
        }
        from fractions import Fraction

        sets = [frozenset(t) for t in docs]
        tfrac = Fraction(str(thr))
        want = set()
        for a, b in itertools.combinations(range(len(sets)), 2):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            # exact rational threshold — the operator's contract
            if union and Fraction(inter, union) >= tfrac:
                want.add((a, b))
        assert got == want


class TestTriangleProperty:
    @settings(max_examples=10, deadline=None)
    @given(edges=_edges)
    def test_counts_match_python_model(self, spark, edges):
        from unitdb_spark.operators.graph import triangle_counts

        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {n: 0 for n in adj}
        for a, b, c in itertools.combinations(sorted(adj), 3):
            if b in adj[a] and c in adj[a] and c in adj[b]:
                want[a] += 1
                want[b] += 1
                want[c] += 1
        df = spark.createDataFrame(edges, "src int, dst int")
        got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
        assert got == want


class TestPagerankProperty:
    @settings(max_examples=8, deadline=None)
    @given(edges=_edges.filter(lambda e: len(e) >= 1))
    def test_matches_python_power_iteration(self, spark, edges):
        from unitdb_spark.operators.graph import pagerank

        sym = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
        deg: dict[int, int] = {}
        for a, _ in sym:
            deg[a] = deg.get(a, 0) + 1
        n = len(deg)
        pr = {v: 1 / n for v in deg}
        for _ in range(3):
            nxt = {v: 0.15 / n for v in deg}
            for a, b in sym:
                nxt[b] += 0.85 * pr[a] / deg[a]
            pr = nxt
        df = spark.createDataFrame(sym, "src int, dst int")
        got = {r.node: r.pr_r for r in pagerank(df, iterations=3).collect()}
        assert set(got) == set(pr)
        for v in pr:
            assert abs(got[v] - round(pr[v] * n, 6)) <= 2e-6
        # total rank mass is conserved (scaled sum == N)
        assert abs(sum(got.values()) - n) < 1e-3

    @settings(max_examples=8, deadline=None)
    @given(
        edges=_edges.filter(lambda e: len(e) >= 1),
        # boundary-adjacent dampings included on purpose: the round-4
        # IEEE formulation could flip within an ulp of a round-6
        # boundary; the fixed-point formulation must match an integer
        # replay EXACTLY for any damping rational
        damping=st.sampled_from([0.85, 0.5, 0.999999, 0.123456, 0.000001]),
    )
    def test_bitwise_matches_integer_replay(self, spark, edges, damping):
        """The determinism contract itself: Spark's result equals a
        pure-Python BIGINT-picounit replay bit for bit (same floors,
        same pinned final float expression, same HALF_UP round-6) —
        the property the DuckDB oracle relies on."""
        from decimal import ROUND_HALF_UP, Decimal
        from fractions import Fraction

        from unitdb_spark.operators.graph import PR_SCALE, pagerank

        frac = Fraction(str(damping))
        num, den = frac.numerator, frac.denominator
        sym = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
        deg: dict[int, int] = {}
        for a, _ in sym:
            deg[a] = deg.get(a, 0) + 1
        n = len(deg)
        u = {v: PR_SCALE // n for v in deg}
        base = ((den - num) * PR_SCALE) // (den * n)
        for _ in range(3):
            inflow = {v: 0 for v in deg}
            for a, b in sym:
                inflow[b] += u[a] // deg[a]
            u = {v: base + (num * inflow[v]) // den for v in deg}
        q6 = Decimal("0.000001")
        want = {
            v: float(
                Decimal(repr(float(u[v]) * float(n) / float(PR_SCALE)))
                .quantize(q6, ROUND_HALF_UP)
            )
            for v in deg
        }
        df = spark.createDataFrame(sym, "src int, dst int")
        got = {
            r.node: r.pr_r
            for r in pagerank(df, iterations=3, damping=damping).collect()
        }
        assert got == want  # bitwise: dict equality over float64

    @settings(max_examples=6, deadline=None)
    @given(edges=_edges.filter(lambda e: len(e) >= 2))
    def test_ppr_bitwise_matches_integer_replay(self, spark, edges):
        """Same exact-replay property for personalized_pagerank:
        restart mass on the even-id seed nodes only, zeros kept."""
        from decimal import ROUND_HALF_UP, Decimal

        from unitdb_spark.operators.graph import (
            PR_SCALE,
            personalized_pagerank,
        )

        sym = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
        deg: dict[int, int] = {}
        for a, _ in sym:
            deg[a] = deg.get(a, 0) + 1
        n = len(deg)
        seeds = sorted(v for v in deg if v % 2 == 0)
        if not seeds:
            return
        ns = len(seeds)
        u = {v: (PR_SCALE // ns if v in set(seeds) else 0) for v in deg}
        base = (3 * PR_SCALE) // (20 * ns)  # damping 0.85 = 17/20
        for _ in range(3):
            inflow = {v: 0 for v in deg}
            for a, b in sym:
                inflow[b] += u[a] // deg[a]
            u = {
                v: (17 * inflow[v]) // 20 + (base if v in set(seeds) else 0)
                for v in deg
            }
        q6 = Decimal("0.000001")
        want = {
            v: float(
                Decimal(repr(float(u[v]) * float(n) / float(PR_SCALE)))
                .quantize(q6, ROUND_HALF_UP)
            )
            for v in deg
        }
        df = spark.createDataFrame(sym, "src int, dst int")
        sdf = spark.createDataFrame([(s,) for s in seeds], "node int")
        got = {
            r.node: r.ppr_r
            for r in personalized_pagerank(df, sdf, iterations=3).collect()
        }
        assert got == want


    @settings(max_examples=6, deadline=None)
    @given(
        raw=st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
                lambda t: t[0] != t[1]
            ),
            min_size=1,
            max_size=20,
        ),
        damping=st.sampled_from([0.85, 0.5, 0.123456]),
    )
    def test_unit_weight_pagerank_matches_pagerank_and_replay(
        self, spark, raw, damping
    ):
        """pagerank(e), pagerank_weighted(e with w = 1) and an integer
        replay agree bit for bit on a multigraph: duplicate edges are
        kept, so each copy adds one to its source's out-degree and
        carries one share of its rank."""
        from decimal import ROUND_HALF_UP, Decimal
        from fractions import Fraction

        from pyspark.sql import functions as F

        from unitdb_spark.operators.graph import (
            PR_SCALE,
            pagerank,
            pagerank_weighted,
        )

        frac = Fraction(str(damping))
        num, den = frac.numerator, frac.denominator
        sym = raw + [(b, a) for a, b in raw]  # duplicates stay
        deg: dict[int, int] = {}
        for a, _ in sym:
            deg[a] = deg.get(a, 0) + 1
        n = len(deg)
        u = {v: PR_SCALE // n for v in deg}
        base = ((den - num) * PR_SCALE) // (den * n)
        for _ in range(3):
            inflow = {v: 0 for v in deg}
            for a, b in sym:
                inflow[b] += u[a] // deg[a]
            u = {v: base + (num * inflow[v]) // den for v in deg}
        q6 = Decimal("0.000001")
        want = {
            v: float(
                Decimal(repr(float(u[v]) * float(n) / float(PR_SCALE)))
                .quantize(q6, ROUND_HALF_UP)
            )
            for v in deg
        }
        df = spark.createDataFrame(sym, "src int, dst int")
        try:
            plain = {
                r.node: r.pr_r
                for r in pagerank(df, iterations=3, damping=damping).collect()
            }
            unit = {
                r.node: r.pr_r
                for r in pagerank_weighted(
                    df.withColumn("w", F.lit(1)), iterations=3, damping=damping
                ).collect()
            }
        finally:
            spark.catalog.clearCache()
        assert plain == want  # bitwise: dict equality over float64
        assert unit == want


class TestCanonicalUrlProperty:
    """canonical_url over randomized URL components."""

    _scheme = st.sampled_from(["http", "https", "HTTP", "HtTpS"])
    _host = st.sampled_from(
        ["Example.COM", "www.site.org", "a-b.net:8080", "x.io:443", "y.io:80"]
    )
    _path = st.sampled_from(["", "/", "/p", "/p/q/", "/p//"])
    _params = st.lists(
        st.sampled_from(
            ["a=1", "b=2", "utm_source=x", "utm_x=y", "fbclid=z", "ref=hn", "z=9"]
        ),
        max_size=4,
    )
    _frag = st.sampled_from(["", "#top", "#a/b?c=1"])

    @settings(max_examples=10, deadline=None)
    @given(scheme=_scheme, host=_host, path=_path, params=_params, frag=_frag)
    def test_idempotent_and_clean(self, spark, scheme, host, path, params, frag):
        from unitdb_spark.functions.text import canonical_url

        url = f"{scheme}://{host}{path}"
        if params:
            url += "?" + "&".join(params)
        url += frag
        df = spark.createDataFrame([(url,)], ["u"])
        once = df.select(canonical_url("u").alias("c"))
        c1 = once.collect()[0].c
        c2 = once.select(canonical_url("c")).collect()[0][0]
        # idempotence: canonicalizing a canonical URL is a no-op
        assert c2 == c1
        # invariants: no fragment, no tracking params, lowercase
        # scheme/host, no trailing slash, no default port
        assert "#" not in c1
        assert "utm_" not in c1 and "fbclid" not in c1 and "ref=hn" not in c1
        head = c1.split("://")[0]
        assert head == head.lower()
        assert not c1.endswith("/")
        assert ":443" not in c1 or scheme.lower() == "http"


class TestKCoreProperty:
    @given(edges=_edges, k=st.integers(2, 3))
    @settings(max_examples=8, deadline=None)
    def test_bounded_peel_matches_model(self, spark, edges, k):
        """Fixed-round peeling == the independent Python model (both
        the surviving set and the final in-subgraph degrees)."""
        from pyspark.sql import functions as F

        from unitdb_spark.operators.graph import kcore

        if not edges:
            return
        rounds = 3
        adj: dict = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        alive = set(adj)
        for _ in range(rounds):
            alive = {n for n in alive if len(adj[n] & alive) >= k}
        want = {n: len(adj[n] & alive) for n in alive}
        e = spark.createDataFrame(edges, ["src", "dst"])
        sym = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        try:
            got = {
                r.node: r.deg
                for r in kcore(sym, k=k, rounds=rounds).collect()
            }
        finally:
            spark.catalog.clearCache()
        assert got == want


class TestHitsProperty:
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 5), st.integers(100, 106)),
            min_size=1,
            max_size=20,
        ).map(lambda es: sorted(set(es)))
    )
    @settings(max_examples=8, deadline=None)
    def test_integer_hits_matches_model(self, spark, edges):
        """The integer-quotient-normalized HITS == the independent
        Python fold, hub and auth sides both, bit for bit."""
        from unitdb_spark.operators.graph import HITS_SCALE, hits_bipartite

        scale, iters = HITS_SCALE, 2
        hubs = sorted({c for c, _ in edges})
        auths = sorted({p for _, p in edges})
        hub = {c: scale for c in hubs}
        auth: dict = {}
        for _ in range(iters):
            raw = {p: sum(hub[c] for c, q in edges if q == p) for p in auths}
            q_ = max(1, sum(raw.values()) // (scale * len(auths)))
            auth = {p: raw[p] // q_ for p in auths}
            raw = {c: sum(auth[p] for d, p in edges if d == c) for c in hubs}
            q_ = max(1, sum(raw.values()) // (scale * len(hubs)))
            hub = {c: raw[c] // q_ for c in hubs}
        df = spark.createDataFrame(edges, ["c", "p"])
        try:
            rows = hits_bipartite(df, "c", "p", iterations=iters).collect()
        finally:
            spark.catalog.clearCache()
        assert {r.node: r.score for r in rows if r.side == "auth"} == auth
        assert {r.node: r.score for r in rows if r.side == "hub"} == hub
