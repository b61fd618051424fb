"""Operator unit tests: as-of join, range join, KV emulation, security
keys, dedup/similarity sanity."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)

from unitdb_spark.core.model import MASTER_CONTRACT as MASTER  # noqa: E402


def ts(s: float) -> dt.datetime:
    return T0 + dt.timedelta(seconds=s)


class TestAsofJoin:
    def test_backward_asof(self, spark):
        from unitdb_spark.operators.asof import asof_join

        trades = spark.createDataFrame(
            [(1, ts(10), 100.0), (1, ts(20), 101.0), (2, ts(15), 50.0)],
            "uid long, ts timestamp, price double",
        )
        quotes = spark.createDataFrame(
            [(1, ts(5), 99.0), (1, ts(12), 99.5), (1, ts(30), 98.0), (2, ts(40), 51.0)],
            "uid long, ts timestamp, quote double",
        )
        out = asof_join(trades, quotes, by=["uid"]).toPandas().set_index(["uid", "ts"])
        assert out.loc[(1, ts(10)), "quote_r"] == 99.0
        assert out.loc[(1, ts(20)), "quote_r"] == 99.5
        assert out.loc[(2, ts(15))].isna()["quote_r"]  # nothing before

    def test_forward_asof(self, spark):
        from unitdb_spark.operators.asof import asof_join

        trades = spark.createDataFrame(
            [(1, ts(10), 100.0), (1, ts(20), 101.0), (2, ts(50), 50.0)],
            "uid long, ts timestamp, price double",
        )
        quotes = spark.createDataFrame(
            [(1, ts(5), 99.0), (1, ts(12), 99.5), (1, ts(30), 98.0), (2, ts(40), 51.0)],
            "uid long, ts timestamp, quote double",
        )
        out = (
            asof_join(trades, quotes, by=["uid"], direction="forward")
            .toPandas()
            .set_index(["uid", "ts"])
        )
        assert out.loc[(1, ts(10)), "quote_r"] == 99.5   # earliest >= 10 is ts 12
        assert out.loc[(1, ts(20)), "quote_r"] == 98.0   # earliest >= 20 is ts 30
        assert out.loc[(2, ts(50))].isna()["quote_r"]    # nothing after

    def test_forward_tolerance(self, spark):
        from unitdb_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, ts(100))], "uid long, ts timestamp")
        right = spark.createDataFrame([(1, ts(150), 7.0)], "uid long, ts timestamp, v double")
        near = asof_join(left, right, by=["uid"], direction="forward", tolerance_seconds=60).collect()[0]
        far = asof_join(left, right, by=["uid"], direction="forward", tolerance_seconds=30).collect()[0]
        assert near["v_r"] == 7.0 and far["v_r"] is None

    def test_matched_row_is_atomic_null_field_not_backfilled(self, spark):
        """A NULL field in the matched right row must surface as NULL —
        not be backfilled from an older right row."""
        from unitdb_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, ts(360))], "uid long, ts timestamp")
        right = spark.createDataFrame(
            [(1, ts(0), 5.0), (1, ts(300), None)],
            "uid long, ts timestamp, px double",
        )
        out = asof_join(left, right, by=["uid"]).collect()[0]
        assert out["matched_ts_r"] == ts(300)
        assert out["px_r"] is None  # from the 300s row, not the 0s row
        # and with tolerance: the matched row is in range, px stays NULL
        out2 = asof_join(left, right, by=["uid"], tolerance_seconds=120).collect()[0]
        assert out2["px_r"] is None and out2["matched_ts_r"] == ts(300)

    def test_equal_ts_matches(self, spark):
        from unitdb_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, ts(10))], "uid long, ts timestamp")
        right = spark.createDataFrame([(1, ts(10), 7.0)], "uid long, ts timestamp, v double")
        out = asof_join(left, right, by=["uid"]).collect()[0]
        assert out["v_r"] == 7.0  # ties: right-at-same-instant matches

    def test_tolerance(self, spark):
        from unitdb_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, ts(100))], "uid long, ts timestamp")
        right = spark.createDataFrame([(1, ts(10), 7.0)], "uid long, ts timestamp, v double")
        out = asof_join(left, right, by=["uid"], tolerance_seconds=30).collect()[0]
        assert out["v_r"] is None  # 90s gap > 30s tolerance

    def test_no_python_stage(self, spark):
        from unitdb_spark.operators.asof import asof_join
        from unitdb_spark.plans.explain import has_python_eval

        left = spark.createDataFrame([(1, ts(1), 1.0)], "uid long, ts timestamp, x double")
        right = spark.createDataFrame([(1, ts(0), 2.0)], "uid long, ts timestamp, y double")
        assert not has_python_eval(asof_join(left, right, by=["uid"]))


class TestRangeJoin:
    def test_bucketed_interval_join(self, spark):
        from unitdb_spark.operators.asof import range_join_bucketed

        points = spark.createDataFrame(
            [(i, ts(i * 100)) for i in range(10)], "pid long, ts timestamp"
        )
        intervals = spark.createDataFrame(
            [(100, ts(150), ts(450)), (200, ts(800), ts(950))],
            "iid long, lo timestamp, hi timestamp",
        )
        out = range_join_bucketed(points, intervals, "ts", "lo", "hi", bucket_seconds=300)
        got = {(r["pid"], r["iid"]) for r in out.collect()}
        assert got == {(2, 100), (3, 100), (4, 100), (8, 200), (9, 200)}


class TestKV:
    """F4 fixture semantics (memdb/db_test.go:24-92)."""

    @pytest.fixture()
    def oplog(self, spark):
        rows = []
        order = 0
        for i in range(255):  # puts: "msg." + chr(i)
            order += 1
            rows.append((i, ("msg.%c" % (i % 64 + 32)).encode(), "put", order))
        for i in range(0, 255, 5):  # delete every 5th
            order += 1
            rows.append((i, None, "delete", order))
        for i in range(0, 255, 10):  # re-put every 10th
            order += 1
            rows.append((i, b"again", "put", order))
        return spark.createDataFrame(
            rows, "key long, value binary, op string, op_order long"
        )

    def test_last_write_wins_and_deletes(self, spark, oplog):
        from unitdb_spark.operators.kv import kv_count, kv_get, kv_state

        # deleted-but-not-reput keys invisible; re-put keys live again
        assert kv_get(oplog, 5) is None
        assert kv_get(oplog, 10) == b"again"
        assert kv_get(oplog, 7) == b"msg.%c" % (7 % 64 + 32)
        # 255 - (deleted every 5: 51) + (re-put every 10: 26)
        assert kv_count(oplog) == 255 - 51 + 26

    def test_point_in_time_lookup(self, spark, oplog):
        from unitdb_spark.operators.kv import kv_state

        state_before_deletes = kv_state(oplog, as_of_order=255)
        assert state_before_deletes.count() == 255


class TestSecurityKeys:
    SECRET = b"unit-test-secret"

    def test_roundtrip_and_wildcards(self):
        from unitdb_spark.core.security import (
            ALLOW_READ,
            ALLOW_WRITE,
            generate_key,
            validate_key,
        )

        key = generate_key(self.SECRET, "teams.alpha.*", ALLOW_READ)
        assert validate_key(self.SECRET, key, "teams.alpha.ch1", ALLOW_READ)
        assert not validate_key(self.SECRET, key, "teams.beta.ch1", ALLOW_READ)
        assert not validate_key(self.SECRET, key, "teams.alpha.ch1", ALLOW_WRITE)

    def test_forgery_and_expiry(self):
        from unitdb_spark.core.security import ALLOW_READ, generate_key, validate_key

        key = generate_key(self.SECRET, "a.b", ALLOW_READ, ttl_seconds=60, now=1000.0)
        assert validate_key(self.SECRET, key, "a.b", ALLOW_READ, now=1030.0)
        assert not validate_key(self.SECRET, key, "a.b", ALLOW_READ, now=2000.0)
        assert not validate_key(b"other-secret", key, "a.b", ALLOW_READ, now=1030.0)
        assert not validate_key(self.SECRET, key[:-4] + "AAAA", "a.b", ALLOW_READ, now=1030.0)

    def test_contract_scoping(self):
        from unitdb_spark.core.security import ALLOW_ALL, generate_key, validate_key

        key = generate_key(self.SECRET, "a.b", ALLOW_ALL, contract=42)
        assert validate_key(self.SECRET, key, "a.b", ALLOW_ALL, contract=42)
        assert not validate_key(self.SECRET, key, "a.b", ALLOW_ALL, contract=7)

    def test_no_privilege_escalation_via_broad_request(self):
        """A narrow grant must NOT validate a broader wildcard request
        (validation is containment, not the symmetric query match)."""
        from unitdb_spark.core.security import ALLOW_READ, generate_key, validate_key

        narrow = generate_key(self.SECRET, "teams.alpha", ALLOW_READ)
        assert validate_key(self.SECRET, narrow, "teams.alpha", ALLOW_READ)
        assert not validate_key(self.SECRET, narrow, "teams.*", ALLOW_READ)
        assert not validate_key(self.SECRET, narrow, "...", ALLOW_READ)
        assert not validate_key(self.SECRET, narrow, "teams...", ALLOW_READ)
        # wildcard grant covers narrower requests, not broader ones
        wild = generate_key(self.SECRET, "teams.*", ALLOW_READ)
        assert validate_key(self.SECRET, wild, "teams.alpha", ALLOW_READ)
        assert validate_key(self.SECRET, wild, "teams.*", ALLOW_READ)
        assert not validate_key(self.SECRET, wild, "teams...", ALLOW_READ)
        assert not validate_key(self.SECRET, wild, "teams.a.b", ALLOW_READ)
        tail = generate_key(self.SECRET, "teams...", ALLOW_READ)
        assert validate_key(self.SECRET, tail, "teams.a.b", ALLOW_READ)
        assert validate_key(self.SECRET, tail, "teams.*...", ALLOW_READ)
        assert not validate_key(self.SECRET, tail, "...", ALLOW_READ)

    def test_zero_ttl_key_is_expired(self):
        from unitdb_spark.core.security import ALLOW_READ, generate_key, validate_key

        key = generate_key(self.SECRET, "a.b", ALLOW_READ, ttl_seconds=0, now=1000.0)
        assert not validate_key(self.SECRET, key, "a.b", ALLOW_READ, now=1001.0)
        # pinned epoch-adjacent clock is honored, not replaced by wall time
        expired = generate_key(self.SECRET, "a.b", ALLOW_READ, ttl_seconds=60, now=1.0)
        assert not validate_key(self.SECRET, expired, "a.b", ALLOW_READ, now=100.0)
        assert validate_key(self.SECRET, expired, "a.b", ALLOW_READ, now=30.0)


class TestDedupSanity:
    def test_exact_dedup_finds_planted_dup(self, spark):
        from unitdb_spark.operators.dedup import exact_dedup

        df = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "other")],
            "doc_id long, text string",
        )
        out = {r["keep_id"]: r["dup_count"] for r in exact_dedup(df).collect()}
        assert out == {1: 2, 3: 1}

    def test_line_dedup_removes_corpus_duplicates(self, spark):
        """The C4 rule: a line appearing min_count+ times anywhere in
        the corpus is dropped from every doc; unique lines keep their
        original order. A doc that is all boilerplate comes back
        empty, not missing."""
        from unitdb_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [
                (1, "alpha\nCOOKIE NOTICE\nbeta"),
                (2, "COOKIE NOTICE\ngamma"),
                (3, "COOKIE NOTICE"),
                (4, "delta\nepsilon"),
            ],
            "doc_id long, text string",
        )
        out = {r["id"]: r for r in line_dedup(df, min_count=2).collect()}
        assert out[1]["text"] == "alpha\nbeta" and out[1]["n_removed"] == 1
        assert out[2]["text"] == "gamma"
        assert out[3]["text"] == "" and out[3]["n_removed"] == 1
        assert out[4]["text"] == "delta\nepsilon" and out[4]["n_removed"] == 0
        assert {r["n_lines"] for r in out.values()} == {3, 2, 1, 2}

    def test_line_dedup_hash_key_variant_agrees(self, spark):
        from unitdb_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [(1, "a\nb\nc"), (2, "b\nd"), (3, "c\nb")],
            "doc_id long, text string",
        )
        exact = sorted(line_dedup(df).collect())
        hashed = sorted(line_dedup(df, hash_key=True).collect())
        assert exact == hashed

    def test_minhash_finds_near_dup(self, spark):
        from unitdb_spark.operators.dedup import minhash_lsh_pairs

        base = "the quick brown fox jumps over the lazy dog " * 5
        df = spark.createDataFrame(
            [(1, base), (2, base + "extra tail"), (3, "completely different words here entirely")],
            "doc_id long, text string",
        )
        pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df, num_hashes=16, bands=4).collect()}
        assert (1, 2) in pairs and (1, 3) not in pairs

    def test_minhash_md5_variant_agrees(self, spark):
        """The engine-portable md5 hash family finds the same planted
        near-dup, and distinct salts produce distinct signature rows."""
        from unitdb_spark.operators.dedup import minhash_lsh_pairs_md5

        base = "the quick brown fox jumps over the lazy dog " * 5
        df = spark.createDataFrame(
            # identical text -> jaccard 1.0 -> every band collides,
            # independent of hash family
            [(1, base), (2, base), (3, "completely different words here entirely")],
            "doc_id long, text string",
        )
        rows = minhash_lsh_pairs_md5(df, num_hashes=16, bands=4).collect()
        pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in rows}
        assert (1, 2) in pairs and (1, 3) not in pairs
        assert pairs[(1, 2)] == 1.0

    def test_lsh_degenerate_bucket_cap(self, spark):
        """10k identical docs share every (band, bucket); without the
        cap the self-join builds ~50M pairs in one task. With the cap
        they are dropped (exact_dedup's job), the planted near-dup in
        the long tail survives, and the overflow report names the
        degenerate buckets."""
        from unitdb_spark.operators.dedup import (
            lsh_overflow_report,
            minhash_lsh_pairs,
        )

        boiler = [(i, "lorem ipsum dolor sit amet " * 4) for i in range(10_000)]
        base = "the quick brown fox jumps over the lazy dog " * 5
        df = spark.createDataFrame(
            boiler + [(20_001, base), (20_002, base + "extra tail")],
            "doc_id long, text string",
        )
        pairs = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(
                df, num_hashes=16, bands=4, max_bucket_size=100
            ).collect()
        }
        assert (20_001, 20_002) in pairs
        assert not any(a < 10_000 for a, _ in pairs)  # boilerplate dropped
        report = lsh_overflow_report(
            df, num_hashes=16, bands=4, max_bucket_size=100
        ).collect()
        assert len(report) == 4  # one degenerate bucket per band
        assert all(r["n_docs"] == 10_000 for r in report)
        assert all(len(r["sample_ids"]) == 10 for r in report)

    def test_simhash_md5_hamming_locality(self, spark):
        from unitdb_spark.operators.dedup import simhash64_md5

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta"),
             (2, "alpha beta gamma delta epsilon zeta eta iota"),
             (3, "one two three four five six seven eight")],
            "doc_id long, text string",
        ).select("doc_id", simhash64_md5("text").alias("h"))
        rows = {r["doc_id"]: r["h"] for r in df.collect()}
        assert all(0 <= h < (1 << 60) for h in rows.values())  # 60-bit, positive
        near = bin(rows[1] ^ rows[2]).count("1")
        far = bin(rows[1] ^ rows[3]).count("1")
        assert near < far

    def test_fingerprint_md5_order_sensitive(self, spark):
        from unitdb_spark.functions.text import fingerprint64_md5

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "c b a"), (3, "a  b \t c")],
            "doc_id long, text string",
        ).select("doc_id", fingerprint64_md5("text").alias("f"))
        rows = {r["doc_id"]: r["f"] for r in df.collect()}
        assert rows[1] != rows[2]       # order matters
        assert rows[1] == rows[3]       # whitespace-normalized

    def test_simhash_hamming_locality(self, spark):
        from unitdb_spark.operators.dedup import hamming64, simhash64

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta"),
             (2, "alpha beta gamma delta epsilon zeta eta iota"),
             (3, "one two three four five six seven eight")],
            "doc_id long, text string",
        ).select("doc_id", simhash64("text").alias("h"))
        mask = (1 << 64) - 1  # Spark longs are signed; XOR in uint64 space
        rows = {r["doc_id"]: r["h"] & mask for r in df.collect()}
        near = bin(rows[1] ^ rows[2]).count("1")
        far = bin(rows[1] ^ rows[3]).count("1")
        assert near < far


class TestPipelineOps:
    def test_decontaminate_flags_benchmark_copy(self, spark):
        from unitdb_spark.operators.decontam import decontaminate

        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),  # copy
                (2, "completely unrelated words with no overlap at all here"),
                (3, "prefix words then the quick brown fox jumps over the lazy dog"),
            ],
            "doc_id long, text string",
        )
        out = {r["id"]: r for r in decontaminate(docs, bench, n=3).collect()}
        assert out[1]["contaminated"] and out[1]["overlap_frac"] == 1.0
        assert not out[2]["contaminated"] and out[2]["n_contaminated"] == 0
        assert out[3]["contaminated"]  # high-overlap superset doc

    def test_bloom_decontaminate_equals_exact(self, spark):
        """Bloom pre-filter + exact confirm must be bit-identical to the
        exact pass (no false negatives by Bloom guarantee, false
        positives removed by confirm) — even with a deliberately tiny,
        collision-heavy bitset."""
        from unitdb_spark.operators.decontam import bloom_decontaminate, decontaminate

        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely unrelated words with no overlap at all here"),
                (3, "prefix words then the quick brown fox jumps over the lazy dog"),
                (4, "fox"),  # shorter than n -> single degenerate gram
            ],
            "doc_id long, text string",
        )
        exact = {tuple(r) for r in decontaminate(docs, bench, n=3).collect()}
        # m_bits=256 forces heavy bit collisions: confirm must clean up
        bloom = {
            tuple(r)
            for r in bloom_decontaminate(docs, bench, n=3, m_bits=256, k=2).collect()
        }
        assert bloom == exact

    def test_bloom_build_bounded(self, spark):
        """The bitset table never exceeds m_bits/64 rows no matter the
        input cardinality (that bound is the whole scale story)."""
        from unitdb_spark.operators.decontam import bloom_build

        vals = spark.range(5000).select(F.col("id").cast("string").alias("v"))
        words = bloom_build(vals, "v", m_bits=1024, k=3)
        assert words.count() <= 1024 // 64

    def test_classify_trained_weights_math(self, spark):
        """Broadcast-join path: hand-check sigmoid(mean bucket weight)
        against a tiny trained table; unknown buckets weigh 0."""
        import math

        from unitdb_spark.operators.classify import _bucket, classify_score

        docs = spark.createDataFrame(
            [(1, "good good"), (2, "")], "doc_id long, text string"
        )
        # features of doc 1: ["good", "good", "good good"] (bag semantics)
        b_uni = spark.range(1).select(_bucket(F.lit("good"), 64).alias("b")).head()[0]
        b_bi = (
            spark.range(1).select(_bucket(F.lit("good good"), 64).alias("b")).head()[0]
        )
        w = {b_uni: 2.0}
        w[b_bi] = w.get(b_bi, 0.0) + 1.0  # collision-safe accumulate
        weights = spark.createDataFrame(
            [(int(k), float(v)) for k, v in w.items()], "bucket long, weight double"
        )
        out = {
            r["id"]: r
            for r in classify_score(docs, weights_df=weights, n_buckets=64).collect()
        }
        if b_uni == b_bi:  # degenerate collision: all three feats share w
            expect_z = (3 * w[b_uni]) / 3
        else:
            expect_z = (2 * 2.0 + 1.0) / 3
        assert abs(out[1]["score"] - 1 / (1 + math.exp(-expect_z))) < 1e-9
        assert out[1]["n_feats"] == 3 and out[1]["label"]
        # empty doc: zero features -> sigmoid(bias=0) = 0.5 -> label True
        assert out[2]["n_feats"] == 0 and abs(out[2]["score"] - 0.5) < 1e-12

    def test_classify_hash_path_matches_trained_path(self, spark):
        """The zero-join expression path and the explode+join path must
        agree when the join table holds exactly the hash weights."""
        from unitdb_spark.operators.classify import (
            _bucket,
            _hash_weight,
            classify_score,
        )

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(["a b c", "c d", "a", ""])],
            "doc_id long, text string",
        )
        nb = 32
        weights = (
            spark.range(nb)
            .select(F.col("id").alias("bucket"))
            .select("bucket", _hash_weight(F.col("bucket")).alias("weight"))
        )
        fast = {r["id"]: r["score"] for r in classify_score(docs, n_buckets=nb).collect()}
        slow = {
            r["id"]: r["score"]
            for r in classify_score(docs, weights_df=weights, n_buckets=nb).collect()
        }
        assert fast.keys() == slow.keys()
        for k in fast:
            assert abs(fast[k] - slow[k]) < 1e-12

    def test_source_mixture_weights_sum_to_one(self, spark):
        from unitdb_spark.operators.mixture import source_mixture

        docs = spark.createDataFrame(
            [(i, "tok " * (10 if i % 2 else 40), f"s{i % 2}") for i in range(20)],
            "doc_id long, text string, source string",
        )
        rows = source_mixture(docs, alpha=0.5, budget_tokens=1000).collect()
        assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-5
        by_src = {r["source"]: r for r in rows}
        # alpha=0.5 flattens: the 4x-token source gets only 2x the weight
        ratio = by_src["s0"]["weight"] / by_src["s1"]["weight"]
        assert abs(ratio - 2.0) < 0.01
        # epochs * n_tokens == budget * weight
        for r in rows:
            assert abs(r["epochs"] * r["n_tokens"] - 1000 * r["weight"]) < 0.5

    def test_source_cap_admission(self, spark):
        """Cap honored in content-hash order; the first doc of a source
        is always admitted even when it alone blows the quota."""
        from unitdb_spark.operators.mixture import source_cap

        docs = spark.createDataFrame(
            [(1, "a " * 50, "big"), (2, "b " * 50, "big"), (3, "c " * 999, "solo")],
            "doc_id long, text string, source string",
        )
        out = {r["id"]: r for r in source_cap(docs, cap_tokens=60).collect()}
        kept_big = [i for i in (1, 2) if out[i]["kept"]]
        assert len(kept_big) == 1  # second 50-token doc passes the 60 cap
        assert out[3]["kept"] and out[3]["n_tokens"] == 999  # oversize first doc

    def test_pack_sequences_bin_math(self, spark):
        from unitdb_spark.operators.packing import pack_sequences

        # 4 docs of 3 tokens each, ctx=5, one shard: offsets 0,3,6,9
        docs = spark.createDataFrame(
            [(i, "a b c") for i in range(4)], "doc_id long, text string"
        )
        out = {
            r["id"]: (r["bin_id"], r["bin_offset"])
            for r in pack_sequences(docs, ctx_tokens=5, n_shards=1).collect()
        }
        assert out == {0: (0, 0), 1: (0, 3), 2: (1, 1), 3: (1, 4)}

    def test_connected_components_chain_and_singleton(self, spark):
        from unitdb_spark.operators.cluster import dup_clusters

        docs = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 9)], "doc_id long"
        )
        pairs = spark.createDataFrame(
            [(2, 3), (1, 2)], "id_a long, id_b long"  # chain 1-2-3
        )
        out = {
            r["doc_id"]: (r["cluster_id"], r["is_keeper"])
            for r in dup_clusters(docs, pairs).collect()
        }
        assert out == {1: (1, True), 2: (1, False), 3: (1, False), 9: (9, True)}

    def test_connected_components_long_path_pointer_jumping(self, spark):
        """Diameter-40 path: plain min-label propagation needs 40
        rounds (> the 25-round loud cap); the round-10 pointer-jumping
        step converges in ~log2(40) rounds, so this must succeed AND
        label everything with the minimum."""
        from unitdb_spark.operators.cluster import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "id_a long, id_b long"
        )
        out = {
            r.node: r.cluster_id for r in connected_components(edges).collect()
        }
        assert len(out) == 41 and set(out.values()) == {0}

    def test_scrub_pii_redacts_and_counts(self, spark):
        from unitdb_spark.functions.text import (
            pii_email_count,
            pii_ipv4_count,
            scrub_pii,
        )

        df = spark.createDataFrame(
            [(1, "mail a.user+x@test.org then 192.168.0.1 and b@c.io done")],
            "doc_id long, text string",
        ).select(
            pii_email_count("text").alias("e"),
            pii_ipv4_count("text").alias("i"),
            scrub_pii("text").alias("t"),
        )
        r = df.collect()[0]
        assert r["e"] == 2 and r["i"] == 1
        assert r["t"] == "mail <EMAIL> then <IP> and <EMAIL> done"

    def test_normalize_text(self, spark):
        """NFC composes combining sequences, control bytes are
        stripped, whitespace runs collapse, nulls pass through."""
        from unitdb_spark.functions.text import normalize_text

        df = spark.createDataFrame(
            [
                (1, "café x"),          # decomposed e+acute
                (2, "a\x07b\t\t c\n\nd "),    # BEL + messy whitespace
                (3, None),
                (4, "café x"),           # already composed
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r["t"]
            for r in df.select(
                "doc_id", normalize_text("text").alias("t")
            ).collect()
        }
        assert out[1] == "café x" and out[1] == out[4]
        assert out[2] == "ab c d"
        assert out[3] is None


class TestOlap:
    def test_rollup_levels(self, spark):
        from unitdb_spark.operators.olap import rollup_agg

        df = spark.createDataFrame(
            [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)],
            "k1 string, k2 string, v long",
        )
        out = rollup_agg(df, ["k1", "k2"], [F.sum("v").alias("s")])
        rows = {
            (r["k1"], r["k2"], r["grouping_id"]): r["s"] for r in out.collect()
        }
        assert rows[("a", "x", 0)] == 1 and rows[("a", "y", 0)] == 2
        assert rows[("a", None, 1)] == 3 and rows[("b", None, 1)] == 4
        assert rows[(None, None, 3)] == 7

    def test_cube_has_all_grouping_sets(self, spark):
        from unitdb_spark.operators.olap import cube_agg

        df = spark.createDataFrame(
            [("a", "x", 1), ("b", "y", 2)], "k1 string, k2 string, v long"
        )
        out = cube_agg(df, ["k1", "k2"], [F.sum("v").alias("s")])
        assert {r["grouping_id"] for r in out.collect()} == {0, 1, 2, 3}

    def test_pivot_explicit_values(self, spark):
        from unitdb_spark.operators.olap import pivot_counts

        df = spark.createDataFrame(
            [(1, "a"), (1, "a"), (1, "b"), (2, "b")], "k long, t string"
        )
        out = {
            r["k"]: (r["a"], r["b"], r["c"])
            for r in pivot_counts(df, "k", "t", ["a", "b", "c"]).collect()
        }
        assert out[1] == (2, 1, None) and out[2] == (None, 1, None)

    def test_running_agg_windows(self, spark):
        from unitdb_spark.operators.olap import running_agg

        df = spark.createDataFrame(
            [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 30.0), (2, 1, 5.0)],
            "k long, seq long, value double",
        )
        out = running_agg(df, ["k"], ["seq"], "value", moving_n=2)
        rows = {(r["k"], r["seq"]): r for r in out.collect()}
        assert rows[(1, 3)]["running_sum"] == 60.0
        assert rows[(1, 3)]["moving_avg_2"] == 25.0
        assert rows[(1, 3)]["delta_prev"] == 10.0
        assert rows[(1, 1)]["delta_prev"] is None
        assert rows[(2, 1)]["running_sum"] == 5.0

    def test_running_agg_single_window_node(self, spark):
        """All three window functions share one WindowSpec — the plan
        must contain exactly one Window node (one shuffle + one sort
        serves everything)."""
        import re

        from unitdb_spark.operators.olap import running_agg
        from unitdb_spark.plans.explain import formatted_plan, shuffle_count

        df = spark.createDataFrame(
            [(1, 1, 1.0)], "k long, seq long, value double"
        )
        out = running_agg(df, ["k"], ["seq"], "value")
        assert len(re.findall(r"\(\d+\) Window", formatted_plan(out))) == 1
        assert shuffle_count(out) == 1


class TestSimilaritySanity:
    def test_int8_quantize_roundtrip(self, spark):
        """qvec is a true array<tinyint>, |q| <= 127, zero vectors
        survive (scale guard), and the quantized cosine tracks the
        float cosine to ~1e-2."""
        from unitdb_spark.operators.similarity import (
            cosine_expr,
            int8_cosine_topk,
            quantize_int8,
        )

        rows = [
            (1, [1.0, 0.0, 0.5, -0.25]),
            (2, [0.9, 0.1, 0.6, -0.2]),
            (3, [-1.0, 2.0, 0.0, 0.0]),
            (4, [0.0, 0.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        qz = quantize_int8(df)
        assert dict(qz.dtypes)["qvec"] == "array<tinyint>"
        for r in qz.collect():
            assert all(abs(v) <= 127 for v in r["qvec"])
        assert qz.filter("vec_id = 4").collect()[0]["qvec"] == [0, 0, 0, 0]

        queries = df.filter("vec_id = 1").selectExpr(
            "vec_id AS query_id", "embedding"
        )
        got = {
            r["vec_id"]: r["cosine_sim"]
            for r in int8_cosine_topk(
                df.filter("vec_id != 4"), queries, k=3
            ).collect()
        }
        exact = {
            r["vec_id"]: r["c"]
            for r in df.filter("vec_id = 2 OR vec_id = 3")
            .crossJoin(df.filter("vec_id = 1").selectExpr("embedding AS q"))
            .select("vec_id", cosine_expr("embedding", "q").alias("c"))
            .collect()
        }
        for vid, c in exact.items():
            assert abs(got[vid] - c) < 1e-2, (vid, got[vid], c)

    def test_cosine_topk_self_similarity(self, spark):
        from unitdb_spark.operators.similarity import cosine_topk

        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
            "vec_id long, embedding array<float>",
        )
        q = emb.filter("vec_id = 1").select(F.col("vec_id").alias("query_id"), "embedding")
        out = cosine_topk(emb, q, k=1).collect()[0]
        assert out["vec_id"] == 2  # nearest non-self

    def test_ivf_assign_covers_all(self, spark):
        from unitdb_spark.operators.similarity import ivf_assign

        emb = spark.createDataFrame(
            [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(50)],
            "vec_id long, embedding array<float>",
        )
        assigned, cents = ivf_assign(emb, n_cells=4)
        assert assigned.count() == 50
        assert assigned.select("cell").distinct().count() <= 4

    def test_ivf_centroid_prefilter_is_exact(self, spark):
        """The hash-threshold pre-filter (reads ~N/256 rows into the
        TakeOrdered heap) must choose bit-identical centroids to the
        full ORDER BY md5 LIMIT n — the SQL oracle replays the latter."""
        from unitdb_spark.operators.similarity import ivf_assign

        n = 10_000  # large enough that the pre-filter path is taken
        emb = spark.createDataFrame(
            [(i, [float(i % 7), 1.0]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )
        _, cents = ivf_assign(emb, n_cells=16)
        got = sorted(r["cent_id"] for r in cents.collect())
        want = sorted(
            r[0]
            for r in emb.select(F.col("vec_id").alias("cent_id"))
            .orderBy(F.md5(F.concat(F.col("cent_id").cast("string"), F.lit(":42"))), "cent_id")
            .limit(16)
            .collect()
        )
        assert got == want

    def test_ivf_topk_finds_exact_match(self, spark):
        from unitdb_spark.operators.similarity import ivf_topk

        # clustered data: an in-cell exact duplicate must rank first
        rows = [(i, [float(i % 4) + 0.01 * i, 1.0]) for i in range(40)]
        rows.append((100, rows[0][1]))  # duplicate of vec 0
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = emb.filter("vec_id = 0").select(F.col("vec_id").alias("query_id"), "embedding")
        out = ivf_topk(emb, q, k=1, n_cells=4, n_probe=4).collect()
        assert out and out[0]["vec_id"] == 100
        assert abs(out[0]["cosine_sim"] - 1.0) < 1e-9

    def test_embedding_cosine_dups_blocked(self, spark):
        from unitdb_spark.operators.similarity import embedding_cosine_dups

        emb = spark.createDataFrame(
            [
                (1, "a", [1.0, 0.0]),
                (2, "a", [0.99, 0.01]),   # near-dup of 1, same block
                (3, "b", [1.0, 0.0]),      # identical to 1 but other block
                (4, "a", [0.0, 1.0]),      # orthogonal
            ],
            "vec_id long, label string, embedding array<float>",
        )
        pairs = embedding_cosine_dups(emb, threshold=0.95, block_col="label").collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
        import pytest

        with pytest.raises(ValueError):
            embedding_cosine_dups(emb, threshold=0.9)


class TestGetMany:
    def test_fused_equals_individual_gets(self, spark):
        from unitdb_spark.core.model import Query
        from unitdb_spark.operators.get import apply_get, apply_get_many
        from unitdb_spark.table import with_topic_columns

        import datetime as dt

        rows = [
            (MASTER, f"t.{i % 3}.x", i, dt.datetime(2024, 1, 1, 0, 0, i), None, b"p")
            for i in range(50)
        ]
        df = with_topic_columns(
            spark.createDataFrame(
                rows,
                "contract long, topic string, seq long, ts timestamp, "
                "expires_at timestamp, payload binary",
            )
        )
        queries = [Query("t.0.x", limit=5), Query("t.*.x", limit=7), Query("t.1.x")]
        now = dt.datetime(2024, 1, 1, 1, 0, 0)
        fused = apply_get_many(df, queries, now=now)
        for qi, q in enumerate(queries):
            got = sorted(
                r["seq"] for r in fused.filter(F.col("query_id") == qi).collect()
            )
            want = sorted(r["seq"] for r in apply_get(df, q, now=now).collect())
            assert got == want, f"query {qi}"

    def test_single_scan(self, spark):
        """The fused plan reads the source once (one scan node), vs N
        scans for N separate gets."""
        from unitdb_spark.core.model import Query
        from unitdb_spark.operators.get import apply_get_many
        from unitdb_spark.plans.explain import formatted_plan

        from unitdb_spark.plans.explain import scan_info
        from unitdb_spark.sources.events import messages_from_events

        msgs = messages_from_events(spark, "/root/testdata/sf0.001")
        fused = apply_get_many(msgs, [Query("events.click.u1"), Query("events.view.u2")])
        assert len(scan_info(fused)["read_schema"]) == 1  # ONE scan for N queries


class TestChunking:
    def test_windows_and_overlap(self, spark):
        from unitdb_spark.functions.text import chunk_documents

        text = " ".join(f"w{i}" for i in range(25))  # 25 tokens
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        chunks = {
            r["chunk_idx"]: r for r in chunk_documents(df, max_tokens=10, overlap=2).collect()
        }
        # stride 8: starts 0,8,16,24 -> 4 chunks
        assert set(chunks) == {0, 1, 2, 3}
        assert chunks[0]["chunk_text"].split() == [f"w{i}" for i in range(10)]
        assert chunks[1]["chunk_text"].split() == [f"w{i}" for i in range(8, 18)]
        assert chunks[3]["chunk_text"].split() == ["w24"]  # tail remainder
        assert chunks[3]["n_tokens"] == 1

    def test_rejects_bad_overlap(self, spark):
        from unitdb_spark.functions.text import chunk_documents

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError):
            chunk_documents(df, max_tokens=8, overlap=8)


class TestRepetition:
    def test_boilerplate_scores_high(self, spark):
        from unitdb_spark.functions.text import ngram_repetition

        spam = " ".join(["click here now"] * 10)
        prose = " ".join(f"unique{i} word{i} here{i}" for i in range(10))
        df = spark.createDataFrame(
            [(1, spam), (2, prose)], "doc_id long, text string"
        )
        r = {x["doc_id"]: x["rep_ratio"] for x in ngram_repetition(df).collect()}
        assert r[1] > 0.3 and r[2] < 0.1
        assert r[1] > r[2]


class TestCountMinSketch:
    def test_overestimate_guarantee_and_exactness_when_wide(self, spark):
        from unitdb_spark.operators.cms import cms_build, cms_estimate

        df = spark.createDataFrame(
            [(f"k{i % 20}",) for i in range(2000)], "key string"
        )
        exact = {r["key"]: r["n"] for r in df.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()}
        keys = df.select("key").distinct()
        # narrow grid: estimates are overestimates, never under
        narrow = cms_estimate(cms_build(df, "key", 4, 8), keys, "key", 4, 8)
        for r in narrow.collect():
            assert r["est_count"] >= exact[r["key"]]
        # wide grid (20 keys in 1024 buckets x 4 rows): exact w.h.p.
        wide = cms_estimate(cms_build(df, "key", 4, 1024), keys, "key", 4, 1024)
        assert {r["key"]: r["est_count"] for r in wide.collect()} == exact

    def test_grid_is_bounded(self, spark):
        from unitdb_spark.operators.cms import cms_build

        df = spark.range(10_000).select(F.col("id").cast("string").alias("key"))
        grid = cms_build(df, "key", depth=4, width=32)
        assert grid.count() <= 4 * 32  # independent of key cardinality


class TestSampling:
    def test_split_stable_under_repartition(self, spark):
        from unitdb_spark.operators.sampling import split_assign

        df = spark.range(2000).select(F.col("id").alias("doc_id"))
        ratios = {"train": 0.8, "valid": 0.1, "test": 0.1}
        a = {r["doc_id"]: r["split"] for r in df.select("doc_id", split_assign("doc_id", ratios)).collect()}
        b = {
            r["doc_id"]: r["split"]
            for r in df.repartition(13).select("doc_id", split_assign("doc_id", ratios)).collect()
        }
        assert a == b  # layout-independent
        from collections import Counter

        c = Counter(a.values())
        assert 0.75 < c["train"] / 2000 < 0.85
        assert 0.07 < c["valid"] / 2000 < 0.13
        assert 0.07 < c["test"] / 2000 < 0.13

    def test_deterministic_sample_is_subset_consistent(self, spark):
        from unitdb_spark.operators.sampling import deterministic_sample

        df = spark.range(1000).select(F.col("id").alias("k"))
        s10 = {r["k"] for r in deterministic_sample(df, 0.1, "k").collect()}
        s20 = {r["k"] for r in deterministic_sample(df, 0.2, "k").collect()}
        assert s10 <= s20  # growing the rate only adds rows
        assert 50 < len(s10) < 150 and 130 < len(s20) < 270

    def test_stratified_rates(self, spark):
        from unitdb_spark.operators.sampling import stratified_sample

        df = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("g")
        )
        out = stratified_sample(df, {"0": 1.0, "1": 0.0}, "g", "k").collect()
        assert all(r["g"] == "0" for r in out) and len(out) == 500


class TestTopicRollup:
    def test_every_prefix_aggregated(self, spark):
        from unitdb_spark.operators.rollup import topic_rollup
        from unitdb_spark.table import with_topic_columns

        df = with_topic_columns(
            spark.createDataFrame(
                [
                    (1, "a.b.c", "2024-01-01 00:00:00"),
                    (1, "a.b.d", "2024-01-01 00:00:01"),
                    (1, "a.x", "2024-01-01 00:00:02"),
                    (1, "p.*", "2024-01-01 00:00:03"),  # pattern: excluded
                ],
                "contract long, topic string, ts string",
            ).withColumn("ts", F.to_timestamp("ts"))
        )
        out = {r["topic_prefix"]: r for r in topic_rollup(df).collect()}
        assert set(out) == {"a", "a.b", "a.b.c", "a.b.d", "a.x"}
        assert out["a"]["n_msgs"] == 3 and out["a"]["n_topics"] == 3
        assert out["a.b"]["n_msgs"] == 2 and out["a.b"]["n_topics"] == 2
        assert out["a.b.c"]["n_msgs"] == 1


class TestSaltedAgg:
    def _skewed(self, spark):
        # one hot key with 10k rows, 50 cold keys with 10 each
        hot = [("hot", i, float(i % 7)) for i in range(10_000)]
        cold = [(f"k{j}", i, float(i)) for j in range(50) for i in range(10)]
        return spark.createDataFrame(hot + cold, "key string, seq long, v double")

    def test_matches_plain_groupby(self, spark):
        from unitdb_spark.operators.skew import hash_salt, salted_agg

        df = self._skewed(spark)
        got = salted_agg(
            df,
            ["key"],
            {"n": ("count", "v"), "s": ("sum", "v"), "mx": ("max", "v")},
            salt=hash_salt("seq", 16),
            n_salts=16,
        )
        want = df.groupBy("key").agg(
            F.count("v").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx")
        )
        g = {r["key"]: (r["n"], r["s"], r["mx"]) for r in got.collect()}
        w = {r["key"]: (r["n"], r["s"], r["mx"]) for r in want.collect()}
        assert g == w

    def test_phase1_shuffles_on_salt(self, spark):
        from unitdb_spark.operators.skew import hash_salt, salted_agg

        df = self._skewed(spark)
        out = salted_agg(
            df, ["key"], {"n": ("count", "v")}, salt=hash_salt("seq", 8), n_salts=8
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "_salt" in plan  # first exchange keyed by (key, _salt)

    def test_rejects_non_algebraic(self, spark):
        import pytest

        from unitdb_spark.operators.skew import hash_salt, salted_agg

        with pytest.raises(ValueError):
            salted_agg(
                self._skewed(spark),
                ["key"],
                {"a": ("avg", "v")},
                salt=hash_salt("seq", 8),
            )

    def test_salted_join_replication(self, spark):
        from unitdb_spark.operators.skew import (
            hash_salt,
            replicate_small_for_salted_join,
        )

        big = self._skewed(spark).withColumn("_salt", hash_salt("seq", 4))
        dim = spark.createDataFrame(
            [("hot", "H")] + [(f"k{j}", f"D{j}") for j in range(50)],
            "key string, label string",
        )
        rep = replicate_small_for_salted_join(dim, 4)
        joined = big.join(rep, on=["key", "_salt"])
        assert joined.count() == big.count()  # every row finds its dim


class TestTableProfile:
    def _df(self, spark):
        return spark.createDataFrame(
            [
                (1, "a", 1.5, bytearray(b"\x01"), "2024-01-01 00:00:05"),
                (2, "b", None, bytearray(b"\x02"), "2024-01-01 00:00:09"),
                (3, None, 2.5, None, None),
                (3, "a", 2.5, bytearray(b"\x03"), "2024-01-01 00:00:05"),
            ],
            "id bigint, s string, v double, b binary, t string",
        ).withColumn("t", F.col("t").cast("timestamp"))

    def test_one_row_per_column_typed_slots(self, spark):
        from unitdb_spark.operators.profile import table_profile

        rows = {r["column"]: r for r in table_profile(self._df(spark)).collect()}
        assert set(rows) == {"id", "s", "v", "b", "t"}
        assert rows["id"]["n_rows"] == 4 and rows["id"]["n_nonnull"] == 4
        assert rows["id"]["n_distinct"] == 3
        assert rows["id"]["min_num"] == 1.0 and rows["id"]["max_num"] == 3.0
        assert rows["id"]["min_str"] is None and rows["id"]["min_ts_s"] is None
        assert rows["s"]["n_nonnull"] == 3 and rows["s"]["n_distinct"] == 2
        assert rows["s"]["min_str"] == "a" and rows["s"]["max_str"] == "b"
        assert rows["v"]["n_nonnull"] == 3 and rows["v"]["n_distinct"] == 2
        # opaque binary: presence stats only, every min/max slot NULL
        assert rows["b"]["n_nonnull"] == 3
        assert all(
            rows["b"][k] is None
            for k in ("min_num", "max_num", "min_str", "max_str", "min_ts_s", "max_ts_s")
        )
        assert rows["t"]["min_ts_s"] == 1704067205 and rows["t"]["max_ts_s"] == 1704067209

    def test_column_subset_and_unknown_rejected(self, spark):
        import pytest as _pytest

        from unitdb_spark.operators.profile import table_profile

        out = table_profile(self._df(spark), columns=["id", "s"])
        assert out.count() == 2
        with _pytest.raises(ValueError):
            table_profile(self._df(spark), columns=["nope"])

    def test_approx_path_has_no_expand(self, spark):
        """exact_distinct=False must keep the plan a plain single-pass
        agg — no Expand multiplying the shuffle by profiled columns."""
        from unitdb_spark.operators.profile import table_profile
        from unitdb_spark.plans.explain import formatted_plan

        exact = formatted_plan(table_profile(self._df(spark)))
        approx = formatted_plan(table_profile(self._df(spark), exact_distinct=False))
        assert "Expand" in exact
        assert "Expand" not in approx


class TestKmeans:
    def _emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def test_every_vector_assigned_once(self, spark):
        from unitdb_spark.operators.kmeans import kmeans_lloyd

        emb = self._emb(spark)
        out = kmeans_lloyd(emb, k=4, n_iters=1)
        assert out.count() == emb.count()
        assert out.select("vec_id").distinct().count() == emb.count()
        cells = [r["cell"] for r in out.select("cell").distinct().collect()]
        assert 1 <= len(cells) <= 4

    def test_deterministic_across_runs(self, spark):
        from unitdb_spark.operators.kmeans import kmeans_lloyd

        emb = self._emb(spark)
        a = sorted(map(tuple, kmeans_lloyd(emb, k=4, n_iters=2).collect()))
        b = sorted(map(tuple, kmeans_lloyd(emb, k=4, n_iters=2).collect()))
        assert a == b

    def test_zero_iters_is_init_assignment(self, spark):
        """n_iters=0 assigns to the sampled init centroids — the same
        cells ivf_assign would produce with the same seed/k."""
        from unitdb_spark.operators.kmeans import kmeans_lloyd
        from unitdb_spark.operators.similarity import ivf_assign

        emb = self._emb(spark)
        km = {r["vec_id"]: r["cell"] for r in kmeans_lloyd(emb, k=4, n_iters=0).collect()}
        assigned, _ = ivf_assign(emb, n_cells=4)
        ivf = {r["vec_id"]: r["cell"] for r in assigned.select("vec_id", "cell").collect()}
        assert km == ivf

    def test_iteration_tightens_clusters(self, spark):
        """One Lloyd round must not worsen mean cosine-to-centroid
        (monotone improvement is the algorithm's defining property)."""
        from pyspark.sql import functions as F
        from unitdb_spark.operators.kmeans import _assign, _init_centroids
        from unitdb_spark.operators.similarity import cosine_expr

        emb = self._emb(spark)

        def mean_sim(cents):
            a = _assign(emb, cents, "vec_id", "embedding")
            joined = a.join(
                cents.withColumnRenamed("cent_id", "cell"), on="cell"
            )
            return joined.select(
                F.avg(cosine_expr("_v", "_cent")).alias("m")
            ).first()["m"]

        cents0 = _init_centroids(emb, 4, "vec_id", "embedding", 42)
        a0 = _assign(emb, cents0, "vec_id", "embedding")
        ex = a0.select("cell", F.posexplode("_v").alias("pos", "val"))
        cents1 = (
            ex.groupBy("cell", "pos").agg(F.avg("val").alias("mv"))
            .groupBy("cell")
            .agg(F.transform(F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                             lambda s: s["mv"]).alias("_cent"))
            .select(F.col("cell").alias("cent_id"), "_cent")
        )
        assert mean_sim(cents1) >= mean_sim(cents0) - 1e-9

    def test_no_python_eval_and_rejects_bad_args(self, spark):
        import pytest as _pytest

        from unitdb_spark.operators.kmeans import kmeans_lloyd
        from unitdb_spark.plans.explain import has_python_eval

        emb = self._emb(spark)
        assert not has_python_eval(kmeans_lloyd(emb, k=3, n_iters=1))
        with _pytest.raises(ValueError):
            kmeans_lloyd(emb, k=0)
        with _pytest.raises(ValueError):
            kmeans_lloyd(emb, k=2, n_iters=-1)


class TestTimeseries:
    def _events(self, spark):
        rows = [
            # (event_id, ts, event_type, value)
            (1, T0, "a", 10.0),
            (2, T0 + dt.timedelta(hours=1), "a", 12.0),
            (3, T0 + dt.timedelta(hours=2), "a", 11.0),
            # gap: hours 3-4 empty
            (4, T0 + dt.timedelta(hours=5), "a", 14.0),
            (5, T0 + dt.timedelta(hours=7), "a", 13.0),
            (6, T0, "b", 1.0),
            (7, T0 + dt.timedelta(hours=7), "b", 2.0),
        ]
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )

    def test_ohlc_open_close_by_order(self, spark):
        from unitdb_spark.operators.timeseries import ohlc

        out = ohlc(self._events(spark), ["event_type"], bucket="6 hours")
        a = {
            r["window_start"]: r
            for r in out.filter(F.col("event_type") == "a").collect()
        }
        first = a[T0]
        assert (first["open"], first["close"]) == (10.0, 14.0)
        assert (first["high"], first["low"], first["n"]) == (14.0, 10.0, 4)
        assert first["sum_value"] == 47.0
        second = a[T0 + dt.timedelta(hours=6)]
        assert (second["open"], second["close"], second["n"]) == (13.0, 13.0, 1)

    def test_trailing_zscore_flags_outlier_not_itself_in_frame(self, spark):
        from unitdb_spark.operators.timeseries import trailing_zscore

        rows = [(i, T0 + dt.timedelta(minutes=i), "a", 10.0 + (i % 2) * 0.1)
                for i in range(10)]
        rows.append((10, T0 + dt.timedelta(minutes=10), "a", 1000.0))
        rows.append((11, T0 + dt.timedelta(minutes=11), "a", 10.0))
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        out = trailing_zscore(df, ["event_type"], ["ts", "event_id"], "value",
                              n=20, z=3.0)
        got = {r["event_id"]: r for r in out.collect()}
        assert got[10]["is_anomaly"] is True          # the spike
        assert got[5]["is_anomaly"] is False          # in-band value
        # the row AFTER the spike: trailing frame now contains the spike,
        # inflating the variance -> normal value must not be flagged
        assert got[11]["is_anomaly"] is False
        # frame excludes current row and needs >= 2 trailing rows
        assert got[0]["is_anomaly"] is False and got[0]["trail_n"] == 0

    def test_gap_fill_forward_fills_and_flags(self, spark):
        from unitdb_spark.operators.timeseries import gap_fill

        out = gap_fill(self._events(spark), ["event_type"], step_minutes=60)
        a = {
            int((r["bucket_ts"] - T0).total_seconds() // 3600): r
            for r in out.filter(F.col("event_type") == "a").collect()
        }
        assert len(a) == 8  # dense hourly grid 0..7
        assert a[3]["is_gap"] and a[4]["is_gap"]
        assert a[3]["filled_value"] == 11.0 == a[4]["filled_value"]  # ffill h2
        assert not a[5]["is_gap"] and a[5]["filled_value"] == 14.0

    def test_gap_fill_non_hour_step_buckets_on_step_grid(self, spark):
        """Steps other than 1/60 minutes must floor observations onto
        the step grid — a calendar trunc would land them between grid
        points and report real data as gaps."""
        from unitdb_spark.operators.timeseries import gap_fill

        rows = [
            (1, T0 + dt.timedelta(minutes=17), "a", 10.0),  # -> :00 bucket
            (2, T0 + dt.timedelta(minutes=95), "a", 20.0),  # -> :90 bucket
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        out = {
            int((r["bucket_ts"] - T0).total_seconds() // 60): r
            for r in gap_fill(df, ["event_type"], step_minutes=30).collect()
        }
        assert sorted(out) == [0, 30, 60, 90]
        assert not out[0]["is_gap"] and out[0]["avg_value"] == 10.0
        assert out[30]["is_gap"] and out[30]["filled_value"] == 10.0
        assert out[60]["is_gap"] and out[60]["filled_value"] == 10.0
        assert not out[90]["is_gap"] and out[90]["avg_value"] == 20.0


class TestTfidf:
    def test_scores_and_ranking(self, spark):
        from unitdb_spark.operators.tfidf import tfidf_top_terms

        docs = spark.createDataFrame(
            [
                (1, "apple banana apple"),
                (2, "banana cherry"),
                (3, "cherry durian cherry durian"),
            ],
            "doc_id long, text string",
        )
        out = tfidf_top_terms(docs, k=2)
        rows = {(r["doc_id"], r["rank"]): r for r in out.collect()}
        # doc 1: apple tf=2 df=1 -> 2*4/2=4.0 beats banana tf=1 df=2 -> 4/3
        assert rows[(1, 1)]["term"] == "apple" and rows[(1, 1)]["score"] == 4.0
        assert rows[(1, 2)]["term"] == "banana"
        # doc 3: cherry and durian both tf=2; cherry df=2, durian df=1
        # durian tf=2 df=1 -> 2*4/2=4.0 beats cherry tf=2 df=2 -> 8/3
        assert rows[(3, 1)]["term"] == "durian" and rows[(3, 1)]["score"] == 4.0
        # every doc emits at most k rows
        assert out.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0] <= 2

    def test_min_df_prunes(self, spark):
        from unitdb_spark.operators.tfidf import tfidf_top_terms

        docs = spark.createDataFrame(
            [(1, "common rare1"), (2, "common rare2")], "doc_id long, text string"
        )
        out = tfidf_top_terms(docs, k=3, min_df=2)
        assert {r["term"] for r in out.collect()} == {"common"}


class TestDedupResolve:
    def test_keeps_best_quality_per_cluster(self, spark):
        from unitdb_spark.operators.cluster import dedup_resolve

        docs = spark.createDataFrame(
            [(1, 100), (2, 300), (3, 200), (4, 50), (5, 300)],
            "doc_id long, n_chars long",
        )
        # cluster {1,2,3} (chain), {4} singleton, {5} singleton
        pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        out = {r["doc_id"]: r for r in dedup_resolve(docs, pairs, "n_chars").collect()}
        assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"] == 1
        assert out[2]["keeper_id"] == 2  # best n_chars wins over min id
        assert out[2]["is_keeper"] and not out[1]["is_keeper"]
        assert out[4]["is_keeper"] and out[4]["keeper_id"] == 4
        assert out[5]["is_keeper"]

    def test_quality_tie_breaks_to_smallest_id(self, spark):
        from unitdb_spark.operators.cluster import dedup_resolve

        docs = spark.createDataFrame(
            [(7, 100), (9, 100)], "doc_id long, n_chars long"
        )
        pairs = spark.createDataFrame([(7, 9)], "id_a long, id_b long")
        out = {r["doc_id"]: r for r in dedup_resolve(docs, pairs, "n_chars").collect()}
        assert out[7]["is_keeper"] and out[9]["keeper_id"] == 7


class TestTrainingMixPipeline:
    """The r12 composed pipeline query (quality → exact dedup →
    near-dup keeper → DSIR → packing): structural invariants each
    stage guarantees, checked end-to-end on the sf0.001 corpus. Value
    exactness is the oracle gate's job; this pins the composition."""

    def _run(self, spark):
        import __spark_entry__ as entry

        return entry.q_doc_training_mix(
            spark, "/root/testdata/sf0.001"
        ).collect()

    def test_survivors_pass_every_gate(self, spark):
        from unitdb_spark.functions.text import quality_score

        rows = self._run(spark)
        assert rows, "pipeline produced no survivors"
        ids = [r.doc_id for r in rows]
        assert len(ids) == len(set(ids))  # one row per survivor
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        surv = docs.filter(F.col("doc_id").isin(ids))
        # stage 1: every survivor clears the quality gate
        assert (
            surv.filter(quality_score("text") < 0.5).count() == 0
        )
        # stage 2: no two survivors share exact content
        n_distinct = surv.select(F.md5("text")).distinct().count()
        assert n_distinct == len(ids)
        # stage 3: no surviving same-source pair at jaccard >= 0.2
        from unitdb_spark.operators.dedup import ngram_jaccard_pairs

        dup_pairs = ngram_jaccard_pairs(
            surv, block_col="source", threshold=0.2
        ).count()
        assert dup_pairs == 0

    def test_packing_and_weights_are_consistent(self, spark):
        rows = self._run(spark)
        # stage 5: within each shard, bin arithmetic is the running
        # token sum in id order
        by_shard = {}
        for r in sorted(rows, key=lambda r: (r.shard, r.doc_id)):
            off = by_shard.get(r.shard, 0)
            assert r.bin_id == off // 256 and r.bin_offset == off % 256
            by_shard[r.shard] = off + r.n_tokens
        # stage 4: every survivor carries a weight; target-source docs
        # skew positive vs raw (the DSIR direction check)
        assert all(r.dsir_wt_micro is not None for r in rows)


class TestC4AndUrls:
    def test_c4_rules_flag_each_violation(self, spark):
        from unitdb_spark.functions.text import c4_rules

        docs = spark.createDataFrame(
            [
                (1, "this is a perfectly normal sentence with many words."),
                (2, "short"),                              # min tokens + terminal
                (3, "code sample int main() { return 0; }"),   # brace, no terminal
                (4, "please read our privacy policy first."),  # policy
                (5, "lorem ipsum dolor sit amet consectetur."),  # lorem
                (6, "word " * 5 + "a" * 30 + " more words here."),  # long word
            ],
            "doc_id long, text string",
        )
        rules = c4_rules("text")
        out = {r["doc_id"]: r for r in docs.select(
            "doc_id", *[rules[k].alias(k) for k in rules]).collect()}
        assert out[1]["keep"] is True
        assert out[2]["r_min_tokens"] is False and out[2]["keep"] is False
        assert out[3]["r_brace"] is False
        assert out[4]["r_policy"] is False
        assert out[5]["r_lorem"] is False
        assert out[6]["r_word_len"] is False
        # violations are independent: doc 4 still has terminal punct etc.
        assert out[4]["r_terminal"] is True and out[4]["r_brace"] is True

    def test_url_count_and_first_host(self, spark):
        from unitdb_spark.functions.text import first_url_host, url_count

        docs = spark.createDataFrame(
            [
                (1, "no links here"),
                (2, "see https://a.example.org/x and http://b.example.net"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in docs.select(
            "doc_id",
            url_count("text").alias("n"),
            first_url_host("text").alias("h"),
        ).collect()}
        assert out[1]["n"] == 0 and out[1]["h"] == ""
        assert out[2]["n"] == 2 and out[2]["h"] == "a.example.org"


class TestTokenRarity:
    def test_corpus_counts_and_min(self, spark):
        from unitdb_spark.operators.tfidf import token_rarity

        docs = spark.createDataFrame(
            [(1, "the the cat"), (2, "the dog")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in token_rarity(docs).collect()}
        # corpus: the=3, cat=1, dog=1
        assert out[1]["n_tokens"] == 3
        assert out[1]["sum_corpus_tf"] == 3 + 3 + 1  # the, the, cat
        assert out[1]["min_corpus_tf"] == 1          # cat
        assert out[2]["sum_corpus_tf"] == 3 + 1 and out[2]["mean_corpus_tf"] == 2.0


class TestProductQuantization:
    def _corpus(self, spark, n=40, dim=8, seed=7):
        import random

        rng = random.Random(seed)
        rows = [
            (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_codebooks_shape_and_determinism(self, spark):
        from unitdb_spark.operators.pq import pq_codebooks

        corpus = self._corpus(spark)
        cb1 = pq_codebooks(corpus, dim=8, m_blocks=4, k_codes=8).collect()
        cb2 = pq_codebooks(corpus, dim=8, m_blocks=4, k_codes=8).collect()
        assert len(cb1) == 4 * 8
        assert all(len(r["cvec"]) == 2 for r in cb1)
        key = lambda r: (r["block"], r["code"], tuple(r["cvec"]))  # noqa: E731
        assert sorted(map(key, cb1)) == sorted(map(key, cb2))

    def test_assign_codes_bounded_and_self_nearest(self, spark):
        from unitdb_spark.operators.pq import pq_assign, pq_codebooks

        corpus = self._corpus(spark, n=8)  # corpus == sample
        cb = pq_codebooks(corpus, dim=8, m_blocks=2, k_codes=8)
        codes = pq_assign(corpus, cb, dim=8, m_blocks=2).collect()
        assert len(codes) == 8 * 2
        assert all(0 <= r["code"] < 8 for r in codes)
        # every vector IS a codebook entry -> its block distance to its
        # own entry is 0, so each (vec, block) maps back to one code
        # consistently across blocks of the same sampled vector
        by_vec = {}
        for r in codes:
            by_vec.setdefault(r["vec_id"], set()).add(r["code"])
        assert all(len(s) == 1 for s in by_vec.values())

    def test_topk_finds_identical_vector(self, spark):
        from unitdb_spark.operators.pq import pq_topk

        corpus = self._corpus(spark, n=30)
        # vec 99 duplicates vec 0's embedding exactly
        dup = corpus.filter(F.col("vec_id") == 0).select(
            F.lit(99).cast("long").alias("vec_id"), "embedding"
        )
        full = corpus.unionByName(dup)
        queries = corpus.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = pq_topk(full, queries, dim=8, k=3, m_blocks=4, k_codes=8).collect()
        # identical codes -> identical ADC score -> the duplicate ranks
        # first (ties broken by vec_id would put a lower id first only
        # if it shares all 4 codes)
        top = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
        assert 99 in top[:2]

    def test_no_python_eval_and_broadcasts(self, spark):
        from unitdb_spark.operators.pq import pq_topk
        from unitdb_spark.plans.explain import formatted_plan, has_python_eval

        corpus = self._corpus(spark)
        queries = corpus.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = pq_topk(corpus, queries, dim=8, k=5, m_blocks=4, k_codes=8)
        assert not has_python_eval(out)
        assert "BroadcastHashJoin" in formatted_plan(out)


class TestSilenceGaps:
    def test_reports_only_gaps_over_threshold(self, spark):
        from unitdb_spark.operators.timeseries import silence_gaps

        rows = [
            (1, T0, "a", 0.0),
            (2, T0 + dt.timedelta(minutes=10), "a", 0.0),
            (3, T0 + dt.timedelta(minutes=130), "a", 0.0),  # 2h gap
            (4, T0, "b", 0.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        out = silence_gaps(df, ["event_type"], min_gap_seconds=3600).collect()
        assert len(out) == 1
        (r,) = out
        assert r["event_type"] == "a" and r["gap_s"] == 7200
        assert r["gap_end_s"] - r["gap_start_s"] == 7200


class TestKmvSketch:
    def test_small_groups_are_exact(self, spark):
        from unitdb_spark.operators.sketch import kmv_distinct

        rows = [("a", i % 10) for i in range(100)] + [("b", 7)]
        df = spark.createDataFrame(rows, "k string, v long")
        out = {r["k"]: r for r in kmv_distinct(df, ["k"], "v", k=64).collect()}
        # fewer than k distinct -> sketch saw everything -> exact
        assert out["a"]["n_kept"] == 10 and out["a"]["kmv_est"] == 10.0
        assert out["b"]["n_kept"] == 1 and out["b"]["kmv_est"] == 1.0

    def test_estimate_tracks_exact_within_error_bound(self, spark):
        from unitdb_spark.operators.sketch import kmv_distinct

        n, k = 5000, 64
        df = spark.range(n).select(
            F.lit("g").alias("k"), (F.col("id") * 7919).alias("v")
        )
        (r,) = kmv_distinct(df, ["k"], "v", k=k).collect()
        assert r["n_kept"] == k
        # KMV relative error ~ 1/sqrt(k-2); allow 4 sigma
        rel = abs(r["kmv_est"] - n) / n
        assert rel < 4.0 / (k - 2) ** 0.5, f"estimate {r['kmv_est']} vs {n}"

    def test_nulls_ignored_and_duplicates_collapse(self, spark):
        from unitdb_spark.operators.sketch import kmv_distinct

        rows = [("a", 1), ("a", 1), ("a", None), ("a", 2)]
        df = spark.createDataFrame(rows, "k string, v long")
        (r,) = kmv_distinct(df, ["k"], "v", k=8).collect()
        assert r["n_kept"] == 2 and r["kmv_est"] == 2.0

    def test_set_algebra_exact_below_k(self, spark):
        """When every set fits inside the sketch (|A ∪ B| < k), the
        union sketch IS the union, so Jaccard and the estimates are
        EXACT — and disjoint sets report zero overlap."""
        from unitdb_spark.operators.sketch import kmv_set_algebra, kmv_sketch

        rows = (
            [("a", v) for v in range(20)]
            + [("b", v) for v in range(10, 30)]  # |A∩B|=10, |A∪B|=30
            + [("c", v) for v in range(100, 105)]  # disjoint from both
        )
        df = spark.createDataFrame(rows, "k string, v long")
        sk = kmv_sketch(df, ["k"], "v", k=64)
        out = {
            (r["key_a"], r["key_b"]): r
            for r in kmv_set_algebra(sk, "k", k=64).collect()
        }
        ab = out[("a", "b")]
        assert ab["k_union"] == 30 and ab["n_common"] == 10
        assert abs(ab["jaccard_r"] - round(10 / 30, 6)) < 1e-9
        assert ab["union_est_r"] == 30.0
        assert abs(ab["inter_est_r"] - round(10 / 30 * 30.0, 6)) < 1e-9
        for pair in (("a", "c"), ("b", "c")):
            assert out[pair]["n_common"] == 0
            assert out[pair]["jaccard_r"] == 0.0
            assert out[pair]["inter_est_r"] == 0.0

    def test_set_algebra_estimates_large_overlap(self, spark):
        """Above k the estimator must land near truth: two 5000-element
        sets with a 2500-element overlap (true J = 1/3)."""
        from unitdb_spark.operators.sketch import kmv_set_algebra, kmv_sketch

        k = 128
        rows = [("a", v) for v in range(5000)] + [
            ("b", v) for v in range(2500, 7500)
        ]
        df = spark.createDataFrame(rows, "k string, v long")
        sk = kmv_sketch(df, ["k"], "v", k=k)
        (r,) = kmv_set_algebra(sk, "k", k=k).collect()
        assert abs(r["jaccard_r"] - 1 / 3) < 0.15
        assert abs(r["union_est_r"] - 7500) / 7500 < 4.0 / (k - 2) ** 0.5
        assert abs(r["inter_est_r"] - 2500) / 2500 < 0.5


class TestWinnowing:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_shared_substring_guarantee(self, spark):
        """Schleimer '03 Thm 1: a shared run of >= k + w - 1 words
        yields at least one SHARED fingerprint, regardless of where the
        run sits in each document (content-aligned sampling)."""
        from unitdb_spark.operators.winnow import winnow_fingerprints

        shared = "the quick brown fox jumps over the lazy dog today"  # 10 words >= 5+4-1
        rows = [
            (1, "alpha beta " + shared + " gamma delta"),
            (2, "completely different preamble words here " + shared),
            (3, "nothing in common with either of the others at all huh"),
        ]
        fp = winnow_fingerprints(self._docs(spark, rows), k=5, w=4).collect()
        by_doc = {}
        for r in fp:
            by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
        assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
        assert not (by_doc[3] & (by_doc[1] | by_doc[2]))

    def test_density_bound(self, spark):
        """Fingerprints per doc ~ 2/(w+1) of grams: must be well under
        the gram count and at least one per w-window span."""
        from unitdb_spark.operators.winnow import winnow_fingerprints

        words = " ".join(f"w{i * 7919 % 1000}x{i}" for i in range(200))
        fp = winnow_fingerprints(self._docs(spark, [(1, words)]), k=5, w=4).collect()
        n_grams = 200 - 5 + 1
        assert n_grams / 8 <= len(fp) <= n_grams  # >= one per window span, far under all
        assert len({(r["fp_hash"], r["fp_pos"]) for r in fp}) == len(fp)

    def test_short_docs_have_no_fingerprints(self, spark):
        from unitdb_spark.operators.winnow import winnow_fingerprints

        fp = winnow_fingerprints(
            self._docs(spark, [(1, "only four words here"), (2, "now five little words here")]),
            k=5, w=4,
        ).collect()
        assert {r["doc_id"] for r in fp} == {2}  # 4 words < k -> none; 5 words -> 1 gram
        assert len(fp) == 1 and fp[0]["fp_pos"] == 0

    def test_pairs_find_planted_near_dup(self, spark):
        from unitdb_spark.operators.winnow import winnow_pairs

        base = " ".join(f"tok{i * 31 % 97}q{i}" for i in range(60))
        rows = [
            (1, base),
            (2, "inserted prefix words " + base),  # shifted copy
            (3, " ".join(f"other{i}z{i * 13 % 53}" for i in range(60))),
        ]
        pairs = winnow_pairs(self._docs(spark, rows), k=5, w=4, min_shared=2).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


class TestPqRerank:
    def test_rerank_recall_at_least_coarse(self, spark):
        """Two-stage retrieval: exact re-rank of the PQ shortlist must
        match the exact-DOT top-k (PQ's metric) at least as well as raw
        PQ order does — candidates are re-scored with the true dot
        product, so re-ranking can only fix coarse-quantization
        mistakes within the shortlist, never add new ones."""
        from unitdb_spark.operators.pq import pq_rerank_topk, pq_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        n = emb.count()
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

        def topset(df):
            out = {}
            for r in df.collect():
                out.setdefault(r["query_id"], set()).add(r["vec_id"])
            return out

        # shortlist = whole corpus -> stage 2 IS the exact dot ranking
        exact = topset(pq_rerank_topk(emb, queries, dim=64, k=10, shortlist=n))
        coarse = topset(pq_topk(emb, queries, dim=64, k=10))
        rerank = topset(
            pq_rerank_topk(emb, queries, dim=64, k=10, shortlist=50)
        )
        for qid in exact:
            hit_coarse = len(exact[qid] & coarse.get(qid, set()))
            hit_rerank = len(exact[qid] & rerank.get(qid, set()))
            assert hit_rerank >= hit_coarse
        # aggregate: re-ranking lifts recall strictly above raw PQ
        # order (sample-based codebooks are crude; measured 4/30 ->
        # 14/30 at shortlist=50 on this fixture)
        n_exact = sum(len(v) for v in exact.values())
        total_coarse = sum(len(exact[q] & coarse.get(q, set())) for q in exact)
        total_rerank = sum(len(exact[q] & rerank.get(q, set())) for q in exact)
        assert total_rerank > total_coarse
        # a wider shortlist converges toward the exact ranking
        wide = topset(pq_rerank_topk(emb, queries, dim=64, k=10, shortlist=200))
        total_wide = sum(len(exact[q] & wide.get(q, set())) for q in exact)
        assert total_wide >= total_rerank and total_wide >= 0.6 * n_exact


class TestKmvMerge:
    def test_union_rebuild_equals_whole(self, spark):
        """Mergeability (the 1000-executor rollup property): bottom-k of
        (bottom-k(A) ∪ bottom-k(B)) == bottom-k(A ∪ B) — per-key sketch
        state is k longs that re-minimize associatively."""
        from unitdb_spark.operators.sketch import kmv_distinct

        df = spark.range(2000).select(
            F.lit("g").alias("k"), (F.col("id") * 104729).alias("v")
        )
        a = df.filter(F.col("v") % 2 == 0)
        b = df.filter(F.col("v") % 2 == 1)
        whole = kmv_distinct(df, ["k"], "v", k=32).collect()[0]
        merged = kmv_distinct(a.unionByName(b), ["k"], "v", k=32).collect()[0]
        assert (whole["kth_hash"], whole["kmv_est"]) == (
            merged["kth_hash"], merged["kmv_est"]
        )


class TestLshVerified:
    def test_verify_confirms_and_threshold_filters(self, spark):
        from unitdb_spark.operators.dedup import lsh_verified_pairs

        base = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(30))
        near = base.replace("alpha3", "replaced3")  # one token differs
        rows = [
            (1, base),
            (2, near),
            (3, " ".join(f"zeta{i} eta{i}" for i in range(40))),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = lsh_verified_pairs(
            df, num_hashes=16, bands=4, threshold=0.5, hash_family="md5"
        ).collect()
        assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2)}
        (r,) = got
        # exact jaccard is high but < 1 (three 3-gram shingles changed)
        assert 0.8 < r["jaccard"] < 1.0
        # a threshold above the true similarity filters the pair out:
        # the verify stage gates on EXACT jaccard, not the estimate
        none = lsh_verified_pairs(
            df, num_hashes=16, bands=4, threshold=0.999, hash_family="md5"
        ).collect()
        assert none == []


class TestTrailingEwma:
    def test_matches_python_model_and_handles_nulls(self, spark):
        from unitdb_spark.operators.timeseries import trailing_ewma

        vals = [1.0, 2.0, None, 4.0, 0.5, 8.0, None, 1.25]
        rows = [
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), "k", v)
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        got = {
            r["event_id"]: (r["ewma_n"], r["ewma_r"])
            for r in trailing_ewma(
                df, ["event_type"], ["ts", "event_id"], n=4
            ).collect()
        }
        # model: newest-weighted dyadic average over last-4-rows frame,
        # NULLs contribute neither weight nor slot value
        for eid in range(len(vals)):
            frame = [v for v in vals[max(0, eid - 3):eid + 1] if v is not None]
            m = len(frame)
            want = round(
                sum(v * 2 ** j for j, v in enumerate(frame)) / (2 ** m - 1), 6
            ) if m else None
            assert got[eid] == (m, want), f"event {eid}"

    def test_n_cap_is_enforced(self, spark):
        import pytest as _pytest

        from unitdb_spark.operators.timeseries import trailing_ewma

        df = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1), "k", 1.0)],
            "event_id long, ts timestamp, event_type string, value double",
        )
        with _pytest.raises(ValueError, match="envelope"):
            trailing_ewma(df, ["event_type"], ["ts"], n=21)


class TestAsofNearest:
    def test_nearest_picks_closer_side_ties_backward(self, spark):
        from unitdb_spark.operators.asof import asof_join

        T = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [
                (1, T + dt.timedelta(seconds=100)),  # back@90 fwd@105 -> fwd
                (2, T + dt.timedelta(seconds=200)),  # back@190 fwd@210 -> back (tie)
                (3, T + dt.timedelta(seconds=300)),  # only back@190... -> back
            ],
            "lid long, ts timestamp",
        ).withColumn("user_id", F.lit(7))
        right = spark.createDataFrame(
            [
                (90, T + dt.timedelta(seconds=90)),
                (105, T + dt.timedelta(seconds=105)),
                (190, T + dt.timedelta(seconds=190)),
                (210, T + dt.timedelta(seconds=210)),
            ],
            "rid long, ts timestamp",
        ).withColumn("user_id", F.lit(7))
        out = {
            r["lid"]: r["rid_r"]
            for r in asof_join(
                left, right, by=["user_id"], direction="nearest"
            ).collect()
        }
        # lid=1: fwd gap 5 < back gap 10; lid=2: tie (10 vs 10) -> back;
        # lid=3: no forward rows -> backward only
        assert out == {1: 105, 2: 190, 3: 210}

    def test_tolerance_gates_each_side_before_the_choice(self, spark):
        from unitdb_spark.operators.asof import asof_join

        T = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [(1, T + dt.timedelta(seconds=100))], "lid long, ts timestamp"
        ).withColumn("user_id", F.lit(1))
        right = spark.createDataFrame(
            [(5, T + dt.timedelta(seconds=5)), (104, T + dt.timedelta(seconds=104))],
            "rid long, ts timestamp",
        ).withColumn("user_id", F.lit(1))
        # backward match (gap 95) is outside tolerance; forward (gap 4) in
        out = asof_join(
            left, right, by=["user_id"], direction="nearest",
            tolerance_seconds=10,
        ).collect()
        assert out[0]["rid_r"] == 104
        # nothing within tolerance -> NULL match
        none = asof_join(
            left, right, by=["user_id"], direction="nearest",
            tolerance_seconds=1,
        ).collect()
        assert none[0]["rid_r"] is None and none[0]["matched_ts_r"] is None


class TestSimhashPairs:
    def test_near_identical_docs_pair_distant_docs_dont(self, spark):
        from unitdb_spark.operators.dedup import simhash_pairs

        base = " ".join(f"word{i}tok{i*7%31}" for i in range(80))
        near = base.replace("word3tok21", "changed3tok21")
        rows = [
            (1, base),
            (2, near),
            (3, " ".join(f"zq{i}xx{i*13%17}" for i in range(80))),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_pairs(df, k=3, bands=4).collect()
        }
        assert set(got) == {(1, 2)}
        assert 0 < got[(1, 2)] <= 3  # one token changed: close, not equal

    def test_band_count_must_cover_distance(self, spark):
        import pytest as _pytest

        from unitdb_spark.operators.dedup import simhash_pairs

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="guarantee"):
            simhash_pairs(df, k=4, bands=4)


class TestGopherRules:
    def _rules(self, spark, texts):
        from unitdb_spark.functions.text import gopher_rules

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        rules = gopher_rules("text", min_words=5, max_words=100)
        out = df.select("doc_id", *[v.alias(k) for k, v in rules.items()])
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    def test_each_rule_fires_on_its_violation(self, spark):
        good = "the quick brown fox jumps over that lazy dog with style and grace"
        rows = self._rules(
            spark,
            [
                good,
                "one two",  # too few words
                good + " " + "#" * 40,  # symbol ratio
                "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j and the of",  # bullets
                good + "\nto be continued...\nmore coming...",  # ellipsis lines
                good + " 11 22 33 44 55 66 77 88 99 00",  # alpha ratio
                "zq xv qj wk vb nm lp rs tw yu zz qq",  # no required stop words
            ],
        )
        assert rows[0]["keep"] is True
        assert rows[1]["r_word_count"] is False
        assert rows[2]["r_symbols"] is False
        assert rows[3]["r_bullets"] is False
        assert rows[4]["r_ellipsis"] is False
        assert rows[5]["r_alpha"] is False
        assert rows[6]["r_stops"] is False

    def test_mean_word_len_bounds(self, spark):
        short = " ".join(["a"] * 10) + " the of"  # mean ~1 char
        long = " ".join(["pneumonoultramicroscopics"] * 10) + " the of"
        rows = self._rules(spark, [short, long])
        assert rows[0]["r_mean_len"] is False
        assert rows[1]["r_mean_len"] is False


class TestSemDeDup:
    def test_identical_vectors_dedup_to_min_id(self, spark):
        from unitdb_spark.operators.semdedup import semdedup

        # 3 well-separated directions; ids 0/1 identical, 2 near-identical
        # to them; 10/11 identical on another axis; 20 alone
        import math

        def v(axis, eps=0.0):
            base = [0.0] * 8
            base[axis] = 1.0
            base[(axis + 1) % 8] = eps
            n = math.sqrt(sum(x * x for x in base))
            return [x / n for x in base]

        rows = [
            (0, v(0)), (1, v(0)), (2, v(0, 0.05)),
            (10, v(3)), (11, v(3)),
            (20, v(6)),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = semdedup(df, k=3, n_iters=1, threshold=0.9)
        got = {r["vec_id"]: r.asDict() for r in out.collect()}
        assert len(got) == 6
        assert got[0]["is_dup"] is False
        assert got[1]["is_dup"] and got[1]["kept_by"] == 0
        assert got[2]["is_dup"] and got[2]["kept_by"] == 0
        assert got[10]["is_dup"] is False
        assert got[11]["is_dup"] and got[11]["kept_by"] == 10
        assert got[20]["is_dup"] is False
        # identical vectors: rounded cosine is exactly 1.0
        assert got[1]["max_sim_r"] == 1.0


class TestPostingsBm25:
    def _docs(self, spark):
        rows = [
            (1, "spark spark spark window join"),
            (2, "spark window window query"),
            (3, "query query query query spark"),
            (4, "filter scan agg sort merge"),
            (5, "spark query window filter scan"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_postings_rank_by_tf_then_doc(self, spark):
        from unitdb_spark.operators.tfidf import impact_postings

        out = impact_postings(self._docs(spark), k=2, min_df=3)
        rows = [
            (r["term"], r["doc_id"], r["tf"], r["df"], r["rank"])
            for r in out.orderBy("term", "rank").collect()
        ]
        # terms with df >= 3: spark (4 docs), query (3), window (3)
        assert ("spark", 1, 3, 4, 1) in rows  # highest tf first
        assert ("query", 3, 4, 3, 1) in rows
        # tie on tf=1 breaks by ascending doc_id
        spark_rank2 = [r for r in rows if r[0] == "spark" and r[4] == 2]
        assert spark_rank2 == [("spark", 2, 1, 4, 2)]
        assert all(r[4] <= 2 for r in rows)

    def test_bm25_ranks_heavier_matches_higher(self, spark):
        from unitdb_spark.operators.tfidf import bm25_search

        out = bm25_search(self._docs(spark), ["spark", "query"], topk=10)
        rows = {r["doc_id"]: r.asDict() for r in out.collect()}
        assert 4 not in rows  # no query term
        # doc 3 (query x4, the rarer term, + spark) ranks first; tf
        # SATURATION means doc 1's spark x3 does NOT beat doc 5's
        # two distinct hits (tf/(tf+k1·norm) caps per-term influence)
        assert rows[3]["rank"] == 1
        assert rows[5]["rank"] < rows[1]["rank"]
        assert {rows[d]["n_hit"] for d in (1, 2, 3, 5)} <= {1, 2}
        assert rows[1]["n_hit"] == 1 and rows[5]["n_hit"] == 2

    def test_bm25_empty_query_raises(self, spark):
        from unitdb_spark.operators.tfidf import bm25_search
        import pytest as _pytest

        with _pytest.raises(ValueError):
            bm25_search(self._docs(spark), [])


class TestHistogramQuantiles:
    def test_interpolation_matches_hand_computation(self, spark):
        from unitdb_spark.operators.sketch import histogram_quantiles

        # 10 values in one key, buckets of width 50 over [0, 1000)
        vals = [10.0, 20.0, 30.0, 40.0, 60.0, 70.0, 80.0, 90.0, 110.0, 120.0]
        df = spark.createDataFrame([("k", v) for v in vals], "key string, value double")
        out = histogram_quantiles(
            df, "value", ["key"], [0.5, 0.9], lo=0.0, hi=1000.0, n_buckets=20
        )
        got = {r["quantile"]: r["est_r"] for r in out.collect()}
        # buckets: [0,50)->4, [50,100)->4, [100,150)->2; N=10
        # q=0.5: target 5 -> bucket 1, est = 50 + (5-4)/4*50 = 62.5
        assert got[0.5] == 62.5
        # q=0.9: target 9 -> bucket 2, est = 100 + (9-8)/2*50 = 125.0
        assert got[0.9] == 125.0

    def test_exact_boundary_lands_in_lower_bucket(self, spark):
        from unitdb_spark.operators.sketch import histogram_quantiles

        # target == cum of bucket 0 exactly: est stays in bucket 0
        df = spark.createDataFrame(
            [("k", 10.0), ("k", 20.0), ("k", 60.0), ("k", 70.0)],
            "key string, value double",
        )
        out = histogram_quantiles(df, "value", ["key"], [0.5], n_buckets=20)
        [row] = out.collect()
        # target 2.0 == cum(bucket 0); est = 0 + (2-0)/2*50 = 50.0
        assert row["est_r"] == 50.0

    def test_validation(self, spark):
        from unitdb_spark.operators.sketch import histogram_quantiles
        import pytest as _pytest

        df = spark.createDataFrame([("k", 1.0)], "key string, value double")
        with _pytest.raises(ValueError):
            histogram_quantiles(df, "value", ["key"], [])
        with _pytest.raises(ValueError):
            histogram_quantiles(df, "value", ["key"], [1.5])


class TestKnnLabel:
    def test_majority_vote_and_tie_to_smaller_label(self, spark):
        from unitdb_spark.operators.similarity import knn_label

        import math

        def v(axis, eps=0.0):
            base = [0.0] * 4
            base[axis] = 1.0
            base[(axis + 1) % 4] = eps
            n = math.sqrt(sum(x * x for x in base))
            return [x / n for x in base]

        # labeled corpus: axis 0 -> label 1 (3 vecs), axis 2 -> label 2 (3 vecs)
        corpus = spark.createDataFrame(
            [
                (1, v(0), 1), (2, v(0, 0.01), 1), (3, v(0, 0.02), 1),
                (11, v(2), 2), (12, v(2, 0.01), 2), (13, v(2, 0.02), 2),
            ],
            "vec_id long, embedding array<double>, label int",
        )
        queries = spark.createDataFrame(
            [(100, v(0, 0.05)), (200, v(2, 0.05))],
            "query_id long, embedding array<double>",
        )
        got = {
            r["query_id"]: r.asDict()
            for r in knn_label(corpus, queries, k=3).collect()
        }
        assert got[100]["pred_label"] == 1 and got[100]["votes"] == 3
        assert got[200]["pred_label"] == 2 and got[200]["votes"] == 3

        # k=6 pulls all six neighbors: 3 votes each, tie -> label 1
        tied = {
            r["query_id"]: r.asDict()
            for r in knn_label(corpus, queries, k=6).collect()
        }
        assert tied[100]["pred_label"] == 1 and tied[100]["votes"] == 3
        assert tied[200]["pred_label"] == 1 and tied[200]["votes"] == 3


class TestReviewFixes:
    def test_bm25_lowercases_and_weights_repeated_terms(self, spark):
        from unitdb_spark.operators.tfidf import bm25_search

        docs = spark.createDataFrame(
            [(1, "spark window join"), (2, "query filter scan")],
            "doc_id long, text string",
        )
        up = {r["doc_id"]: r["score_r"] for r in bm25_search(docs, ["Spark"]).collect()}
        lo = {r["doc_id"]: r["score_r"] for r in bm25_search(docs, ["spark"]).collect()}
        assert up == lo and 1 in up  # case-normalized, matches postings
        single = bm25_search(docs, ["spark"]).collect()[0]["score_r"]
        doubled = bm25_search(docs, ["spark", "spark"]).collect()[0]["score_r"]
        assert abs(doubled - 2 * single) < 1e-9  # Okapi qtf factor

    def test_knn_label_ranks_colliding_corpus_id(self, spark):
        """Corpus and query id spaces are independent: a corpus vector
        whose id equals a query id is a real neighbor, not 'self'."""
        from unitdb_spark.operators.similarity import knn_label

        corpus = spark.createDataFrame(
            [(5, [1.0, 0.0], 7), (6, [0.0, 1.0], 9)],
            "vec_id long, embedding array<double>, label int",
        )
        queries = spark.createDataFrame(
            [(5, [1.0, 0.1])], "query_id long, embedding array<double>"
        )
        [row] = knn_label(corpus, queries, k=1).collect()
        assert row["pred_label"] == 7  # the id-5 corpus vector was rankable

    def test_semdedup_single_assignment_pass(self, spark):
        """The persisted (id, cell, vec) relation is reused by both
        self-join sides; the closing join carries no vectors."""
        from unitdb_spark.operators.semdedup import semdedup

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = semdedup(emb, k=4, n_iters=0, threshold=0.2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan  # cache reuse, not recompute
        spark.catalog.clearCache()

    def test_histogram_quantiles_degenerate_ranges_raise(self, spark):
        from unitdb_spark.operators.sketch import histogram_quantiles
        import pytest as _pytest

        df = spark.createDataFrame([("k", 1.0)], "key string, value double")
        with _pytest.raises(ValueError):
            histogram_quantiles(df, "value", ["key"], [0.5], n_buckets=0)
        with _pytest.raises(ValueError):
            histogram_quantiles(df, "value", ["key"], [0.5], lo=5.0, hi=5.0)
        with _pytest.raises(ValueError):
            histogram_quantiles(df, "value", ["key"], [0.5], lo=10.0, hi=0.0)

    def test_gopher_exact_90pct_bullets_passes(self, spark):
        """Rae '21 removes at MORE than 90% — a 10-line doc with exactly
        9 bullet lines stays."""
        from unitdb_spark.functions.text import gopher_rules

        text = "the data of and that with rows here" + "\n- item" * 9
        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        rules = gopher_rules("text", min_words=5, max_words=1000)
        [row] = df.select(
            rules["r_bullets"].alias("b"), rules["r_ellipsis"].alias("e")
        ).collect()
        assert row["b"] is True and row["e"] is True


class TestLineFilter:
    def test_each_line_rule(self, spark):
        from unitdb_spark.functions.text import line_filter

        text = "\n".join(
            [
                "This is a perfectly reasonable sentence.",
                "HOME",              # nav caption (also all-caps)
                "SHOUTING AT YOU",   # all-caps
                "12345 678",         # no alphabetic content
                "ok go",             # short fragment, no punctuation
                "ok then.",          # short but terminally punctuated
                "Share",             # nav caption
                "another decent line of text here",
            ]
        )
        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        cols = line_filter("text")
        [row] = df.select(
            cols["n_lines"].alias("n"),
            cols["n_removed"].alias("r"),
            cols["clean_text"].alias("t"),
        ).collect()
        assert row["n"] == 8 and row["r"] == 5
        assert row["t"].split("\n") == [
            "This is a perfectly reasonable sentence.",
            "ok then.",
            "another decent line of text here",
        ]

    def test_zero_shuffle_plan(self, spark):
        from unitdb_spark.functions.text import line_filter
        from tests.test_plans import has_python_eval, shuffle_count

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        cols = line_filter("text")
        out = docs.select("doc_id", *[v.alias(k) for k, v in cols.items()])
        assert shuffle_count(out) == 0
        assert not has_python_eval(out)

class TestAsofNoPayloadColumns:
    def test_right_side_with_only_key_and_ts(self, spark):
        """A caller that only wants matched_ts (no right payload
        columns) must not crash on struct DDL construction — all three
        directions."""
        import datetime as dt

        from unitdb_spark.operators.asof import asof_join

        base = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [(1, base + dt.timedelta(minutes=5))], "user_id long, ts timestamp"
        )
        right = spark.createDataFrame(
            [(1, base), (1, base + dt.timedelta(minutes=9))],
            "user_id long, ts timestamp",
        )
        for direction in ("backward", "forward", "nearest"):
            out = asof_join(left, right, by=["user_id"], direction=direction)
            rows = out.collect()
            assert len(rows) == 1, direction
            assert rows[0]["matched_ts_r"] is not None, direction


class TestResumeOrdering:
    def test_redelivery_in_numeric_batch_order(self, spark, tmp_path):
        """resume() must feed batch 9 before batch 10 even though the
        directory listing is lexicographic ('10' < '9')."""
        from unitdb_spark.streaming.pubsub import ReliableSink

        root = str(tmp_path / "rel")
        sink_order = []
        rs = ReliableSink(
            spark, root, str(tmp_path / "cp"),
            lambda df, bid: sink_order.append(bid),
        )
        qid = rs.log.query_id
        for bid in (10, 9, 2):
            d = f"{root}/inflight/{qid}/{bid}"
            spark.createDataFrame([(bid,)], "x long").coalesce(1).write.parquet(d)
        n = rs.resume()
        assert n == 3
        assert sink_order == [2, 9, 10]

    def test_pruned_marker_with_stale_inflight_not_redelivered(self, spark, tmp_path):
        """A stale inflight dir whose ack marker was pruned (a later
        batch IS acked) must not double-deliver."""
        from unitdb_spark.streaming.pubsub import ReliableSink
        from unitdb_spark import fs

        root = str(tmp_path / "rel2")
        delivered = []
        rs = ReliableSink(
            spark, root, str(tmp_path / "cp2"),
            lambda df, bid: delivered.append(bid),
        )
        qid = rs.log.query_id
        # batch 3: crashed between record() and the inflight delete,
        # then its marker was pruned; batch 20 is acked (the high-water
        # proof that 3 completed)
        d3 = f"{root}/inflight/{qid}/3"
        spark.createDataFrame([(3,)], "x long").coalesce(1).write.parquet(d3)
        rs.log.record_for(qid, 20)
        n = rs.resume()
        assert n == 0 and delivered == []
        assert not fs.exists(spark, d3)  # stale dir cleaned up


class TestNearestCellAssignEquivalence:
    def test_inline_and_join_paths_agree(self, spark, monkeypatch):
        """The zero-shuffle inlined-literal argmax and the
        broadcast-join + max_by fallback must produce identical
        assignments (same winner, same tie-break)."""
        import unitdb_spark.operators.similarity as sim

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(40)
        cents = emb.limit(5).select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").cast("array<double>").alias("_cent"),
        )
        inline = {
            r["vec_id"]: r["cell"]
            for r in sim.nearest_cell_assign(emb, cents).collect()
        }
        monkeypatch.setattr(sim, "_INLINE_MAX_K", 1)  # force the join path
        joined = {
            r["vec_id"]: r["cell"]
            for r in sim.nearest_cell_assign(emb, cents).collect()
        }
        assert inline == joined and len(inline) == 40


class TestSubstringDup:
    """Exact substring-duplication detection (Lee '21 exact-substring
    criterion, corpus group-by instead of a suffix array)."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_shared_phrase_flags_both_docs(self, spark):
        from unitdb_spark.operators.substring import substring_dup_stats

        phrase = " ".join(f"w{i}" for i in range(8))  # exactly one 8-gram
        rows = [
            (1, phrase + " aa bb cc"),
            (2, "xx yy " + phrase),
            (3, "totally different words here none repeat at all ok"),
            (4, "short doc"),  # < 8 tokens -> zero positions
        ]
        out = {
            r["doc_id"]: r
            for r in substring_dup_stats(
                self._docs(spark, rows), k=8, min_occ=2
            ).collect()
        }
        assert out[1]["n_dup_pos"] == 1 and out[1]["covered_tokens"] == 8
        assert out[2]["n_dup_pos"] == 1 and out[2]["covered_tokens"] == 8
        assert out[3]["n_dup_pos"] == 0 and out[3]["covered_tokens"] == 0
        assert out[4]["n_pos"] == 0 and out[4]["dup_ppm"] == 0
        # doc 1: 11 tokens, 8 covered -> 727272 ppm -> flagged
        assert out[1]["dup_ppm"] == 727272 and out[1]["is_dup"] == 1
        assert out[3]["is_dup"] == 0

    def test_overlapping_spans_union_not_sum(self, spark):
        from unitdb_spark.operators.substring import substring_dup_stats

        run = " ".join(f"t{i}" for i in range(10))  # 10-token shared run
        rows = [(1, run + " p q r"), (2, run + " s u v")]
        out = {
            r["doc_id"]: r
            for r in substring_dup_stats(
                self._docs(spark, rows), k=8, min_occ=2
            ).collect()
        }
        # positions 0,1,2 all duplicated; union covers exactly the 10
        # run tokens (8 + 1 + 1), NOT 24
        for d in (1, 2):
            assert out[d]["n_dup_pos"] == 3
            assert out[d]["covered_tokens"] == 10

    def test_disjoint_spans_sum(self, spark):
        from unitdb_spark.operators.substring import substring_dup_stats

        a = " ".join(f"a{i}" for i in range(8))
        b = " ".join(f"b{i}" for i in range(8))
        gap = " ".join(f"g{i}" for i in range(8))
        rows = [
            (1, f"{a} {gap} {b}"),
            (2, a),
            (3, b),
        ]
        out = {
            r["doc_id"]: r
            for r in substring_dup_stats(
                self._docs(spark, rows), k=8, min_occ=2
            ).collect()
        }
        assert out[1]["covered_tokens"] == 16  # two disjoint 8-spans

    def test_within_doc_repeat_counts(self, spark):
        from unitdb_spark.operators.substring import (
            duplicated_grams,
            substring_dup_stats,
        )

        phrase = " ".join(f"w{i}" for i in range(8))
        rows = [(1, phrase + " mid1 mid2 " + phrase)]
        inv = duplicated_grams(self._docs(spark, rows), k=8, min_occ=2).collect()
        by_occ = {r["gram_hash"]: r for r in inv}
        assert any(r["n_occ"] == 2 and r["n_docs"] == 1 for r in by_occ.values())
        out = substring_dup_stats(self._docs(spark, rows), k=8, min_occ=2).collect()
        # both occurrences' positions are duplicated spans
        assert out[0]["n_dup_pos"] == 2 and out[0]["covered_tokens"] == 16

    def test_min_occ_three_not_met(self, spark):
        from unitdb_spark.operators.substring import substring_dup_stats

        phrase = " ".join(f"w{i}" for i in range(8))
        rows = [(1, phrase), (2, phrase)]
        out = substring_dup_stats(self._docs(spark, rows), k=8, min_occ=3).collect()
        assert all(r["n_dup_pos"] == 0 for r in out)


class TestNovelty:
    def test_first_doc_gets_full_credit(self, spark):
        from unitdb_spark.operators.substring import novelty_stats

        rows = [
            (1, "alpha beta gamma delta"),       # grams all first-seen here
            (2, "alpha beta gamma delta"),       # exact re-tread -> 0 novel
            (3, "epsilon zeta eta theta iota"),  # disjoint -> all novel
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in novelty_stats(docs, k=3).collect()}
        assert out[1]["n_novel"] == out[1]["n_grams"] == 2
        assert out[1]["novelty_ppm"] == 1_000_000
        assert out[2]["n_novel"] == 0 and out[2]["novelty_ppm"] == 0
        assert out[3]["novelty_ppm"] == 1_000_000

    def test_partial_overlap(self, spark):
        from unitdb_spark.operators.substring import novelty_stats

        rows = [
            (1, "a b c d"),        # grams: (a b c), (b c d)
            (2, "a b c x y z"),    # grams: (a b c)* seen, 3 new
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in novelty_stats(docs, k=3).collect()}
        assert out[2]["n_grams"] == 4 and out[2]["n_novel"] == 3
        assert out[2]["novelty_ppm"] == 750_000

    def test_duplicate_grams_within_doc_counted_once(self, spark):
        from unitdb_spark.operators.substring import novelty_stats

        docs = spark.createDataFrame(
            [(1, "a b c a b c a b c")], "doc_id long, text string"
        )
        out = novelty_stats(docs, k=3).collect()[0]
        # rolling grams: abc, bca, cab, abc, bca, cab, abc -> 3 distinct
        assert out["n_grams"] == 3 and out["n_novel"] == 3


class TestWeightedSample:
    def test_deterministic_and_layout_independent(self, spark):
        from unitdb_spark.operators.sampling import weighted_sample

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = [r["doc_id"] for r in
             weighted_sample(docs.select("doc_id", "n_chars"), n=20,
                             weight_col="n_chars", key_col="doc_id").collect()]
        b = [r["doc_id"] for r in
             weighted_sample(docs.select("doc_id", "n_chars").repartition(7),
                             n=20, weight_col="n_chars", key_col="doc_id").collect()]
        assert a == b and len(a) == 20

    def test_heavier_rows_win_more(self, spark):
        """Statistical sanity at 10x weight ratio: heavy rows should
        dominate the sample (deterministic given the fixed hash salt)."""
        from unitdb_spark.operators.sampling import weighted_sample

        rows = [(i, 1000 if i < 50 else 100) for i in range(500)]
        df = spark.createDataFrame(rows, "id long, w long")
        got = weighted_sample(df, n=50, weight_col="w", key_col="id").collect()
        heavy = sum(1 for r in got if r["w"] == 1000)
        # E[heavy] ≈ 50 * (50*1000)/(50*1000+450*100) ≈ 26 of 50
        assert heavy >= 15

    def test_nonpositive_weight_raises(self, spark):
        from unitdb_spark.operators.sampling import weighted_sample

        df = spark.createDataFrame([(1, 5), (2, 0)], "id long, w long")
        with pytest.raises(Exception, match="nonpositive weight"):
            weighted_sample(df, n=1, weight_col="w", key_col="id").collect()

    def test_rank_ordering_matches_race(self, spark):
        from unitdb_spark.operators.sampling import weighted_sample

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        got = weighted_sample(docs.select("doc_id", "n_chars"), n=10,
                              weight_col="n_chars", key_col="doc_id").collect()
        keys = [(r["race_r"], r["doc_id"]) for r in
                sorted(got, key=lambda r: r["sample_rank"])]
        assert keys == sorted(keys)


class TestUnigramLogprob:
    def test_typical_doc_scores_lower_nll_than_rare_soup(self, spark):
        from unitdb_spark.operators.tfidf import unigram_logprob

        common = "the cat sat on the mat " * 10
        rows = [(i, common) for i in range(1, 9)]
        rows.append((9, "zyx wvu tsr qpo nml kji"))  # singleton-vocab soup
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["nll_r"] for r in unigram_logprob(docs).collect()}
        assert out[9] > out[1]  # rare tokens -> higher cross-entropy

    def test_identical_docs_identical_scores(self, spark):
        from unitdb_spark.operators.tfidf import unigram_logprob

        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e"), (3, "a b x y z")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: (r["n_tokens"], r["logp_sum_r"], r["nll_r"])
               for r in unigram_logprob(docs).collect()}
        assert out[1] == out[2] != out[3]

    def test_repartition_invariant(self, spark):
        """The DECIMAL contribution sum is order-free: a different
        partitioning must produce bitwise-identical scores."""
        from unitdb_spark.operators.tfidf import unigram_logprob

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = {r["doc_id"]: (r["logp_sum_r"], r["nll_r"])
             for r in unigram_logprob(docs).collect()}
        b = {r["doc_id"]: (r["logp_sum_r"], r["nll_r"])
             for r in unigram_logprob(docs.repartition(13)).collect()}
        assert a == b and len(a) > 0


class TestZorder:
    def test_key_matches_python_reference(self, spark):
        from unitdb_spark.operators.zorder import zorder_key

        def morton(x, y, bits=16):
            z = 0
            for i in range(bits):
                z |= ((x >> i) & 1) << (2 * i)
                z |= ((y >> i) & 1) << (2 * i + 1)
            return z

        rows = [(x, y) for x in (0, 1, 5, 255, 65535, 70000)
                for y in (0, 2, 77, 1439, 65535)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = df.select("x", "y", zorder_key("x", "y").alias("z")).collect()
        for r in got:
            assert r["z"] == morton(min(r["x"], 65535), min(r["y"], 65535))

    def test_layout_clusters_both_dimensions(self, spark, tmp_path):
        """The point of Z-order vs a single-column sort: per output
        partition, BOTH axes have a small bounding box."""
        import random

        from unitdb_spark.operators.zorder import zorder_layout

        rng = random.Random(7)
        rows = [(rng.randrange(4096), rng.randrange(4096)) for _ in range(20000)]
        df = spark.createDataFrame(rows, "x long, y long")
        laid = zorder_layout(df, "x", "y", bits=12, num_partitions=16)
        spans = (
            laid.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .agg(F.avg("sx").alias("ax"), F.avg("sy").alias("ay"))
            .first()
        )
        # random layout would give ~4095 span on both axes; a 16-way
        # Z-layout bounds each partition's box well under half the domain
        assert spans["ax"] < 2048 and spans["ay"] < 2048

    def test_bits_validation(self, spark):
        from unitdb_spark.operators.zorder import zorder_key

        with pytest.raises(ValueError, match="bits"):
            zorder_key("x", "y", bits=0)


class TestContainment:
    def test_excerpt_detected_despite_low_jaccard(self, spark):
        """A 10-gram excerpt inside a 60-token doc: Jaccard ~ 8/58 is
        far below any dedup threshold, containment of the excerpt is
        1.0 — the case the asymmetric measure exists for."""
        from unitdb_spark.operators.dedup import (
            lsh_containment_pairs,
            lsh_verified_pairs,
        )

        quote = " ".join(f"q{i}" for i in range(10))
        big = quote + " " + " ".join(f"f{i}" for i in range(50))
        rows = [(1, quote), (2, big)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = lsh_containment_pairs(
            docs, num_hashes=16, bands=16, threshold=0.9, hash_family="md5",
        ).collect()
        assert len(got) == 1
        r = got[0]
        assert {r["id_a"], r["id_b"]} == {1, 2}
        small_dir = r["c_ab"] if r["id_a"] == 1 else r["c_ba"]
        assert small_dir == 1.0
        # the symmetric verify at the same banding finds nothing
        sym = lsh_verified_pairs(
            docs, num_hashes=16, bands=16, threshold=0.5, hash_family="md5",
        ).collect()
        assert sym == []

    def test_directions_are_consistent(self, spark):
        from unitdb_spark.operators.dedup import lsh_containment_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        for r in lsh_containment_pairs(docs, threshold=0.0).collect():
            assert r["containment"] == max(r["c_ab"], r["c_ba"])
            assert 0.0 <= r["c_ab"] <= 1.0 and 0.0 <= r["c_ba"] <= 1.0


class TestWeightedStratified:
    def test_exactly_n_per_stratum(self, spark):
        from unitdb_spark.operators.sampling import weighted_sample_per_stratum

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = weighted_sample_per_stratum(
            docs.select("doc_id", "source", "n_chars"),
            n_per=5, weight_col="n_chars", key_col="doc_id",
            strata_col="source",
        )
        counts = {r["source"]: r["n"] for r in
                  out.groupBy("source").agg(F.count("*").alias("n")).collect()}
        sizes = {r["source"]: r["n"] for r in
                 docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
        for src, n in counts.items():
            assert n == min(5, sizes[src])
        assert set(counts) == set(sizes)

    def test_global_and_stratified_agree_on_race_keys(self, spark):
        """Same salt → same race key per row: a stratum winner with a
        globally-small key must also win the global race."""
        from unitdb_spark.operators.sampling import (
            weighted_sample,
            weighted_sample_per_stratum,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "source", "n_chars")
        glob = {r["doc_id"]: r["race_r"]
                for r in weighted_sample(docs, n=10, weight_col="n_chars",
                                         key_col="doc_id").collect()}
        strat = {r["doc_id"]: r["race_r"]
                 for r in weighted_sample_per_stratum(
                     docs, n_per=10, weight_col="n_chars", key_col="doc_id",
                     strata_col="source").collect()}
        for d, k in glob.items():
            assert strat.get(d) == k  # global winners all rank in-stratum


class TestBigramPmi:
    def test_collocation_beats_independent_pair(self, spark):
        from unitdb_spark.operators.tfidf import bigram_pmi

        # "strong coffee" always adjacent; "strong" and "tea" both
        # frequent but never adjacent
        rows = [(i, "strong coffee " + ("tea time " * 3)) for i in range(10)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["bigram"]: r for r in
               bigram_pmi(docs, min_count=5, topk=20).collect()}
        assert "strong coffee" in out
        assert out["strong coffee"]["pmi_r"] > out["tea time"]["pmi_r"] - 10
        assert "strong tea" not in out

    def test_min_count_filters(self, spark):
        from unitdb_spark.operators.tfidf import bigram_pmi

        docs = spark.createDataFrame(
            [(1, "rare pair common run common run common run common run")],
            "doc_id long, text string",
        )
        got = {r["bigram"] for r in bigram_pmi(docs, min_count=3, topk=10).collect()}
        assert "rare pair" not in got and "common run" in got


class TestIncrementalDedup:
    def _run(self, spark, corpus_rows, new_rows, **kw):
        from unitdb_spark.operators.dedup import incremental_dedup

        corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        new = spark.createDataFrame(new_rows, "doc_id long, text string")
        return {r["doc_id"]: r for r in incremental_dedup(new, corpus, **kw).collect()}

    def test_exact_near_and_kept(self, spark):
        phrase = " ".join(f"w{i}" for i in range(30))
        near = " ".join(f"w{i}" for i in range(28)) + " zz yy"
        corpus = [(1, phrase), (2, "completely different corpus text here ok")]
        new = [
            (100, phrase),                       # exact copy of 1
            (101, near),                         # near-dup of 1
            (102, "fresh novel content nothing like the corpus at all"),
        ]
        out = self._run(spark, corpus, new, num_hashes=16, bands=16,
                        threshold=0.5)
        assert out[100]["status"] == "exact_dup" and out[100]["match_id"] == 1
        assert out[100]["jaccard_r"] is None
        assert out[101]["status"] == "near_dup" and out[101]["match_id"] == 1
        assert out[101]["jaccard_r"] >= 0.5
        assert out[102]["status"] == "kept" and out[102]["match_id"] is None

    def test_intra_batch_dups_not_rejected(self, spark):
        """Two identical NEW docs with no corpus match both stay 'kept'
        — cross-side restriction is the operator's contract."""
        t = " ".join(f"n{i}" for i in range(30))
        out = self._run(
            spark, [(1, "unrelated corpus doc words entirely other")],
            [(100, t), (101, t)], num_hashes=16, bands=16, threshold=0.5,
        )
        assert out[100]["status"] == "kept" and out[101]["status"] == "kept"

    def test_best_match_is_max_jaccard(self, spark):
        base = " ".join(f"w{i}" for i in range(30))
        closer = base + " x1"
        farther = " ".join(f"w{i}" for i in range(20)) + " " + " ".join(
            f"q{i}" for i in range(10))
        out = self._run(
            spark, [(1, farther), (2, closer)], [(100, base + " x1 x2")],
            num_hashes=16, bands=16, threshold=0.2,
        )
        assert out[100]["status"] == "near_dup" and out[100]["match_id"] == 2


class TestRobustZscore:
    def test_outlier_immune_scale(self, spark):
        """One 1000x spike: classic sigma would absorb it; MAD flags
        it and ONLY it."""
        from unitdb_spark.operators.timeseries import robust_zscore

        rows = [(i, "k", 10.0 + (i % 5) * 0.1) for i in range(20)]
        rows.append((99, "k", 10000.0))
        df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
        out = {r["event_id"]: r for r in robust_zscore(
            df, keys=["event_type"], value_col="value", id_cols=["event_id"]
        ).collect()}
        assert out[99]["is_outlier"] is True
        assert all(not out[i]["is_outlier"] for i in range(20))

    def test_even_count_median_interpolates(self, spark):
        from unitdb_spark.operators.timeseries import robust_zscore

        df = spark.createDataFrame(
            [(1, "k", 1.0), (2, "k", 2.0), (3, "k", 3.0), (4, "k", 10.0)],
            "event_id long, event_type string, value double",
        )
        out = robust_zscore(df, keys=["event_type"], value_col="value",
                            id_cols=["event_id"]).collect()
        assert out[0]["med"] == 2.5  # (2+3)/2

    def test_constant_series_and_nulls_yield_null_scores(self, spark):
        from unitdb_spark.operators.timeseries import robust_zscore

        rows = [(1, "c", 5.0), (2, "c", 5.0), (3, "c", 5.0), (4, "c", None)]
        df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
        out = {r["event_id"]: r for r in robust_zscore(
            df, keys=["event_type"], value_col="value", id_cols=["event_id"]
        ).collect()}
        # MAD = 0 -> no scale; every score/flag NULL, rows retained
        assert len(out) == 4
        assert all(out[i]["robust_z_r"] is None for i in (1, 2, 3, 4))
        assert out[4]["value"] is None


class TestHammingAnn:
    def test_sketch_matches_python_reference(self, spark):
        from unitdb_spark.operators.similarity import sign_sketch_words

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(20)
        got = emb.select(
            "vec_id", "embedding", sign_sketch_words("embedding", 64).alias("sk")
        ).collect()
        for r in got:
            w0 = sum(1 << i for i in range(32) if r["embedding"][i] >= 0)
            w1 = sum(1 << (i - 32) for i in range(32, 64) if r["embedding"][i] >= 0)
            assert list(r["sk"]) == [w0, w1]

    def test_self_distance_zero_and_ordering(self, spark):
        from unitdb_spark.operators.similarity import hamming_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = hamming_topk(emb, q, dim=64, k=5, exclude_self=False).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, rows in by_q.items():
            rows.sort(key=lambda r: r["rank"])
            assert rows[0]["vec_id"] == qid and rows[0]["hamming"] == 0
            dists = [r["hamming"] for r in rows]
            assert dists == sorted(dists)

    def test_coarse_recall_against_exact(self, spark):
        """The sketch is a coarse filter, not noise: hamming top-10
        should recover a solid chunk of the exact cosine top-10."""
        from unitdb_spark.operators.similarity import cosine_topk, hamming_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter("vec_id < 5").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        ham = {(r["query_id"], r["vec_id"])
               for r in hamming_topk(emb, q, dim=64, k=10).collect()}
        exact = {(r["query_id"], r["vec_id"])
                 for r in cosine_topk(emb, q, k=10).collect()}
        # chance overlap is k/N = 2%; the 1-bit sketch lands ~25% on
        # these unrotated synthetic embeddings — assert an order of
        # magnitude above chance, not a tuned recall target
        assert len(ham & exact) >= len(exact) * 0.15


class TestScd2:
    def test_runs_collapse_into_intervals(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import scd2_intervals

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, t0, 10, "a"), (2, t0 + dt.timedelta(minutes=1), 10, "a"),
            (3, t0 + dt.timedelta(minutes=2), 10, "b"),
            (4, t0 + dt.timedelta(minutes=3), 10, "a"),
            (5, t0, 20, "x"),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        )
        out = scd2_intervals(df, ["user_id"], "ts", "event_type",
                             order_cols=["event_id"]).collect()
        u10 = sorted([r for r in out if r["user_id"] == 10],
                     key=lambda r: r["valid_from_us"])
        assert [r["attr"] for r in u10] == ["a", "b", "a"]  # a-run collapsed
        assert u10[0]["valid_to_us"] == u10[1]["valid_from_us"]
        assert u10[1]["valid_to_us"] == u10[2]["valid_from_us"]
        assert u10[2]["is_current"] and not u10[0]["is_current"]
        u20 = [r for r in out if r["user_id"] == 20]
        assert len(u20) == 1 and u20[0]["is_current"]


class TestTimeWeightedAvg:
    def test_holding_time_beats_sample_rate(self, spark):
        """Value 100 held 50 min + value 0 held 10 min (sampled 10x as
        often): plain AVG would be dragged toward 0, TWA is ~83.3."""
        import datetime as dt

        from unitdb_spark.operators.timeseries import time_weighted_avg

        t0 = dt.datetime(2024, 1, 1)
        rows = [(1, t0, "k", 100.0)]
        rows += [(10 + i, t0 + dt.timedelta(minutes=50 + i), "k", 0.0)
                 for i in range(10)]  # minutes 50..59, same hour bucket
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        out = time_weighted_avg(df, ["event_type"], "ts", "value",
                                bucket="1 hour",
                                order_cols=["event_id"]).collect()
        assert len(out) == 1
        # span = 59 min; only the 100-value holds time (50 min):
        # twa = 100 * 50/59 = 84.745763; plain AVG would say 9.09
        assert abs(out[0]["twa_r"] - 84.745763) < 1e-6

    def test_single_sample_bucket_is_null(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import time_weighted_avg

        df = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1), "k", 5.0)],
            "event_id long, ts timestamp, event_type string, value double",
        )
        out = time_weighted_avg(df, ["event_type"], "ts", "value",
                                order_cols=["event_id"]).collect()
        assert out[0]["n"] == 1 and out[0]["twa_r"] is None


class TestEvaluation:
    def test_confusion_matrix_counts_and_recall(self, spark):
        from unitdb_spark.operators.evaluation import confusion_matrix

        rows = [("a", "a")] * 8 + [("a", "b")] * 2 + [("b", "b")] * 5
        df = spark.createDataFrame(rows, "label string, pred string")
        out = {(r["label"], r["pred"]): r
               for r in confusion_matrix(df, "label", "pred").collect()}
        assert out[("a", "a")]["n"] == 8
        assert out[("a", "a")]["label_total"] == 10
        assert out[("a", "a")]["recall_ppm"] == 800_000
        assert out[("b", "b")]["recall_ppm"] == 1_000_000

    def test_accuracy_report_macro_vs_micro(self, spark):
        """Imbalanced classes: accuracy is dominated by the big class,
        macro recall is not — the report must show both."""
        from unitdb_spark.operators.evaluation import accuracy_report

        rows = [("big", "big")] * 98 + [("small", "big")] * 2
        df = spark.createDataFrame(rows, "label string, pred string")
        r = accuracy_report(df, "label", "pred").first()
        assert r["accuracy_ppm"] == 980_000
        assert r["n_classes"] == 2
        assert r["macro_recall_ppm"] == 500_000  # (100% + 0%) / 2

    def test_class_with_no_correct_rows_drags_macro(self, spark):
        from unitdb_spark.operators.evaluation import accuracy_report

        rows = [("a", "a"), ("b", "a"), ("c", "a")]
        df = spark.createDataFrame(rows, "label string, pred string")
        r = accuracy_report(df, "label", "pred").first()
        assert r["n_classes"] == 3
        assert r["macro_recall_ppm"] == 333_333


class TestCharEntropy:
    def test_known_entropies(self, spark):
        from unitdb_spark.functions.text import char_entropy

        from unitdb_spark.functions.exactlog import ulog10_micro_py as u

        rows = [
            (1, "aaaaaaaa"),          # H = 0
            (2, "abababab"),          # H = 1 bit  = µ(8) − µ(4)
            (3, "abcdabcd"),          # H = 2 bits = µ(8) − µ(2)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in char_entropy(docs).collect()}
        assert out[1]["h_micro"] == 0 and out[1]["n_unique"] == 1
        assert out[2]["h_micro"] == u(8) - u(4)      # ≈ log10(2)·1e6
        assert out[3]["h_micro"] == u(8) - u(2)      # ≈ 2·log10(2)·1e6
        assert abs(out[2]["h_micro"] - 301_030) <= 2
        assert out[3]["n_chars_m"] == 8

    def test_gibberish_scores_above_text(self, spark):
        from unitdb_spark.functions.text import char_entropy

        rows = [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "x9!Kq2@Zw8#Jv4$Yt6%Hr1&Gp3*Fo5(En7)Dm0_Cl~Bk^Aj"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["h_micro"] for r in char_entropy(docs).collect()}
        assert out[2] > out[1]

    def test_multibyte_chars_counted_as_chars(self, spark):
        from unitdb_spark.functions.text import char_entropy

        from unitdb_spark.functions.exactlog import ulog10_micro_py as u

        docs = spark.createDataFrame([(1, "ééàà")], "doc_id long, text string")
        out = char_entropy(docs).collect()[0]
        assert out["n_chars_m"] == 4 and out["n_unique"] == 2
        assert out["h_micro"] == u(4) - u(2)         # 1 bit in µlog10


class TestMultiprobeLsh:
    def test_superset_of_single_probe_and_better_recall(self, spark):
        from unitdb_spark.operators.similarity import (
            cosine_topk,
            lsh_bucket_topk,
            lsh_multiprobe_topk,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter("vec_id < 5").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        # k > corpus size: no rank cut, results ARE the candidate sets —
        # every single-probe candidate is also a multi-probe candidate
        single = {(r["query_id"], r["vec_id"])
                  for r in lsh_bucket_topk(emb, q, k=1000, n_planes=6).collect()}
        multi = {(r["query_id"], r["vec_id"])
                 for r in lsh_multiprobe_topk(emb, q, k=1000, n_planes=6).collect()}
        assert single < multi  # strictly more candidates reached
        exact = {(r["query_id"], r["vec_id"])
                 for r in cosine_topk(emb, q, k=10).collect()}
        m10 = {(r["query_id"], r["vec_id"])
               for r in lsh_multiprobe_topk(emb, q, k=10, n_planes=6).collect()}
        s10 = {(r["query_id"], r["vec_id"])
               for r in lsh_bucket_topk(emb, q, k=10, n_planes=6).collect()}
        assert len(m10 & exact) >= len(s10 & exact)

    def test_no_duplicate_candidates(self, spark):
        from unitdb_spark.operators.similarity import lsh_multiprobe_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = lsh_multiprobe_topk(emb, q, k=100, n_planes=6).collect()
        pairs = [(r["query_id"], r["vec_id"]) for r in got]
        assert len(pairs) == len(set(pairs))


class TestReviewFixesRound4b:
    """Regression pins for the mid-session review findings."""

    def test_char_entropy_survives_empty_doc(self, spark):
        from unitdb_spark.functions.text import char_entropy

        docs = spark.createDataFrame(
            [(1, "abab"), (2, "")], "doc_id long, text string"
        )
        from unitdb_spark.functions.exactlog import ulog10_micro_py as u

        out = {r["doc_id"]: r for r in char_entropy(docs).collect()}
        # empty doc has no char distribution -> absent (both engines)
        assert set(out) == {1} and out[1]["h_micro"] == u(4) - u(2)

    def test_scd2_same_timestamp_ties_deterministic(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import scd2_intervals

        t0 = dt.datetime(2024, 1, 1)
        rows = [(1, t0, 1, "a"), (2, t0, 1, "b"), (3, t0, 1, "c")]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        )
        outs = [
            sorted(
                ((r["attr"], r["is_current"]) for r in
                 scd2_intervals(d, ["user_id"], "ts", "event_type",
                                order_cols=["event_id"]).collect())
            )
            for d in (df, df.repartition(5))
        ]
        assert outs[0] == outs[1]
        # the LAST change by event_id order is the open interval
        assert ("c", True) in outs[0] and ("a", False) in outs[0]

    def test_hamming_dim_mismatch_raises(self, spark):
        from unitdb_spark.operators.similarity import hamming_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter("vec_id < 2").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        with pytest.raises(ValueError, match="dim=128"):
            hamming_topk(emb, q, dim=128)

    def test_accuracy_report_empty_input(self, spark):
        from unitdb_spark.operators.evaluation import accuracy_report

        df = spark.createDataFrame([], "label string, pred string")
        r = accuracy_report(df, "label", "pred").first()
        assert r["n_rows"] == 0 and r["accuracy_ppm"] == 0

    def test_bmp_negative_width_is_null_row(self, spark):
        import struct

        from unitdb_spark.functions.media_codec import build_bmp, parse_media

        b = bytearray(build_bmp(10, 20))
        b[18:22] = struct.pack("<i", -10)
        assert parse_media(bytes(b))["container"] is None


class TestCusum:
    def test_level_shift_alarms_where_zscore_silent(self, spark):
        """A +3-unit persistent shift in a sigma=2-ish series: no
        single point is extreme, but CUSUM accumulates the drift."""
        import datetime as dt

        from unitdb_spark.operators.timeseries import cusum, trailing_zscore

        t0 = dt.datetime(2024, 1, 1)
        vals = [10.0, 12.0, 8.0, 11.0, 9.0, 10.0, 12.0, 8.0, 10.0, 11.0]
        vals += [13.0, 15.0, 11.0, 14.0, 12.0, 13.0, 15.0, 11.0, 13.0, 14.0]
        rows = [(i, t0 + dt.timedelta(minutes=i), "k", v)
                for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        out = cusum(df, ["event_type"], ["ts", "event_id"], "value", h=10.0)
        rows_out = out.collect()
        assert any(r["alarm"] for r in rows_out)  # the drift IS caught
        # classic CUSUM segmentation: against the whole-series mean the
        # prefix sum bottoms out exactly at the last pre-shift point
        argmin = min(rows_out, key=lambda r: r["s_r"])["event_id"]
        assert argmin == 9
        z = trailing_zscore(df, ["event_type"], ["ts", "event_id"],
                            "value", n=10, z=3.0)
        assert not any(r["is_anomaly"] for r in z.collect())

    def test_stable_series_stays_quiet(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import cusum

        t0 = dt.datetime(2024, 1, 1)
        rows = [(i, t0 + dt.timedelta(minutes=i), "k", 10.0 + (i % 3))
                for i in range(50)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        out = cusum(df, ["event_type"], ["ts", "event_id"], "value", h=10.0)
        assert not any(r["alarm"] for r in out.collect())

    def test_statistics_nonnegative(self, spark):
        from unitdb_spark.operators.timeseries import cusum

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        if dict(ev.dtypes).get("ts") == "timestamp_ntz":
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        out = cusum(ev, ["event_type"], ["ts", "event_id"], "value").collect()
        assert all(r["cusum_pos_r"] >= 0 and r["cusum_neg_r"] >= 0 for r in out)


class TestDecileStats:
    def test_buckets_partition_ordered_values(self, spark):
        from unitdb_spark.operators.olap import decile_stats

        rows = [(i, "k", float(i)) for i in range(100)]
        df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
        out = sorted(
            decile_stats(df, ["event_type"], "value", ["event_id"]).collect(),
            key=lambda r: r["decile"],
        )
        assert [r["n"] for r in out] == [10] * 10
        assert out[0]["lo"] == 0.0 and out[0]["hi"] == 9.0
        assert out[9]["lo"] == 90.0 and out[9]["hi"] == 99.0
        assert out[0]["mean_r"] == 4.5
        # buckets tile the range: each lo follows the previous hi
        for a, b in zip(out, out[1:]):
            assert b["lo"] > a["hi"] or b["lo"] == a["hi"]


class TestConstraints:
    def test_all_four_constraint_kinds_count_violations(self, spark):
        from unitdb_spark.operators.constraints import (
            Constraints,
            check_constraints,
        )

        df = spark.createDataFrame(
            [(1, "a", 10), (2, "a", None), (2, "zz", 30), (4, "b", 40)],
            "id long, cat string, parent_ref long",
        )
        parent = spark.createDataFrame([(10,), (30,), (40,)], "pk long")
        spec = Constraints(
            not_null=["parent_ref"],
            unique=[["id"]],
            accepted_values={"cat": ["a", "b"]},
            relationships=[("parent_ref", parent, "pk")],
        )
        out = {r["constraint"]: r["n_violations"]
               for r in check_constraints(df, spec).collect()}
        assert out["not_null:parent_ref"] == 1
        assert out["unique:id"] == 1          # id=2 twice -> 1 excess row
        assert out["accepted_values:cat"] == 1  # 'zz'
        assert out["relationship:parent_ref->pk"] == 0  # nulls ignored

    def test_clean_table_reports_all_zero(self, spark):
        from unitdb_spark.operators.constraints import (
            Constraints,
            check_constraints,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        spec = Constraints(not_null=["event_id"], unique=[["event_id"]])
        out = check_constraints(ev, spec).collect()
        assert all(r["n_violations"] == 0 for r in out) and len(out) == 2

    def test_empty_spec_raises(self, spark):
        from unitdb_spark.operators.constraints import (
            Constraints,
            check_constraints,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        with pytest.raises(ValueError, match="empty"):
            check_constraints(ev, Constraints())


class TestKmvSketchMerge:
    def test_merge_of_splits_equals_direct(self, spark):
        """Associativity on real data: merge(per-(type,day)) ==
        direct per-type, including the kth hash and IEEE estimate."""
        from unitdb_spark.operators.sketch import (
            kmv_distinct,
            kmv_merge,
            kmv_sketch,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        ev = ev.withColumn("day", F.to_date("ts"))
        daily = kmv_sketch(ev, ["event_type", "day"], "user_id", k=16)
        merged = {r["event_type"]: (r["n_kept"], r["kth_hash"], r["kmv_est"])
                  for r in kmv_merge(daily, ["event_type"], k=16).collect()}
        direct = {r["event_type"]: (r["n_kept"], r["kth_hash"], r["kmv_est"])
                  for r in kmv_distinct(ev, ["event_type"], "user_id",
                                        k=16).collect()}
        assert merged == direct and len(merged) > 0

    def test_sketch_is_sorted_bottom_k(self, spark):
        from unitdb_spark.operators.sketch import kmv_sketch

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        for r in kmv_sketch(ev, ["event_type"], "user_id", k=8).collect():
            sk = list(r["sketch"])
            assert sk == sorted(sk) and len(sk) <= 8


class TestIntervalLookup:
    def _setup(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import scd2_intervals

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, t0, 1, "a"),
            (2, t0 + dt.timedelta(hours=1), 1, "b"),
            (3, t0 + dt.timedelta(hours=2), 1, "c"),
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        )
        ivl = scd2_intervals(ev, ["user_id"], "ts", "event_type",
                             order_cols=["event_id"])
        return t0, ivl

    def _probe(self, spark, t0, ivl, offsets_min):
        import datetime as dt

        from unitdb_spark.operators.asof import interval_lookup

        probes = spark.createDataFrame(
            [(i, 1, int((t0 + dt.timedelta(minutes=m)).timestamp() * 1e6))
             for i, m in enumerate(offsets_min)],
            "probe_id long, user_id long, t_us long",
        )
        return {
            r["probe_id"]: (r["attr"], r["in_interval"])
            for r in interval_lookup(
                probes, ivl, by=["user_id"], t_col="t_us",
                attr_cols=["attr"],
            ).collect()
        }

    def test_closed_open_semantics_and_open_tail(self, spark):
        t0, ivl = self._setup(spark)
        got = self._probe(spark, t0, ivl, [-10, 0, 30, 60, 90, 500])
        assert got[0] == (None, False)      # before any interval
        assert got[1] == ("a", True)        # t == valid_from -> new interval
        assert got[2] == ("a", True)
        assert got[3] == ("b", True)        # boundary belongs to 'b'
        assert got[4] == ("b", True)
        assert got[5] == ("c", True)        # open interval extends forever


class TestMultitouch:
    def test_linear_weights_sum_to_million(self, spark):
        import datetime as dt

        from unitdb_spark.operators.asof import multitouch_attribution

        t0 = dt.datetime(2024, 1, 1)
        clicks = spark.createDataFrame(
            [(i, 1, t0 + dt.timedelta(hours=i)) for i in range(3)],
            "touch_id long, user_id long, ts timestamp",
        )
        buys = spark.createDataFrame(
            [(100, 1, t0 + dt.timedelta(hours=5))],
            "conv_id long, user_id long, ts timestamp",
        )
        out = multitouch_attribution(
            buys, clicks, by=["user_id"], model="linear"
        ).collect()
        assert len(out) == 3
        assert sum(r["weight_ppm"] for r in out) == 1_000_000
        # floor(1e6/3)=333333 twice; the last touch absorbs +1
        by_rank = {r["touch_rank"]: r["weight_ppm"] for r in out}
        assert by_rank[1] == by_rank[2] == 333_333 and by_rank[3] == 333_334

    def test_u_shaped_and_window_bound(self, spark):
        import datetime as dt

        from unitdb_spark.operators.asof import multitouch_attribution

        t0 = dt.datetime(2024, 1, 1)
        clicks = spark.createDataFrame(
            [(0, 1, t0 - dt.timedelta(days=3))]  # outside the lookback
            + [(i, 1, t0 + dt.timedelta(hours=i)) for i in range(1, 5)],
            "touch_id long, user_id long, ts timestamp",
        )
        buys = spark.createDataFrame(
            [(100, 1, t0 + dt.timedelta(hours=6))],
            "conv_id long, user_id long, ts timestamp",
        )
        out = multitouch_attribution(
            buys, clicks, by=["user_id"], model="u_shaped"
        ).collect()
        assert len(out) == 4  # the stale click is excluded
        by_rank = {r["touch_rank"]: r["weight_ppm"] for r in out}
        assert by_rank[1] == 400_000
        assert by_rank[2] == by_rank[3] == 100_000
        assert by_rank[4] == 400_000
        assert sum(by_rank.values()) == 1_000_000


class TestLateness:
    def test_in_order_stream_has_zero_lateness(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import watermark_lateness

        t0 = dt.datetime(2024, 1, 1)
        rows = [(i, t0 + dt.timedelta(minutes=i), "k") for i in range(10)]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
        r = watermark_lateness(df, ["event_type"], "ts", ["event_id"]).first()
        assert r["n_late"] == 0 and r["max_late_us"] == 0

    def test_late_row_measured_against_running_max(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import watermark_lateness

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, t0 + dt.timedelta(minutes=10), "k"),
            (2, t0 + dt.timedelta(minutes=3), "k"),   # 7 min late
            (3, t0 + dt.timedelta(minutes=11), "k"),
        ]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
        r = watermark_lateness(df, ["event_type"], "ts", ["event_id"]).first()
        assert r["n_late"] == 1 and r["max_late_us"] == 7 * 60 * 1_000_000


class TestBasketPairs:
    def test_support_and_lift(self, spark):
        from unitdb_spark.operators.olap import basket_pairs

        # A and B always together (5 baskets), C independent-ish
        rows = []
        for b in range(5):
            rows += [(b, "A"), (b, "B")]
        for b in range(5, 10):
            rows += [(b, "C")]
        rows += [(0, "C")]
        df = spark.createDataFrame(rows, "order_id long, item string")
        out = {(r["item_a"], r["item_b"]): r for r in basket_pairs(
            df, "order_id", "item", min_support=2).collect()}
        ab = out[("A", "B")]
        assert ab["n_ab"] == 5 and ab["n_a"] == 5 and ab["n_b"] == 5
        # lift = (5/10)/((5/10)*(5/10)) = 2.0 — perfect co-occurrence
        assert ab["lift_r"] == 2.0
        assert ("A", "C") not in out  # support 1 < 2

    def test_duplicate_items_in_basket_count_once(self, spark):
        from unitdb_spark.operators.olap import basket_pairs

        df = spark.createDataFrame(
            [(1, "A"), (1, "A"), (1, "B"), (2, "A"), (2, "B")],
            "order_id long, item string",
        )
        out = basket_pairs(df, "order_id", "item", min_support=1).collect()
        assert len(out) == 1 and out[0]["n_ab"] == 2


class TestPercentRank:
    def test_endpoints_and_monotonicity(self, spark):
        from unitdb_spark.operators.olap import percent_rank_ppm

        rows = [(i, "k", float(i * 3)) for i in range(11)]
        df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
        out = sorted(percent_rank_ppm(df, ["event_type"], "value",
                                      ["event_id"]).collect(),
                     key=lambda r: r["rank"])
        assert out[0]["pr_ppm"] == 0 and out[-1]["pr_ppm"] == 1_000_000
        prs = [r["pr_ppm"] for r in out]
        assert prs == sorted(prs)
        assert out[5]["pr_ppm"] == 500_000  # the median sits at half

    def test_single_row_key_is_zero(self, spark):
        from unitdb_spark.operators.olap import percent_rank_ppm

        df = spark.createDataFrame([(1, "k", 9.0)],
                                   "event_id long, event_type string, value double")
        assert percent_rank_ppm(df, ["event_type"], "value",
                                ["event_id"]).first()["pr_ppm"] == 0


class TestPercentRankTies:
    def test_equal_scores_equal_percentiles(self, spark):
        """The review-pinned tie contract: identical values MUST map to
        identical pr_ppm (rank semantics, not row_number)."""
        from unitdb_spark.operators.olap import percent_rank_ppm

        rows = [(1, "k", 1.0), (2, "k", 5.0), (3, "k", 5.0), (4, "k", 9.0)]
        df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
        out = {r["event_id"]: r["pr_ppm"] for r in percent_rank_ppm(
            df, ["event_type"], "value", ["event_id"]).collect()}
        assert out[2] == out[3] == 333_333
        assert out[1] == 0 and out[4] == 1_000_000


class TestPsi:
    def test_identical_distributions_score_zero(self, spark):
        from unitdb_spark.operators.sketch import population_stability

        rows = [(i, "k", float(i % 100) * 10) for i in range(500)]
        df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
        r = population_stability(df, df, "value", ["event_type"]).first()
        assert r["psi_r"] == 0.0

    def test_shift_raises_psi(self, spark):
        from unitdb_spark.operators.sketch import population_stability

        a = spark.createDataFrame(
            [(i, "k", 100.0 + (i % 50)) for i in range(500)],
            "event_id long, event_type string, value double",
        )
        b = spark.createDataFrame(
            [(i, "k", 700.0 + (i % 50)) for i in range(500)],
            "event_id long, event_type string, value double",
        )
        r = population_stability(a, b, "value", ["event_type"]).first()
        assert r["psi_r"] > 0.25  # the standard 'shifted' threshold

    def test_empty_buckets_pay_epsilon_not_infinity(self, spark):
        import math

        from unitdb_spark.operators.sketch import population_stability

        a = spark.createDataFrame([(1, "k", 50.0)],
                                  "event_id long, event_type string, value double")
        b = spark.createDataFrame([(1, "k", 950.0)],
                                  "event_id long, event_type string, value double")
        r = population_stability(a, b, "value", ["event_type"]).first()
        assert r["psi_r"] is not None and math.isfinite(r["psi_r"])


class TestSnapshotDiff:
    def test_added_removed_changed(self, spark):
        from unitdb_spark.operators.profile import snapshot_diff

        old = spark.createDataFrame(
            [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
            "k long, price double, status string",
        )
        new = spark.createDataFrame(
            [(2, 25.0, "b"), (3, 30.0, "x"), (4, 40.0, "d")],
            "k long, price double, status string",
        )
        out = {r["entity"]: r for r in snapshot_diff(
            old, new, ["k"], ["price", "status"]).collect()}
        rows = out["_rows"]
        assert rows["n_added"] == 1 and rows["n_removed"] == 1
        assert rows["n_changed"] == 2  # k=2 price, k=3 status
        assert out["price"]["n_changed"] == 1
        assert out["status"]["n_changed"] == 1

    def test_null_safe_compare(self, spark):
        from unitdb_spark.operators.profile import snapshot_diff

        old = spark.createDataFrame([(1, None), (2, 5.0)], "k long, v double")
        new = spark.createDataFrame([(1, None), (2, None)], "k long, v double")
        out = {r["entity"]: r for r in snapshot_diff(
            old, new, ["k"], ["v"]).collect()}
        assert out["v"]["n_changed"] == 1  # NULL==NULL is unchanged


class TestLongestDupSpan:
    def test_block_vs_scattered(self, spark):
        from unitdb_spark.operators.substring import longest_dup_span

        block = " ".join(f"w{i}" for i in range(20))  # 20-token block
        a = " ".join(f"a{i}" for i in range(8))
        b = " ".join(f"b{i}" for i in range(8))
        filler = " ".join(f"f{i}" for i in range(8))
        rows = [
            (1, block + " tail1 tail2"),       # one long run
            (2, block),
            (3, f"{a} {filler} {b} x y"),       # two scattered 8-spans
            (4, a), (5, b),
            (6, "no duplicates here at all truly nothing repeats ok"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               longest_dup_span(docs, k=8, min_occ=2).collect()}
        assert out[1]["longest_span_tokens"] == 20
        assert out[3]["longest_span_tokens"] == 8  # not 16: runs split
        assert out[3]["n_dup_pos"] == 2
        assert out[6]["longest_span_tokens"] == 0


class TestPrefixJaccard:
    """setjoin.prefix_jaccard_pairs — the unblocked exact path."""

    def test_matches_brute_force_on_corpus_sample(self, spark):
        from unitdb_spark.operators.setjoin import prefix_jaccard_pairs

        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 120)
        )
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in prefix_jaccard_pairs(docs, threshold=0.35).collect()
        }
        # brute force over the same shingle sets (cross join is fine
        # at 120 docs -- this is the ground truth the filter must equal)
        from unitdb_spark.operators.dedup import raw_tokens, shingles_from_tokens

        t = docs.select(
            F.col("doc_id").alias("_id"), raw_tokens("text").alias("_raw")
        ).select("_id", shingles_from_tokens("_raw", 3).alias("_tok"))
        a = t.select(F.col("_id").alias("id_a"), F.col("_tok").alias("ta"))
        b = t.select(F.col("_id").alias("id_b"), F.col("_tok").alias("tb"))
        inter = F.size(F.array_intersect("ta", "tb"))
        union = F.size(F.array_union("ta", "tb"))
        # exact rational filter (0.35 = 7/20), same contract as the op
        brute = (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .filter(F.lit(20) * inter >= F.lit(7) * union)
            .select(
                "id_a", "id_b",
                F.round(inter.cast("double") / union.cast("double"), 6).alias("j"),
            )
        )
        want = {(r.id_a, r.id_b, r.j) for r in brute.collect()}
        assert got == want
        assert len(got) > 0  # the corpus plants near-dup pairs

    def test_word_unit_handcrafted(self, spark):
        from unitdb_spark.operators.setjoin import prefix_jaccard_pairs

        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta"),
                (2, "alpha beta gamma epsilon"),  # J(1,2) = 3/5
                (3, "zeta eta theta iota"),       # J with others = 0
                (4, "alpha beta gamma delta"),    # J(1,4) = 1
            ],
            ["doc_id", "text"],
        )
        rows = {
            (r.id_a, r.id_b): r.jaccard
            for r in prefix_jaccard_pairs(df, threshold=0.5, unit="word").collect()
        }
        assert rows == {(1, 2): 0.6, (1, 4): 1.0, (2, 4): 0.6}

    def test_threshold_validated(self, spark):
        from unitdb_spark.operators.setjoin import prefix_jaccard_pairs

        df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
        with pytest.raises(ValueError):
            prefix_jaccard_pairs(df, threshold=0.0)
        with pytest.raises(ValueError):
            prefix_jaccard_pairs(df, unit="chars")


class TestLinkRecords:
    def _clean(self, spark):
        return spark.createDataFrame(
            [
                (1, "Alice Johnson", "US"),
                (2, "Bob Smith", "US"),
                (3, "Carol Jones", "DE"),
            ],
            ["rid", "name", "country"],
        )

    def test_best_match_and_unmatched(self, spark):
        from unitdb_spark.operators.linkage import link_records

        left = spark.createDataFrame(
            [
                (10, "Alice Johnsen", "US"),   # 1 edit from Alice Johnson
                (11, "Bob Smyth", "US"),       # 1 edit from Bob Smith
                (12, "Zelda Nobody", "US"),    # no match within 2
            ],
            ["lid", "name", "country"],
        )
        out = {
            r.lid: r
            for r in link_records(
                left, self._clean(spark), ["country"], "lid", "rid", "name", "name"
            ).collect()
        }
        assert out[10].matched_id == 1 and out[10].distance == 1
        assert out[11].matched_id == 2 and out[11].distance == 1
        assert out[12].matched_id is None and out[12].n_candidates == 0
        # score_ppm = floor((1 - 1/13) * 1e6) for the Alice pair
        assert out[10].score_ppm == 923076

    def test_blocking_restricts_candidates(self, spark):
        from unitdb_spark.operators.linkage import link_records

        # same name, wrong block: must NOT match
        left = spark.createDataFrame([(20, "Carol Jones", "US")], ["lid", "name", "country"])
        out = link_records(
            left, self._clean(spark), ["country"], "lid", "rid", "name", "name"
        ).collect()
        assert out[0].matched_id is None

    def test_requires_blocking(self, spark):
        from unitdb_spark.operators.linkage import link_records

        df = self._clean(spark)
        with pytest.raises(ValueError):
            link_records(df, df, [], "rid", "rid", "name", "name")

    def test_chunk_key_identical_results(self, spark):
        """chunk_key=True (PassJoin pigeonhole inside the block) must
        return EXACTLY the plain block join's rows — the losslessness
        contract that lets the scale path share the oracle. Random
        strings over a 4-letter alphabet, half perturbed by up to 2
        random insert/delete/substitute edits, lengths 1..12 so the
        short-string fallback (right < d+1 chars) is exercised too."""
        import random

        from unitdb_spark.operators.linkage import link_records

        rng = random.Random(11)

        def rand_s(n):
            return "".join(rng.choice("abcd") for _ in range(n))

        rows_r = [
            (i, rand_s(rng.randint(1, 12)), rng.randint(0, 1))
            for i in range(100)
        ]
        rows_l = []
        for j in range(100):
            if j % 2 == 0:
                s = list(rows_r[j][1])
                for _ in range(rng.randint(0, 2)):
                    op = rng.choice("ids")
                    if op == "i":
                        s.insert(rng.randint(0, len(s)), rng.choice("abcd"))
                    elif s and op == "d":
                        s.pop(rng.randrange(len(s)))
                    elif s:
                        s[rng.randrange(len(s))] = rng.choice("abcd")
                rows_l.append((1000 + j, "".join(s) or "a", rows_r[j][2]))
            else:
                rows_l.append(
                    (1000 + j, rand_s(rng.randint(1, 12)), rng.randint(0, 1))
                )
        l = spark.createDataFrame(rows_l, "lid long, txt string, blk int")
        r = spark.createDataFrame(rows_r, "rid long, txt string, blk int")
        kw = dict(max_distance=2)
        plain = link_records(
            l, r, ["blk"], "lid", "rid", "txt", "txt", **kw
        ).orderBy("lid").collect()
        chunked = link_records(
            l, r, ["blk"], "lid", "rid", "txt", "txt", chunk_key=True, **kw
        ).orderBy("lid").collect()
        assert plain == chunked


class TestSaltedTopK:
    def test_identical_to_single_window(self, spark):
        """Two-stage salted top-K == plain per-key window under a
        total order, including ties on the primary sort column and
        NULLs (NULLS LAST) — the losslessness contract."""
        import random

        from pyspark.sql import functions as F

        from pyspark.sql import Window

        from unitdb_spark.operators.skew import hash_salt
        from unitdb_spark.operators.topk import topk_per_key_salted

        rng = random.Random(5)
        rows = [
            (
                rng.choice(["a", "b", "c"]),
                i,
                rng.choice([None, 1.0, 2.0, rng.random()]),
            )
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "k string, id long, v double")
        order = [F.desc_nulls_last("v"), F.asc("id")]
        plain = df.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("k").orderBy(*order)),
        ).filter(F.col("rn") <= 5)
        salted = topk_per_key_salted(
            df, ["k"], 5, order, hash_salt("id", 7), n_salts=7
        )
        a = sorted(map(tuple, plain.select("k", "rn", "id", "v").collect()))
        b = sorted(map(tuple, salted.select("k", "rn", "id", "v").collect()))
        assert a == b


class TestHoltLinear:
    def _run(self, spark, rows, **kw):
        from unitdb_spark.operators.timeseries import holt_linear

        cells = spark.createDataFrame(rows, "k string, t long, y long")
        return {r.k: r for r in holt_linear(cells, "k", **kw).collect()}

    def test_constant_series_is_fixed_point(self, spark):
        got = self._run(spark, [("a", i, 7) for i in range(10)])["a"]
        assert (got.l_e6, got.b_e6) == (7_000_000, 0)
        assert got.fc3_e6 == 7_000_000

    def test_linear_series_tracked_exactly(self, spark):
        """y = 3 + 2t is a fixed point of the recurrence: level rides
        the line, trend stays 2, forecasts continue it exactly."""
        got = self._run(spark, [("a", t, 3 + 2 * t) for t in range(8)])["a"]
        assert got.l_e6 == (3 + 2 * 7) * 1_000_000
        assert got.b_e6 == 2_000_000
        assert got.fc2_e6 == (3 + 2 * 9) * 1_000_000

    def test_single_point_key(self, spark):
        got = self._run(spark, [("a", 0, 5)])["a"]
        assert (got.n_obs, got.l_e6, got.b_e6) == (1, 5_000_000, 0)

    def test_matches_python_model_random(self, spark):
        import random

        rng = random.Random(3)
        ys = [rng.randint(-50, 500) for _ in range(40)]
        got = self._run(
            spark, [("a", t, y) for t, y in enumerate(ys)],
            alpha=(2, 7), beta=(3, 11),
        )["a"]

        def tdiv(n, d):
            q = abs(n) // d
            return q if n >= 0 else -q

        S = 1_000_000
        lvl, tr = ys[0] * S, (ys[1] - ys[0]) * S
        for y in ys[1:]:
            prev = lvl
            lvl = tdiv(2 * y * S + 5 * (lvl + tr), 7)
            tr = tdiv(3 * (lvl - prev) + 8 * tr, 11)
        assert (got.l_e6, got.b_e6) == (lvl, tr)

    def test_rejects_bad_rational(self, spark):
        import pytest as _pt

        with _pt.raises(ValueError):
            self._run(spark, [("a", 0, 1)], alpha=(3, 2))


class TestLabelPropagation:
    @staticmethod
    def _sym(spark, und, w=None):
        from pyspark.sql import functions as F

        rows = [(a, b, wt) for (a, b, wt) in und]
        e = spark.createDataFrame(rows, ["src", "dst", "w"])
        return e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )

    def test_bridged_cliques_stay_separate(self, spark):
        """Two weighted triangles joined by ONE weight-1 bridge:
        connected components would merge them; LPA's weighted vote
        must keep two communities (labelled by each clique's min)."""
        from unitdb_spark.operators.graph import label_propagation

        und = [
            (1, 2, 5), (1, 3, 5), (2, 3, 5),
            (11, 12, 5), (11, 13, 5), (12, 13, 5),
            (3, 11, 1),
        ]
        got = {
            r.node: r.lbl
            for r in label_propagation(
                self._sym(spark, und), rounds=4
            ).collect()
        }
        assert {got[1], got[2], got[3]} == {1}
        assert {got[11], got[12], got[13]} == {11}

    def test_unweighted_star_adopts_center_label(self, spark):
        """weight=None: every vote counts 1 — leaves of a star see
        only the center, so after round 1 all leaves carry its label;
        the center sees leaf labels (tie) and takes the smallest."""
        from unitdb_spark.operators.graph import label_propagation

        und = [(5, 1, 1), (5, 2, 1), (5, 3, 1)]
        got = {
            r.node: r.lbl
            for r in label_propagation(
                self._sym(spark, und), weight=None, rounds=1
            ).collect()
        }
        assert got == {1: 5, 2: 5, 3: 5, 5: 1}

    def test_matches_python_model_on_random_graph(self, spark):
        """Synchronous weighted LPA vs an independent Python model on
        a seeded random graph, all rounds' worth of drift checked at
        the end."""
        import random

        from unitdb_spark.operators.graph import label_propagation

        rng = random.Random(7)
        nodes = list(range(30))
        und = []
        seen = set()
        for _ in range(60):
            a, b = rng.sample(nodes, 2)
            key = (min(a, b), max(a, b))
            if key in seen:
                continue
            seen.add(key)
            und.append((key[0], key[1], rng.randint(1, 9)))
        adj: dict[int, list[tuple[int, int]]] = {}
        for a, b, w in und:
            adj.setdefault(a, []).append((b, w))
            adj.setdefault(b, []).append((a, w))
        lbl = {n: n for n in adj}
        for _ in range(3):
            new = {}
            for n, nbrs in adj.items():
                votes: dict[int, int] = {}
                for m, w in nbrs:
                    votes[lbl[m]] = votes.get(lbl[m], 0) + w
                best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
                new[n] = best[0]
            lbl = new
        got = {
            r.node: r.lbl
            for r in label_propagation(
                self._sym(spark, und), rounds=3
            ).collect()
        }
        assert got == lbl


class TestPagerank:
    def test_two_node_symmetric_is_uniform(self, spark):
        from unitdb_spark.operators.graph import pagerank

        e = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
        rows = {r.node: r.pr_r for r in pagerank(e, iterations=5).collect()}
        assert rows == {1: 1.0, 2: 1.0}

    def test_path_graph_matches_numpy_power_iteration(self, spark):
        import numpy as np
        from unitdb_spark.operators.graph import pagerank

        edges = [(1, 2), (2, 1), (2, 3), (3, 2)]
        e = spark.createDataFrame(edges, ["src", "dst"])
        got = {r.node: r.pr_r for r in pagerank(e, iterations=5).collect()}
        # replicate: deg = {1:1, 2:2, 3:1}, 5 iterations, d=0.85
        pr = {n: 1 / 3 for n in (1, 2, 3)}
        deg = {1: 1, 2: 2, 3: 1}
        for _ in range(5):
            nxt = {}
            for n in (1, 2, 3):
                s = sum(pr[u] / deg[u] for (u, v) in edges if v == n)
                nxt[n] = 0.15 / 3 + 0.85 * s
            pr = nxt
        for n in (1, 2, 3):
            assert got[n] == pytest.approx(round(pr[n] * 3, 6), abs=1e-6)
        # center of the path outranks the leaves
        assert got[2] > got[1] == got[3]

    def test_cooccurrence_edges_symmetric_distinct(self, spark):
        from unitdb_spark.operators.graph import cooccurrence_edges

        df = spark.createDataFrame(
            [(100, "a"), (100, "b"), (100, "b"), (101, "b"), (101, "c"), (102, "z")],
            ["grp", "item"],
        )
        got = {(r.src, r.dst) for r in cooccurrence_edges(df, "grp", "item").collect()}
        assert got == {("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")}

    def test_empty_edges_raise(self, spark):
        from unitdb_spark.operators.graph import pagerank

        e = spark.createDataFrame([], "src int, dst int")
        with pytest.raises(ValueError):
            pagerank(e)


class TestPairSharing:
    def test_independent_reads_share_persisted_pairs(self, spark, tmp_path):
        """Two reads of one Parquet file build equal plans, so the
        second pair relation is served from the first one's cache
        entry (Spark's CacheManager, no key) until it is released."""
        from unitdb_spark.operators import graph

        path = str(tmp_path / "baskets.parquet")
        spark.createDataFrame(
            [(100, "a"), (100, "b"), (101, "b"), (101, "c")],
            ["grp", "item"],
        ).write.parquet(path)
        first = graph.cooccurrence_pairs(spark.read.parquet(path), "grp", "item")
        assert first.count() == 2
        second = graph.cooccurrence_pairs(spark.read.parquet(path), "grp", "item")
        assert "InMemoryRelation" in str(
            second._jdf.queryExecution().optimizedPlan()
        )
        assert second.storageLevel.useMemory
        graph.clear_pair_cache()
        assert not first.storageLevel.useMemory
        assert not second.storageLevel.useMemory


class TestPairRetrievalReport:
    def test_counts_and_ppm(self, spark):
        from unitdb_spark.operators.evaluation import pair_retrieval_report

        truth = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (4, 5)], ["id_a", "id_b"]
        )
        cand = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8), (9, 10), (4, 6)], ["id_a", "id_b"]
        )
        r = pair_retrieval_report(truth, cand).collect()[0]
        assert (r.n_true, r.n_cand, r.n_hit) == (4, 5, 2)
        assert r.recall_ppm == 500000
        assert r.precision_ppm == 400000

    def test_empty_truth_reports_zero(self, spark):
        from unitdb_spark.operators.evaluation import pair_retrieval_report

        truth = spark.createDataFrame([], "id_a int, id_b int")
        cand = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
        r = pair_retrieval_report(truth, cand).collect()[0]
        assert (r.n_true, r.n_cand, r.n_hit) == (0, 1, 0)
        assert r.recall_ppm == 0 and r.precision_ppm == 0


class TestTriangleCounts:
    def test_matches_brute_force_random_graph(self, spark):
        import itertools
        import random

        from unitdb_spark.operators.graph import triangle_counts

        rng = random.Random(7)
        nodes = list(range(30))
        edges = set()
        for _ in range(80):
            a, b = rng.sample(nodes, 2)
            edges.add((min(a, b), max(a, b)))
        adj = {n: set() for n in nodes}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        want = {n: 0 for n in nodes}
        for a, b, c in itertools.combinations(nodes, 3):
            if b in adj[a] and c in adj[a] and c in adj[b]:
                want[a] += 1
                want[b] += 1
                want[c] += 1
        want = {n: v for n, v in want.items() if adj[n]}
        e = spark.createDataFrame(sorted(edges), ["src", "dst"])
        got = {r.node: r.n_triangles for r in triangle_counts(e).collect()}
        assert got == want

    def test_accepts_symmetric_input(self, spark):
        from unitdb_spark.operators.graph import triangle_counts

        # triangle 1-2-3 given in both directions + a dangling edge
        sym = [(a, b) for (a, b) in
               [(1, 2), (2, 3), (1, 3), (3, 4)] for (a, b) in [(a, b), (b, a)]]
        e = spark.createDataFrame(sym, ["src", "dst"])
        got = {r.node: r.n_triangles for r in triangle_counts(e).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 0}


class TestRelatedItems:
    def test_cosine_and_ranking(self, spark):
        from unitdb_spark.operators.graph import related_items

        df = spark.createDataFrame(
            [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a"),
             (3, "b"), (4, "b"), (4, "c"), (5, "c"), (5, "d")],
            ["grp", "item"],
        )
        rows = {
            (r.item, r.neighbor): (r.n_cooc, r.cosine_r, r.rank)
            for r in related_items(df, "grp", "item", k=3, min_cooc=1).collect()
        }
        # n_a=3, n_b=4, n_ab=3 -> 3/sqrt(12)
        assert rows[("a", "b")] == (3, 0.866025, 1)
        assert rows[("b", "a")] == (3, 0.866025, 1)
        # the ubiquitous 'b' ranks BELOW 'd' for item c: cosine
        # normalization at work (raw co-occurrence would say b)
        assert rows[("c", "b")][2] == 1 and rows[("c", "d")][2] == 2
        assert rows[("c", "b")][1] == rows[("c", "d")][1] == 0.57735

    def test_k_cut_and_min_cooc(self, spark):
        from unitdb_spark.operators.graph import related_items

        df = spark.createDataFrame(
            [(g, i) for g in range(6) for i in ("x", "y")] + [(0, "z")],
            ["grp", "item"],
        )
        out = related_items(df, "grp", "item", k=1, min_cooc=2).collect()
        # (x,z)/(y,z) co-occur once -> pruned; only x<->y survives
        assert {(r.item, r.neighbor) for r in out} == {("x", "y"), ("y", "x")}
        assert all(r.rank == 1 for r in out)


class TestRakeKeyphrases:
    def test_handcrafted_scores(self, spark):
        from unitdb_spark.operators.keyphrase import rake_keyphrases

        # "the models overfit small corpora easily!" ->
        # one 4-word run (easily! breaks on '!'), each word deg=4 freq=1
        df = spark.createDataFrame(
            [(1, "the models overfit small corpora easily!")],
            ["doc_id", "text"],
        )
        rows = rake_keyphrases(df).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.phrase == "models overfit small corpora"
        assert r.n_words == 4 and r.score_ppm == 16_000_000 and r.rank == 1

    def test_degree_rewards_longer_phrases(self, spark):
        from unitdb_spark.operators.keyphrase import rake_keyphrases

        # 'red' appears alone AND inside a 2-word phrase:
        # freq(red)=2, deg(red)=1+2=3 -> 1.5e6; wine: 2e6 (freq 1 deg 2)
        # "red wine" = 3.5e6 outranks "red" = 1.5e6
        df = spark.createDataFrame(
            [(1, "red. red wine.")], ["doc_id", "text"]
        )
        # tokens: 'red.' breaks (punct) -- use commas instead
        df = spark.createDataFrame(
            [(1, "red and red wine and cheese")], ["doc_id", "text"]
        )
        rows = {r.phrase: (r.score_ppm, r.rank)
                for r in rake_keyphrases(df).collect()}
        assert rows["red wine"][0] == 3_500_000
        assert rows["red"][0] == 1_500_000
        assert rows["red wine"][1] < rows["red"][1]

    def test_long_runs_and_stopwords_excluded(self, spark):
        from unitdb_spark.operators.keyphrase import rake_keyphrases

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta"),  # 6-run: dropped
             (2, "the of and to in")],                    # all stopwords
            ["doc_id", "text"],
        )
        assert rake_keyphrases(df, max_words=4).count() == 0


class TestReadability:
    def test_counts_and_formula(self, spark):
        from unitdb_spark.functions.text import readability_scores

        df = spark.createDataFrame(
            [(1, "The cat sat. The cat ran!")], ["doc_id", "text"]
        )
        r = df.select("doc_id", *readability_scores("text")).collect()[0]
        assert r.n_sentences == 2 and r.n_words == 6
        # each token is single-syllable ('the' has one vowel run;
        # 'sat.'/'ran!' one run each)
        assert r.n_syllables == 6
        wps, spw = 6 / 2, 6 / 6
        assert r.fk_grade_r == pytest.approx(
            round(0.39 * wps + 11.8 * spw - 15.59, 6), abs=1e-9
        )
        assert r.ease_r == pytest.approx(
            round(206.835 - 1.015 * wps - 84.6 * spw, 6), abs=1e-9
        )

    def test_silent_e_and_empty_floor(self, spark):
        from unitdb_spark.functions.text import syllable_count

        df = spark.createDataFrame(
            [("there",), ("be",), ("queue",), ("xyz",)], ["w"]
        )
        got = [r[0] for r in df.select(syllable_count("w")).collect()]
        # there: runs e,e -> 2, silent final e -> 1
        # be: one run, no discount (runs < 2) -> 1
        # queue: ueue = 1 run -> 1 (no discount: runs < 2)
        # xyz: y counts as vowel -> 1
        assert got == [1, 1, 1, 1]


class TestPersonalizedPagerank:
    def test_path_graph_matches_python_model(self, spark):
        from unitdb_spark.operators.graph import personalized_pagerank

        sym = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3)]
        e = spark.createDataFrame(sym, ["src", "dst"])
        seeds = spark.createDataFrame([(1,)], ["node"])
        got = {
            r.node: r.ppr_r
            for r in personalized_pagerank(e, seeds, iterations=3).collect()
        }
        deg = {1: 1, 2: 2, 3: 2, 4: 1}
        pr = {1: 1.0, 2: 0.0, 3: 0.0, 4: 0.0}
        for _ in range(3):
            nxt = {v: (0.15 if v == 1 else 0.0) for v in deg}
            for a, b in sym:
                nxt[b] += 0.85 * pr[a] / deg[a]
            pr = nxt
        for v in pr:
            assert got[v] == pytest.approx(round(pr[v] * 4, 6), abs=2e-6)
        # rank decays with distance from the seed's neighborhood:
        # node 4 (3 hops) scores below node 2 (1 hop)
        assert got[2] > got[4]

    def test_all_nodes_present_zeros_kept(self, spark):
        from unitdb_spark.operators.graph import personalized_pagerank

        # two components; seed in one -- the other must appear with 0
        e = spark.createDataFrame(
            [(1, 2), (2, 1), (8, 9), (9, 8)], ["src", "dst"]
        )
        seeds = spark.createDataFrame([(1,)], ["node"])
        got = {
            r.node: r.ppr_r
            for r in personalized_pagerank(e, seeds, iterations=2).collect()
        }
        assert set(got) == {1, 2, 8, 9}
        assert got[8] == 0.0 and got[9] == 0.0 and got[1] > 0

    def test_seed_outside_graph_raises(self, spark):
        from unitdb_spark.operators.graph import personalized_pagerank

        e = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
        seeds = spark.createDataFrame([(99,)], ["node"])
        with pytest.raises(ValueError):
            personalized_pagerank(e, seeds)


class TestConnectedComponentsQuery:
    def test_components_partition_and_min_label(self, spark):
        from unitdb_spark.operators.cluster import connected_components

        und = [(1, 2), (2, 3), (10, 11), (20, 20)]
        e = spark.createDataFrame(und, ["id_a", "id_b"])
        got = {r.node: r.cluster_id
               for r in connected_components(e).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


class TestSsspWeighted:
    def test_cheap_detour_beats_direct_edge(self, spark):
        from unitdb_spark.operators.graph import sssp_weighted

        # direct 1→4 costs 10; detour 1→2→3→4 costs 3 but needs 3 edges
        und = [(1, 2, 1), (2, 3, 1), (3, 4, 1), (1, 4, 10), (4, 5, 2)]
        sym = und + [(b, a, w) for a, b, w in und]
        e = spark.createDataFrame(sym, ["src", "dst", "w"])
        seeds = spark.createDataFrame([(1,)], ["node"])
        # 2 rounds: only the direct edge reaches 4
        got2 = {r.node: r.dist
                for r in sssp_weighted(e, seeds, rounds=2).collect()}
        assert got2[4] == 10 and got2[3] == 2 and got2[5] == 12
        # 3 rounds: the detour wins; 4 rounds: 5 improves through it
        got3 = {r.node: r.dist
                for r in sssp_weighted(e, seeds, rounds=3).collect()}
        assert got3[4] == 3 and got3[5] == 12
        got4 = {r.node: r.dist
                for r in sssp_weighted(e, seeds, rounds=4).collect()}
        assert got4 == {1: 0, 2: 1, 3: 2, 4: 3, 5: 5}

    def test_isolated_seed_dropped_and_multi_seed_min(self, spark):
        from unitdb_spark.operators.graph import sssp_weighted

        und = [(1, 2, 5), (2, 3, 5)]
        sym = und + [(b, a, w) for a, b, w in und]
        e = spark.createDataFrame(sym, ["src", "dst", "w"])
        seeds = spark.createDataFrame([(1,), (3,), (99,)], ["node"])
        got = {r.node: r.dist
               for r in sssp_weighted(e, seeds, rounds=3).collect()}
        # 99 is not a graph node; 2 is reached from both seeds at 5
        assert got == {1: 0, 3: 0, 2: 5}


class TestBfsHops:
    def test_min_hop_and_cap(self, spark):
        from unitdb_spark.operators.graph import bfs_hops

        # path 1-2-3-4-5 plus shortcut 1-4: node 4 is hop 1, 5 is hop 2
        und = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)]
        sym = und + [(b, a) for a, b in und]
        e = spark.createDataFrame(sym, ["src", "dst"])
        seeds = spark.createDataFrame([(1,)], ["node"])
        got = {r.node: r.hop for r in bfs_hops(e, seeds, max_hops=2).collect()}
        assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}

    def test_multi_seed_and_isolated_seed(self, spark):
        from unitdb_spark.operators.graph import bfs_hops

        sym = [(1, 2), (2, 1), (5, 6), (6, 5)]
        e = spark.createDataFrame(sym, ["src", "dst"])
        seeds = spark.createDataFrame([(1,), (5,), (99,)], ["node"])
        got = {r.node: r.hop for r in bfs_hops(e, seeds, max_hops=3).collect()}
        assert got == {1: 0, 5: 0, 2: 1, 6: 1}


class TestHourlyProfileDistance:
    def test_integer_exact_vs_python_model(self, spark):
        import datetime as dt
        from unitdb_spark.operators.timeseries import hourly_profile_distance

        rows = []
        # user a: all value 10.00 at hour 0; user b: 10.00 at hour 1
        for i in range(4):
            rows.append((f"a{i}", dt.datetime(2024, 1, 1, 0, 5 * i), "a", 10.0))
            rows.append((f"b{i}", dt.datetime(2024, 1, 1, 1, 5 * i), "b", 10.0))
        df = spark.createDataFrame(
            rows, "event_id string, ts timestamp, user_id string, value double"
        )
        got = {r.user_id: r.dist_sq for r in hourly_profile_distance(df).collect()}
        # corpus profile: hour0 mu=10e6 (8 events/2 users -> mean 10),
        # hour1 mu=10e6; both users deviate in exactly two buckets:
        # own bucket (10e6 vs 10e6 -> 0... wait user a hour0 mu=10e6,
        # corpus hour0 mu=10e6 -> 0; user a hour1 mu=0 vs corpus 10e6
        # -> (10e6)^2. Same for b symmetric.
        assert got["a"] == got["b"] == 10_000_000**2

    def test_identical_profile_zero_distance(self, spark):
        import datetime as dt
        from unitdb_spark.operators.timeseries import hourly_profile_distance

        rows = [
            (str(i), dt.datetime(2024, 1, 1, h, 0), u, 5.5)
            for i, (h, u) in enumerate(
                (h, u) for h in (3, 7) for u in ("x", "y")
            )
        ]
        df = spark.createDataFrame(
            rows, "event_id string, ts timestamp, user_id string, value double"
        )
        got = {r.user_id: r.dist_sq for r in hourly_profile_distance(df).collect()}
        assert got == {"x": 0, "y": 0}


class TestReviewFixesRound4c:
    """Regression pins for the session's self-review findings."""

    def test_prefix_jaccard_float_ceil_overshoot(self, spark):
        # t=0.55, |x|=100, y a 55-token subset: J = 0.55 exactly.
        # Float ceil(0.55*100) evaluates to 56 and would prune the
        # pair; the integer cross-multiplied bounds must keep it.
        from unitdb_spark.operators.setjoin import prefix_jaccard_pairs

        x_toks = [f"w{i:03d}" for i in range(100)]
        y_toks = x_toks[:55]
        df = spark.createDataFrame(
            [(1, " ".join(x_toks)), (2, " ".join(y_toks))],
            ["doc_id", "text"],
        )
        rows = prefix_jaccard_pairs(df, threshold=0.55, unit="word").collect()
        assert [(r.id_a, r.id_b, r.jaccard) for r in rows] == [(1, 2, 0.55)]

    def test_pagerank_keeps_source_only_nodes(self, spark):
        # node 1 has out-edges but NO in-edges: it must keep its row
        # (teleport mass only) and keep contributing to node 2
        from unitdb_spark.operators.graph import pagerank

        e = spark.createDataFrame([(1, 2), (2, 3), (3, 2)], ["src", "dst"])
        got = {r.node: r.pr_r for r in pagerank(e, iterations=3).collect()}
        assert set(got) == {1, 2, 3}
        assert got[1] == pytest.approx(0.15, abs=1e-6)  # 3 * (0.05)
        # model the same 3 iterations
        deg = {1: 1, 2: 1, 3: 1}
        pr = {1: 1 / 3, 2: 1 / 3, 3: 1 / 3}
        for _ in range(3):
            nxt = {v: 0.15 / 3 for v in deg}
            for a, b in [(1, 2), (2, 3), (3, 2)]:
                nxt[b] += 0.85 * pr[a] / deg[a]
            pr = nxt
        for v in pr:
            assert got[v] == pytest.approx(round(pr[v] * 3, 6), abs=2e-6)

    def test_pair_report_dedups_inputs(self, spark):
        from unitdb_spark.operators.evaluation import pair_retrieval_report

        truth = spark.createDataFrame([(1, 2), (1, 2)], ["id_a", "id_b"])
        cand = spark.createDataFrame(
            [(1, 2), (1, 2), (1, 2), (3, 4)], ["id_a", "id_b"]
        )
        r = pair_retrieval_report(truth, cand).collect()[0]
        assert (r.n_true, r.n_cand, r.n_hit) == (1, 2, 1)
        assert r.recall_ppm == 1_000_000  # never above 1e6

    def test_profile_distance_buckets_fold(self, spark):
        import datetime as dt
        from unitdb_spark.operators.timeseries import hourly_profile_distance

        # hours 3 and 15 fold onto the same bucket with n_buckets=12
        rows = [
            ("a", dt.datetime(2024, 1, 1, 3, 0), "u", 4.0),
            ("b", dt.datetime(2024, 1, 1, 15, 0), "u", 8.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id string, ts timestamp, user_id string, value double"
        )
        got = hourly_profile_distance(df, n_buckets=12).collect()
        # single user == corpus -> distance 0 in every bucket
        assert got[0].dist_sq == 0
        with pytest.raises(ValueError):
            hourly_profile_distance(df, n_buckets=48)


class TestCanonicalUrl:
    def test_variants_collapse(self, spark):
        from unitdb_spark.functions.text import canonical_url

        cases = [
            "https://WWW.Example.COM:443/path/?utm_source=x&b=2&a=1#frag",
            "https://example.com/path?a=1&b=2",
            "https://example.com/path/?b=2&a=1",
            "https://www.example.com/path?fbclid=zz&a=1&b=2",
        ]
        df = spark.createDataFrame([(c,) for c in cases], ["u"])
        got = {r[0] for r in df.select(canonical_url("u")).collect()}
        assert got == {"https://example.com/path?a=1&b=2"}

    def test_scheme_port_and_passthrough(self, spark):
        from unitdb_spark.functions.text import canonical_url

        cases = [
            ("http://example.com:80/x", "http://example.com/x"),
            ("http://example.com:8080/x", "http://example.com:8080/x"),
            ("https://example.com/?ref=hn", "https://example.com"),
            ("not a url", "not a url"),
        ]
        df = spark.createDataFrame(cases, ["u", "want"])
        for r in df.select(canonical_url("u").alias("c"), "want").collect():
            assert r.c == r.want

    def test_zero_shuffle(self, spark):
        from unitdb_spark.functions.text import canonical_url
        from unitdb_spark.plans.explain import has_python_eval, shuffle_count

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = docs.select(canonical_url("text"))
        assert shuffle_count(out) == 0 and not has_python_eval(out)


class TestCurriculumKey:
    def test_banding_and_clamp(self, spark):
        from unitdb_spark.operators.curriculum import curriculum_key

        df = spark.createDataFrame(
            [(1, 0.95), (2, 0.60), (3, 0.30), (4, 0.05), (5, 1.0), (6, -0.2)],
            ["doc_id", "q"],
        )
        got = {r.doc_id: r.band for r in curriculum_key(df, "q").collect()}
        # easy_first: raw = 1-q, band = floor(raw*4) clamped
        assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 0, 6: 3}

    def test_hard_first_and_determinism(self, spark):
        from unitdb_spark.operators.curriculum import curriculum_key

        df = spark.createDataFrame([(1, 0.9), (2, 0.1)], ["doc_id", "q"])
        hard = {
            r.doc_id: r.band
            for r in curriculum_key(df, "q", easy_first=False).collect()
        }
        assert hard == {1: 3, 2: 0}
        a = curriculum_key(df, "q").collect()
        b = curriculum_key(df, "q").collect()
        assert {(r.doc_id, r.ord_key) for r in a} == {
            (r.doc_id, r.ord_key) for r in b
        }

    def test_map_side_only(self, spark):
        from unitdb_spark.operators.curriculum import curriculum_key
        from unitdb_spark.plans.explain import has_python_eval, shuffle_count

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", (F.col("n_chars") / 1000).alias("q"))
        out = curriculum_key(docs, "q")
        assert shuffle_count(out) == 0 and not has_python_eval(out)
        with pytest.raises(ValueError):
            curriculum_key(docs, "q", n_bands=0)


class TestAbTestReport:
    def test_counts_rates_and_z(self, spark):
        import math

        from unitdb_spark.operators.evaluation import ab_test_report

        # arm 0: 4 units, 3 convert; arm 1: 4 units, 1 converts
        rows = [(u, u % 2, u in (0, 2, 4, 1)) for u in range(8)]
        df = spark.createDataFrame(rows, ["uid", "arm", "cv"])
        r = ab_test_report(df, "uid", F.col("cv"), F.col("arm")).collect()[0]
        assert (r.n_a, r.conv_a, r.n_b, r.conv_b) == (4, 3, 4, 1)
        assert r.conv_a_ppm == 750000 and r.conv_b_ppm == 250000
        assert r.diff_ppm == 500000
        pool = 4 / 8
        se = math.sqrt(pool * (1 - pool) * (1 / 4 + 1 / 4))
        assert r.z_r == pytest.approx(round((0.75 - 0.25) / se, 6), abs=1e-9)

    def test_degenerate_chart_null_z(self, spark):
        from unitdb_spark.operators.evaluation import ab_test_report

        # everyone converts -> zero variance -> z NULL, no ANSI error
        df = spark.createDataFrame(
            [(u, u % 2, True) for u in range(6)], ["uid", "arm", "cv"]
        )
        r = ab_test_report(df, "uid", F.col("cv"), F.col("arm")).collect()[0]
        assert r.z_r is None and r.diff_ppm == 0

    def test_unit_dedup_any_row_converts(self, spark):
        from unitdb_spark.operators.evaluation import ab_test_report

        # one unit, many rows, one converting row -> counted once
        df = spark.createDataFrame(
            [(1, 0, False), (1, 0, True), (1, 0, False), (2, 1, False)],
            ["uid", "arm", "cv"],
        )
        r = ab_test_report(df, "uid", F.col("cv"), F.col("arm")).collect()[0]
        assert (r.n_a, r.conv_a, r.n_b, r.conv_b) == (1, 1, 1, 0)


class TestRfmSegments:
    def test_banding_integer_exact(self, spark):
        import datetime as dt

        from unitdb_spark.operators.olap import rfm_segments

        rows = [
            # cust 1: recent, frequent, big spender (15 x 130k = 1.95M
            # -> 195M cents >= 180M) -> 333
            *[(i, 1, dt.date(2001, 6, 1), 130000.00) for i in range(15)],
            # cust 2: old single small order -> 111
            (100, 2, dt.date(1995, 3, 1), 10.50),
            # cust 3: mid recency (eq boundary 365 days), 8 orders, mid spend
            *[(200 + i, 3, dt.date(2000, 6, 2), 160000.00) for i in range(8)],
        ]
        df = spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_orderdate date, o_totalprice double"
        )
        got = {r.o_custkey: r for r in rfm_segments(df).collect()}
        assert got[1].segment == 333 and got[1].recency_days == 0
        assert got[2].segment == 111
        # ref date = 2001-06-01; 2000-06-02 -> 364 days -> r=3;
        # 8 orders -> f=2; 8*160k*100 cents = 128M -> m=2
        assert got[3].recency_days == 364
        assert (got[3].r_score, got[3].f_score, got[3].m_score) == (3, 2, 2)
        assert got[3].monetary_cents == 128_000_000


class TestSeasonalNaiveBacktest:
    def test_scores_only_strict_prev_day(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import seasonal_naive_backtest

        rows = []
        # key k: hour 6 on Jan 1 -> 10.0, Jan 2 -> 12.0 (scored, err +2)
        # Jan 4 -> 99.0 (gap: Jan 3 missing, NOT scored)
        for i, (day, v) in enumerate([(1, 10.0), (2, 12.0), (4, 99.0)]):
            rows.append((i, dt.datetime(2024, 1, day, 6, 0), "k", v))
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        r = {x.event_type: x for x in seasonal_naive_backtest(df).collect()}["k"]
        assert r.n_scored == 1
        assert r.sum_err_mu == 2_000_000 and r.sum_ae_mu == 2_000_000
        assert r.mae_mu == 2_000_000

    def test_bias_sign_and_mae(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import seasonal_naive_backtest

        rows = []
        # two hours, three consecutive days: errors +1, -3 per hour-series
        for h in (3, 9):
            for i, (day, v) in enumerate([(1, 5.0), (2, 6.0), (3, 3.0)]):
                rows.append((h * 10 + i, dt.datetime(2024, 1, day, h, 0), "k", v))
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        r = seasonal_naive_backtest(df).collect()[0]
        assert r.n_scored == 4
        assert r.sum_ae_mu == 8_000_000      # |1| + |-3| per series
        assert r.sum_err_mu == -4_000_000    # 1 - 3 per series
        assert r.mae_mu == 2_000_000


class TestVocabCoverage:
    def test_exact_counts_and_clamp(self, spark):
        from unitdb_spark.functions.text import vocab_coverage

        df = spark.createDataFrame(
            [(1, "a a a b b c")], ["doc_id", "text"]
        )
        rows = {r.k: r for r in vocab_coverage(df, ks=(1, 2, 100)).collect()}
        assert rows[1].covered == 3 and rows[1].covered_ppm == 500_000
        assert rows[2].covered == 5 and rows[2].covered_ppm == 833_333
        # k beyond vocab clamps to |vocab| and covers everything
        assert rows[100].n_types == 3 and rows[100].covered_ppm == 1_000_000

    def test_tie_break_deterministic(self, spark):
        from unitdb_spark.functions.text import vocab_coverage

        # 'x' and 'y' tie at 2 occurrences: rank by (count DESC, token)
        df = spark.createDataFrame([(1, "y y x x z")], ["doc_id", "text"])
        r = {x.k: x for x in vocab_coverage(df, ks=(1,)).collect()}[1]
        assert r.covered == 2  # 'x' wins the tie


class TestConcentration:
    def test_report_exact(self, spark):
        from unitdb_spark.operators.profile import concentration_report

        # key a: 6 rows, b: 3, c: 1 -> N=10, HHI = (36+9+1)*1e6/100
        rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)]
        df = spark.createDataFrame(rows, ["k"])
        r = concentration_report(df, "k", top_k=2).collect()[0]
        assert (r.n_rows, r.n_keys) == (10, 3)
        assert r.top1_share_ppm == 600_000
        assert r.topk_share_ppm == 900_000  # a + b
        assert r.hhi_ppm == 460_000

    def test_group_shares_rank_ties(self, spark):
        from unitdb_spark.operators.profile import group_shares

        rows = [("x",)] * 2 + [("y",)] * 2 + [("z",)]
        df = spark.createDataFrame(rows, ["s"])
        got = {r.s: (r.share_ppm, r.rank) for r in group_shares(df, "s").collect()}
        assert got["x"] == (400_000, 1)  # tie with y -> key order
        assert got["y"] == (400_000, 2)
        assert got["z"] == (200_000, 3)

    def test_topk_is_take_ordered_not_global_sort(self, spark):
        from unitdb_spark.operators.profile import concentration_report
        from unitdb_spark.plans.explain import formatted_plan

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        plan = formatted_plan(concentration_report(ev, "user_id"))
        assert "TakeOrderedAndProject" in plan


class TestReviewFixesRound4d:
    """Regression pins for the second self-review pass."""

    def test_hhi_no_bigint_overflow_path(self, spark):
        # a key count big enough that sum(n^2)*1e6 would wrap BIGINT
        # (3.2e6^2 * 1e6 > 9.2e18): the DECIMAL/double path must give
        # the correct ~1e6 ppm, not garbage
        from unitdb_spark.operators.profile import concentration_report

        n_big = 3_200_000
        df = spark.range(n_big).select(F.lit("hot").alias("k")).unionAll(
            spark.range(5).select(F.lit("cold").alias("k"))
        )
        r = concentration_report(df, "k").collect()[0]
        assert r.n_rows == n_big + 5 and r.n_keys == 2
        assert 999_000 < r.hhi_ppm <= 1_000_000
        assert 999_000 < r.top1_share_ppm <= 1_000_000

    def test_cusum_target_rounding_matches_streaming(self, spark):
        # target=1.0000015: Python round() gives 1.000001 (half-even
        # on the binary double); F.round/the streaming twin give
        # 1.000002 — the batch ref must use the repr HALF_UP value
        import datetime as dt

        from unitdb_spark.operators.timeseries import cusum

        df = spark.createDataFrame(
            [(0, dt.datetime(2024, 1, 1), "k", 2.0)],
            "event_id long, ts timestamp, event_type string, value double",
        )
        r = cusum(df, ["event_type"], ["ts", "event_id"], "value",
                  target=1.0000015).collect()[0]
        assert r.s_r == pytest.approx(2.0 - 1.000002, abs=1e-9)


class TestDiffInDiff:
    def test_cell_means_and_estimate(self, spark):
        from unitdb_spark.operators.evaluation import diff_in_diff

        rows = [
            # (value, arm, pre): ctrl 10->11 (+1), treat 10->13 (+3)
            (10.0, 0, True), (10.0, 0, True),
            (11.0, 0, False),
            (10.0, 1, True),
            (13.0, 1, False), (13.0, 1, False),
        ]
        df = spark.createDataFrame(rows, ["value", "arm", "pre"])
        r = diff_in_diff(df, "value", F.col("arm"), F.col("pre")).collect()[0]
        assert (r.n_ctrl_pre, r.n_ctrl_post, r.n_treat_pre, r.n_treat_post) == (2, 1, 1, 2)
        assert r.mu_ctrl_pre == 10_000_000 and r.mu_treat_post == 13_000_000
        assert r.delta_ctrl_mu == 1_000_000 and r.delta_treat_mu == 3_000_000
        assert r.did_mu == 2_000_000

    def test_empty_cell_reads_zero_not_null(self, spark):
        from unitdb_spark.operators.evaluation import diff_in_diff

        df = spark.createDataFrame(
            [(5.0, 0, True), (6.0, 1, False)], ["value", "arm", "pre"]
        )
        r = diff_in_diff(df, "value", F.col("arm"), F.col("pre")).collect()[0]
        assert r.n_ctrl_post == 0 and r.mu_ctrl_post == 0
        assert r.did_mu is not None


class TestWeightedConcentration:
    def test_revenue_mass(self, spark):
        from unitdb_spark.operators.profile import concentration_report

        rows = [("a", 60.00), ("a", 20.00), ("b", 15.00), ("c", 5.00)]
        df = spark.createDataFrame(rows, ["k", "amt"])
        r = concentration_report(df, "k", top_k=2, weight_col="amt").collect()[0]
        # mass in cents: a=8000, b=1500, c=500, N=10000
        assert r.n_rows == 10_000 and r.n_keys == 3
        assert r.top1_share_ppm == 800_000
        assert r.topk_share_ppm == 950_000
        # HHI = (8000^2 + 1500^2 + 500^2) * 1e6 / 1e8 = 665000
        assert r.hhi_ppm == 665_000


class TestSeasonalDecompose:
    def _series(self, spark):
        """6 days of hourly points: level 100 + rising trend (1/hour)
        + a ±50 half-day rhythm, one point per hour (mu == value·1e4)."""
        import datetime as dt

        rows = []
        t0 = dt.datetime(2024, 1, 1)
        for h in range(6 * 24):
            season = 50.0 if (h % 24) < 12 else -50.0
            rows.append(("a", t0 + dt.timedelta(hours=h), 100.0 + h + season))
        return spark.createDataFrame(rows, "event_type string, ts timestamp, value double")

    def test_identity_and_edges(self, spark):
        from unitdb_spark.operators.timeseries import seasonal_decompose

        out = seasonal_decompose(self._series(spark), "event_type").collect()
        assert len(out) == 6 * 24
        rows = sorted(out, key=lambda r: r["bucket_s"])
        # trend undefined until the 25-bucket frame fills (12 each end)
        assert all(r["trend_mu"] is None for r in rows[:12] + rows[-12:])
        assert all(r["trend_mu"] is not None for r in rows[12:-12])
        for r in rows:
            if r["trend_mu"] is not None:
                assert (
                    r["value_mu"]
                    == r["trend_mu"] + r["seasonal_mu"] + r["residual_mu"]
                )
            else:
                assert r["residual_mu"] is None

    def test_recovers_planted_structure(self, spark):
        """On trend+rhythm data the decomposition must assign the ±50
        swing to seasonal and leave near-zero residuals — the exact
        property a raw z-score on the same series lacks."""
        from unitdb_spark.operators.timeseries import seasonal_decompose

        rows = seasonal_decompose(self._series(spark), "event_type").collect()
        by_hod = {}
        for r in rows:
            by_hod.setdefault(r["hod"], r["seasonal_mu"])
        # morning-vs-evening seasonal split ~ 100.0 (in 1e-6 units);
        # the centered MA bleeds a little of the square wave into the
        # trend, so allow a coarse band
        hi = sum(by_hod[h] for h in range(12)) / 12 / 1e6
        lo = sum(by_hod[h] for h in range(12, 24)) / 12 / 1e6
        assert 70 < hi - lo < 130
        mid = [r for r in rows if r["residual_mu"] is not None]
        assert mid and all(abs(r["residual_mu"]) / 1e6 < 30 for r in mid)


class TestIntervalOverlapJoin:
    def _run(self, spark, la, ra, bucket):
        from unitdb_spark.operators.asof import interval_overlap_join

        left = spark.createDataFrame(la, "id_l long, lo_l long, hi_l long")
        right = spark.createDataFrame(ra, "id_r long, lo_r long, hi_r long")
        return interval_overlap_join(
            left, right, "lo_l", "hi_l", "lo_r", "hi_r", bucket
        ).collect()

    def test_exactly_once_vs_brute_force(self, spark):
        """Pairs spanning many buckets must surface EXACTLY once, and
        the result must equal the brute-force half-open overlap —
        including touching intervals (hi == lo), which must NOT match."""
        import random

        rng = random.Random(5)
        la = [(i, rng.randrange(0, 500), 0) for i in range(40)]
        la = [(i, lo, lo + rng.randrange(1, 200)) for i, lo, _ in la]
        ra = [(100 + i, rng.randrange(0, 500), 0) for i in range(40)]
        ra = [(i, lo, lo + rng.randrange(1, 200)) for i, lo, _ in ra]
        # plant a touching pair: [10, 20) vs [20, 30) — no overlap
        la.append((90, 10, 20))
        ra.append((190, 20, 30))
        # pre-1970 intervals: floor (not truncate) bucketing must
        # still attribute exactly once
        la.append((91, -150, -50))
        ra.append((191, -100, -40))
        for bucket in (7, 64, 1000):  # many-bucket, mid, single-bucket
            got = [
                (r["id_l"], r["id_r"])
                for r in self._run(spark, la, ra, bucket)
            ]
            want = sorted(
                (il, ir)
                for il, ll, hl in la
                for ir, lr, hr in ra
                if ll < hr and lr < hl
            )
            assert sorted(got) == want, f"bucket={bucket}"
            assert len(got) == len(set(got))  # exactly once
            assert (90, 190) not in got

    def test_refuses_overlapping_columns(self, spark):
        from unitdb_spark.operators.asof import interval_overlap_join

        df = spark.createDataFrame([(1, 2, 3)], "a long, lo long, hi long")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="rename overlapping"):
            interval_overlap_join(df, df, "lo", "hi", "lo", "hi", 10)


class TestCorrelationMatrix:
    def test_matches_numpy_and_guards(self, spark):
        import numpy as np

        from unitdb_spark.operators.olap import correlation_matrix

        rng = np.random.RandomState(9)
        x = np.round(rng.uniform(0, 100, 200), 2)
        y = np.round(0.5 * x + rng.uniform(0, 10, 200), 2)
        z = np.round(rng.uniform(0, 100, 200), 2)
        const = np.full(200, 7.0)
        rows = [
            (float(a), float(b), float(c), float(k))
            for a, b, c, k in zip(x, y, z, const)
        ]
        df = spark.createDataFrame(rows, "x double, y double, z double, k double")
        out = {
            (r["col_a"], r["col_b"]): r
            for r in correlation_matrix(df, ["x", "y", "z", "k"]).collect()
        }
        assert len(out) == 6 and all(r["n"] == 200 for r in out.values())
        for pair, arr in [(("x", "y"), (x, y)), (("x", "z"), (x, z)), (("y", "z"), (y, z))]:
            want = float(np.corrcoef(arr[0], arr[1])[0, 1])
            assert abs(out[pair]["corr_r"] - want) < 1e-4
        assert out[("x", "y")]["corr_r"] > 0.9  # planted relationship
        for pair in (("x", "k"), ("y", "k"), ("z", "k")):
            assert out[pair]["corr_r"] is None  # zero-variance guard

    def test_null_rows_drop_as_complete_cases(self, spark):
        from unitdb_spark.operators.olap import correlation_matrix

        df = spark.createDataFrame(
            [(1.0, 2.0), (2.0, 4.0), (3.0, None), (4.0, 8.0)],
            "x double, y double",
        )
        (r,) = correlation_matrix(df, ["x", "y"]).collect()
        assert r["n"] == 3 and abs(r["corr_r"] - 1.0) < 1e-9


class TestFunnelWithin:
    def _ev(self, spark, rows):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        data = [
            (u, typ, t0 + dt.timedelta(hours=h)) for u, typ, h in rows
        ]
        return spark.createDataFrame(
            data, "user_id long, event_type string, ts timestamp"
        )

    def test_window_bound_cuts_late_conversions(self, spark):
        from unitdb_spark.operators.funnel import funnel_within

        rows = [
            (1, "signup", 0), (1, "click", 1), (1, "purchase", 2),     # full chain
            (2, "signup", 0), (2, "click", 30), (2, "purchase", 31),   # click too late
            (3, "signup", 0), (3, "click", 1), (3, "purchase", 40),    # purchase too late
            (4, "click", 0), (4, "purchase", 1),                       # never signed up
        ]
        ev = self._ev(spark, rows)
        got = {
            r["stage"]: r["n_users"]
            for r in funnel_within(
                ev, ["signup", "click", "purchase"], within_seconds=24 * 3600
            ).collect()
        }
        assert got == {"signup": 3, "click": 2, "purchase": 1}
        # unbounded degenerates to the classic funnel
        un = {
            r["stage"]: r["n_users"]
            for r in funnel_within(ev, ["signup", "click", "purchase"]).collect()
        }
        assert un == {"signup": 3, "click": 3, "purchase": 3}

    def test_earliest_attempt_semantics(self, spark):
        """The chain anchors on the FIRST step-1 event: a later signup
        that would have enabled the conversion does not count — the
        documented greedy-earliest convention."""
        from unitdb_spark.operators.funnel import funnel_within

        rows = [(1, "signup", 0), (1, "signup", 100), (1, "click", 101)]
        got = {
            r["stage"]: r["n_users"]
            for r in funnel_within(
                self._ev(spark, rows), ["signup", "click"], within_seconds=3600
            ).collect()
        }
        assert got == {"signup": 1, "click": 0}


class TestEmbeddingCuration:
    def test_hard_negatives_exclude_same_label_and_rank(self, spark):
        from unitdb_spark.operators.similarity import cosine_topk, hard_negatives

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "label", "embedding"
        )
        out = hard_negatives(emb, q, k=5).collect()
        qlabels = {r["query_id"]: r["label"] for r in q.collect()}
        assert out and all(
            r["neg_label"] != qlabels[r["query_id"]] for r in out
        )
        # equals the plain top-k computed over the label-filtered corpus
        for qid, lab in qlabels.items():
            corp = emb.filter(F.col("label") != lab)
            qq = q.filter(F.col("query_id") == qid).select("query_id", "embedding")
            want = [
                (r["vec_id"], r["rank"])
                for r in cosine_topk(corp, qq, k=5).collect()
            ]
            got = [
                (r["vec_id"], r["rank"])
                for r in sorted(
                    (r for r in out if r["query_id"] == qid),
                    key=lambda r: r["rank"],
                )
            ]
            assert got == sorted(want, key=lambda t: t[1])

    def test_balanced_sample_caps_every_cell(self, spark):
        from unitdb_spark.operators.sampling import cluster_balanced_sample

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = cluster_balanced_sample(emb, k=4, cap=10).collect()
        assert len(out) == emb.count()  # audit view keeps every row
        from collections import Counter

        kept = Counter(r["cell"] for r in out if r["kept"])
        assert kept and all(n <= 10 for n in kept.values())
        # deterministic under repartitioning
        again = {
            (r["vec_id"], r["cell"], r["admission"], r["kept"])
            for r in cluster_balanced_sample(emb.repartition(7), k=4, cap=10).collect()
        }
        assert again == {
            (r["vec_id"], r["cell"], r["admission"], r["kept"]) for r in out
        }


class TestStatsTests:
    def test_chi_square_known_table(self, spark):
        # classic 2x2: rows [[10, 20], [20, 10]] -> chi2 = 60/9 = 6.6667
        from unitdb_spark.operators.stats_tests import chi_square_independence

        rows = (
            [("a", "x")] * 10 + [("a", "y")] * 20
            + [("b", "x")] * 20 + [("b", "y")] * 10
        )
        df = spark.createDataFrame(rows, "r string, c string")
        (out,) = chi_square_independence(df, "r", "c").collect()
        assert out["n"] == 60 and out["dof"] == 1
        # per-cell contribution is floor((o*N - rt*ct)^2 * 1e6 / (rt*ct*N));
        # each of the four cells contributes floor(5/3 * 1e6) = 1666666
        assert out["chi2_micro"] == 4 * 1_666_666

    def test_chi_square_counts_absent_cells(self, spark):
        # a level pair that never co-occurs must still add its expected mass
        from unitdb_spark.operators.stats_tests import chi_square_independence

        rows = [("a", "x")] * 5 + [("b", "y")] * 5
        df = spark.createDataFrame(rows, "r string, c string")
        (out,) = chi_square_independence(df, "r", "c").collect()
        # perfect separation of a 2x2: chi2 = N = 10
        assert out["chi2_micro"] == 10 * 1_000_000

    def test_chi_square_independent_uniform_is_zero(self, spark):
        from unitdb_spark.operators.stats_tests import chi_square_independence

        rows = [(r, c) for r in "ab" for c in "xyz" for _ in range(7)]
        df = spark.createDataFrame(rows, "r string, c string")
        (out,) = chi_square_independence(df, "r", "c").collect()
        assert out["chi2_micro"] == 0 and out["dof"] == 2

    def test_chi_square_null_levels_excluded(self, spark):
        # NULL in either category drops the row up front (the sibling
        # tests' contract); result equals the test on the clean subset
        from unitdb_spark.operators.stats_tests import chi_square_independence

        clean = (
            [("a", "x")] * 10 + [("a", "y")] * 20
            + [("b", "x")] * 20 + [("b", "y")] * 10
        )
        dirty = clean + [(None, "x")] * 3 + [("a", None)] * 4 + [(None, None)]
        d1 = spark.createDataFrame(clean, "r string, c string")
        d2 = spark.createDataFrame(dirty, "r string, c string")
        (want,) = chi_square_independence(d1, "r", "c").collect()
        (got,) = chi_square_independence(d2, "r", "c").collect()
        assert got == want and got["n"] == 60 and got["r_levels"] == 2

    def test_mann_whitney_matches_scipy_formula(self, spark):
        # hand-checkable sample with ties
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import mann_whitney_u

        a = [1.0, 2.0, 2.0, 5.0, 7.0]
        b = [3.0, 3.0, 4.0, 6.0, 8.0, 9.0]
        rows = [(v, 0) for v in a] + [(v, 1) for v in b]
        df = spark.createDataFrame(rows, "v double, arm int")
        (out,) = mann_whitney_u(df, "v", F.col("arm")).collect()
        assert out["n_a"] == 5 and out["n_b"] == 6
        # midranks: 1,2.5,2.5,4.5,4.5,6,7,8,9,10,11; arm A holds values
        # 1,2,2,5,7 -> ranks 1,2.5,2.5,7,9 -> R_A = 22
        assert out["u_a2"] == 2 * 7  # U_A = R_A - n_a(n_a+1)/2 = 22 - 15
        # z must be negative (arm A ranks lower) and finite
        assert out["z_r"] is not None and out["z_r"] < 0

    def test_mann_whitney_all_tied_is_null_z(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import mann_whitney_u

        df = spark.createDataFrame(
            [(5.0, 0)] * 4 + [(5.0, 1)] * 4, "v double, arm int"
        )
        (out,) = mann_whitney_u(df, "v", F.col("arm")).collect()
        assert out["z_r"] is None  # zero variance -> guarded NULL
        assert out["u_a2"] == 2 * 8  # U_A = n_a*n_b/2 at full tie

    def test_spearman_perfect_monotone_and_ties(self, spark):
        from unitdb_spark.operators.stats_tests import spearman_corr

        up = [(float(i), float(i * i)) for i in range(1, 30)]
        df = spark.createDataFrame(up, "x double, y double")
        (out,) = spearman_corr(df, "x", "y").collect()
        assert out["n"] == 29 and abs(out["rho_r"] - 1.0) < 1e-9

        down = [(float(i), float(-i)) for i in range(1, 20)]
        (o2,) = spearman_corr(
            spark.createDataFrame(down, "x double, y double"), "x", "y"
        ).collect()
        assert abs(o2["rho_r"] + 1.0) < 1e-9

    def test_spearman_matches_scipy_value(self, spark):
        import numpy as np

        from unitdb_spark.operators.stats_tests import spearman_corr

        rng = np.random.RandomState(3)
        x = np.round(rng.uniform(0, 50, 120), 1)  # forced ties via rounding
        y = np.round(x + rng.uniform(0, 30, 120), 1)
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
        )
        (out,) = spearman_corr(df, "x", "y").collect()

        # reference midrank computation in numpy
        def midrank(v):
            order = np.argsort(v, kind="stable")
            ranks = np.empty(len(v), float)
            sv = v[order]
            i = 0
            while i < len(sv):
                j = i
                while j + 1 < len(sv) and sv[j + 1] == sv[i]:
                    j += 1
                ranks[order[i : j + 1]] = (i + j) / 2 + 1
                i = j + 1
            return ranks

        rx, ry = midrank(x), midrank(y)
        want = float(np.corrcoef(rx, ry)[0, 1])
        assert abs(out["rho_r"] - want) < 1e-5

    def test_spearman_constant_column_guard(self, spark):
        from unitdb_spark.operators.stats_tests import spearman_corr

        df = spark.createDataFrame(
            [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)], "x double, y double"
        )
        (out,) = spearman_corr(df, "x", "y").collect()
        assert out["rho_r"] is None


class TestBenfordGini:
    def test_benford_constants_sum_to_one(self):
        from unitdb_spark.operators.profile import BENFORD_PPM

        assert sum(BENFORD_PPM) == 1_000_000 and len(BENFORD_PPM) == 9

    def test_benford_zero_count_digits_present(self, spark):
        from unitdb_spark.operators.profile import benford_report

        # amounts starting only with 1 and 2; other digits must appear
        # with n=0 and carry their full expected mass
        df = spark.createDataFrame(
            [(1.00,), (1.50,), (12.34,), (2.00,), (25.0,)], "amt double"
        )
        rows = {r["digit"]: r for r in benford_report(df, "amt").collect()}
        assert set(rows) == set(range(1, 10))
        assert rows[1]["n"] == 3 and rows[2]["n"] == 2
        assert rows[9]["n"] == 0 and rows[9]["total"] == 5
        assert rows[9]["obs_ppm"] == 0 and rows[9]["dev_ppm"] == -45757
        # zero observed -> contribution = e*1e6/1e6... = total*exp_ppm/1e6
        # floor((0 - 5*45757)^2 * 1e6 / (5*45757*1e6)) = floor(5*45757/1e6*1e6)
        assert rows[9]["chi2_micro"] == 5 * 45757  # (o-e)^2/e = e, in micro

    def test_benford_ignores_nonpositive_and_uses_cents(self, spark):
        from unitdb_spark.operators.profile import benford_report

        # 0.05 -> 5 cents -> digit 5 (first digit of the CENTS integer)
        df = spark.createDataFrame(
            [(0.05,), (-3.0,), (0.0,), (9.99,)], "amt double"
        )
        rows = {r["digit"]: r["n"] for r in benford_report(df, "amt").collect()}
        assert rows[5] == 1 and rows[9] == 1 and sum(rows.values()) == 2

    def test_gini_extremes(self, spark):
        from unitdb_spark.operators.profile import gini_by_group

        # perfectly equal -> 0; one holder of everything -> (n-1)/n
        rows = [("eq", 10.0)] * 5 + [("uneq", 0.0)] * 4 + [("uneq", 100.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = {r["group"]: r for r in gini_by_group(df, "g", "v").collect()}
        assert out["eq"]["gini_ppm"] == 0
        # G = (2*(5*10000) - 6*10000)/(5*10000) = 40000/50000 = 0.8
        assert out["uneq"]["gini_ppm"] == 800_000
        assert out["uneq"]["sum_cents"] == 10_000

    def test_gini_known_small_sample(self, spark):
        from unitdb_spark.operators.profile import gini_by_group

        # x = [1,2,3,4] dollars -> cents [100..400]
        # G = (2*(1*100+2*200+3*300+4*400) - 5*1000) / (4*1000) = 0.25
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0)],
            "g string, v double",
        )
        (r,) = gini_by_group(df, "g", "v").collect()
        assert r["gini_ppm"] == 250_000 and r["n"] == 4

    def test_gini_tie_invariance(self, spark):
        from unitdb_spark.operators.profile import gini_by_group

        # heavy ties: result must be stable under any input order
        vals = [1.0] * 10 + [5.0] * 10
        df1 = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
        df2 = spark.createDataFrame(
            [("g", v) for v in reversed(vals)], "g string, v double"
        )
        (a,) = gini_by_group(df1, "g", "v").collect()
        (b,) = gini_by_group(df2.repartition(7), "g", "v").collect()
        assert a["gini_ppm"] == b["gini_ppm"]


class TestAssocRulesPathsJson:
    def test_association_rules_directions_and_confidence(self, spark):
        from unitdb_spark.operators.olap import association_rules

        # 10 baskets: 8 contain {a,b}, 1 only a, 1 only b
        rows = []
        for i in range(8):
            rows += [(i, "a"), (i, "b")]
        rows += [(8, "a"), (9, "b")]
        df = spark.createDataFrame(rows, "b int, i string")
        out = {
            (r["ante"], r["cons"]): r
            for r in association_rules(df, "b", "i", min_support=2).collect()
        }
        assert set(out) == {("a", "b"), ("b", "a")}
        ab, ba = out[("a", "b")], out[("b", "a")]
        assert ab["n_ab"] == 8 and ab["n_ante"] == 9 and ab["n_cons"] == 9
        # conf(a->b) = 8/9 -> floor ppm
        assert ab["conf_ppm"] == 888_888 == ba["conf_ppm"]
        assert ab["support_ppm"] == 800_000
        # lift symmetric: (8/10)/((9/10)*(9/10))
        assert abs(ab["lift_r"] - round(0.8 / 0.81, 6)) < 1e-9
        assert ab["lift_r"] == ba["lift_r"]

    def test_association_rules_asymmetric_confidence(self, spark):
        from unitdb_spark.operators.olap import association_rules

        # a appears in 4 baskets, b in 2; {a,b} together in 2
        rows = [(0, "a"), (0, "b"), (1, "a"), (1, "b"), (2, "a"), (3, "a")]
        df = spark.createDataFrame(rows, "b int, i string")
        out = {
            (r["ante"], r["cons"]): r
            for r in association_rules(df, "b", "i", min_support=1).collect()
        }
        assert out[("a", "b")]["conf_ppm"] == 500_000   # 2/4
        assert out[("b", "a")]["conf_ppm"] == 1_000_000  # 2/2

    def test_top_paths_gap_guard_and_counts(self, spark):
        import datetime as dt

        from unitdb_spark.operators.funnel import top_paths

        t0 = dt.datetime(2024, 1, 1)
        s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
        rows = [
            # user 1: a->b->c twice, tight gaps
            (1, "a", s(0), 1), (1, "b", s(10), 2), (1, "c", s(20), 3),
            (1, "a", s(100), 4), (1, "b", s(110), 5), (1, "c", s(120), 6),
            # user 2: a->b then a HUGE gap before c (second hop invalid)
            (2, "a", s(0), 7), (2, "b", s(10), 8), (2, "c", s(10_000), 9),
        ]
        df = spark.createDataFrame(
            rows, "user_id int, event_type string, ts timestamp, event_id int"
        )
        out = top_paths(
            df, "user_id", "event_type", "ts",
            order_cols=["event_id"], k_steps=3, max_gap_s=60, min_support=1,
        ).collect()
        paths = {(r["step_1"], r["step_2"], r["step_3"]): r for r in out}
        # user 1 contributes abc twice and the cross-repeat triples
        # b,c,a / c,a,b have an 80s gap -> valid under 60s? 100-20=80 > 60: no
        assert paths[("a", "b", "c")]["n"] == 2
        assert ("b", "c", "a") not in paths  # gap 80s > 60s
        # user 2's abc blocked by the second hop gap
        assert sum(r["n"] for r in out) == 2
        assert paths[("a", "b", "c")]["share_ppm"] == 1_000_000

    def test_top_paths_k2_equals_pair_counting(self, spark):
        import datetime as dt

        from unitdb_spark.operators.funnel import top_paths

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, "x", t0, 1),
            (1, "y", t0 + dt.timedelta(seconds=5), 2),
            (1, "x", t0 + dt.timedelta(seconds=9), 3),
        ]
        df = spark.createDataFrame(
            rows, "user_id int, event_type string, ts timestamp, event_id int"
        )
        out = top_paths(
            df, "user_id", "event_type", "ts", order_cols=["event_id"],
            k_steps=2, max_gap_s=60, min_support=1,
        ).collect()
        got = {(r["step_1"], r["step_2"]): r["n"] for r in out}
        assert got == {("x", "y"): 1, ("y", "x"): 1}

    def test_json_field_stats_missing_and_garbage(self, spark):
        from unitdb_spark.operators.olap import json_field_stats

        df = spark.createDataFrame(
            [
                ("a", '{"k": 5}'), ("a", '{"k": 7}'), ("a", '{"other": 1}'),
                ("a", "not json at all"), ("b", None), ("b", '{"k": 10}'),
            ],
            "t string, props string",
        )
        out = {r["group"]: r for r in
               json_field_stats(df, "props", "k", "t").collect()}
        a = out["a"]
        assert a["n"] == 4 and a["n_missing"] == 2
        assert a["min_v"] == 5 and a["max_v"] == 7 and a["sum_v"] == 12
        assert a["mean_ppm"] == 6_000_000  # floor(12e6/2)
        b = out["b"]
        assert b["n"] == 2 and b["n_missing"] == 1 and b["sum_v"] == 10


class TestAgreementCalibration:
    def test_kappa_known_2x2(self, spark):
        from unitdb_spark.operators.evaluation import filter_agreement

        # n11=20 n10=5 n01=10 n00=15, N=50
        rows = (
            [(True, True)] * 20 + [(True, False)] * 5
            + [(False, True)] * 10 + [(False, False)] * 15
        )
        df = spark.createDataFrame(rows, "a boolean, b boolean")
        (r,) = filter_agreement(df, "a", "b").collect()
        assert (r["n11"], r["n10"], r["n01"], r["n00"]) == (20, 5, 10, 15)
        assert r["agree_ppm"] == 700_000
        # chance = 25*30 + 25*20 = 1250; kappa = (50*35-1250)/(2500-1250)=0.4
        assert r["kappa_ppm"] == 400_000

    def test_kappa_perfect_and_degenerate(self, spark):
        from unitdb_spark.operators.evaluation import filter_agreement

        same = spark.createDataFrame(
            [(True, True)] * 3 + [(False, False)] * 3, "a boolean, b boolean"
        )
        (r,) = filter_agreement(same, "a", "b").collect()
        assert r["kappa_ppm"] == 1_000_000
        # one constant filter carries zero information -> kappa 0
        alltrue = spark.createDataFrame(
            [(True, True)] * 3 + [(True, False)] * 3, "a boolean, b boolean"
        )
        (r2,) = filter_agreement(alltrue, "a", "b").collect()
        assert r2["kappa_ppm"] == 0
        # BOTH filters constant -> chance == N^2 -> guarded NULL
        allsame = spark.createDataFrame(
            [(True, True)] * 4, "a boolean, b boolean"
        )
        (r3,) = filter_agreement(allsame, "a", "b").collect()
        assert r3["kappa_ppm"] is None and r3["agree_ppm"] == 1_000_000

    def test_kappa_independent_filters_near_zero(self, spark):
        from unitdb_spark.operators.evaluation import filter_agreement

        # a = first half, b = alternating -> statistically independent
        rows = [(i < 50, i % 2 == 0) for i in range(100)]
        df = spark.createDataFrame(rows, "a boolean, b boolean")
        (r,) = filter_agreement(df, "a", "b").collect()
        assert abs(r["kappa_ppm"]) < 50_000

    def test_calibration_perfectly_calibrated(self, spark):
        from unitdb_spark.operators.evaluation import calibration_report

        # score == empirical rate within each decile by construction:
        # 10 groups of 10 rows, group g has score g/10+0.05 and
        # exactly g positives... use score s with s*10 positives per 10
        rows = []
        i = 0
        for g in range(10):
            s = g / 10 + 0.05
            for j in range(10):
                rows.append((i, s, j < round(s * 10)))
                i += 1
        df = spark.createDataFrame(rows, "id int, score double, y boolean")
        out = calibration_report(df, "score", "y", "id", n_bins=10).collect()
        assert len(out) == 10
        for r in out:
            assert r["n"] == 10
            # |gap| <= 50000 ppm (0.05 offset vs x/10 positives grid)
            assert abs(r["gap_ppm"]) <= 50_000
        assert all(r["ece_ppm"] == out[0]["ece_ppm"] for r in out)
        assert out[0]["ece_ppm"] <= 50_000

    def test_calibration_anticalibrated_has_big_ece(self, spark):
        from unitdb_spark.operators.evaluation import calibration_report

        # high scores get negatives, low scores get positives
        rows = [(i, i / 100.0, i < 50) for i in range(100)]
        df = spark.createDataFrame(rows, "id int, score double, y boolean")
        out = calibration_report(df, "score", "y", "id", n_bins=10).collect()
        assert out[0]["ece_ppm"] > 400_000
        by_bin = {r["bin"]: r for r in out}
        assert by_bin[1]["acc_ppm"] == 1_000_000  # lowest decile all positive
        assert by_bin[10]["acc_ppm"] == 0

    def test_calibration_decile_sizes_balanced(self, spark):
        from unitdb_spark.operators.evaluation import calibration_report

        rows = [(i, 0.5, True) for i in range(23)]  # fully tied scores
        df = spark.createDataFrame(rows, "id int, score double, y boolean")
        out = calibration_report(df, "score", "y", "id", n_bins=10).collect()
        sizes = sorted(r["n"] for r in out)
        assert sum(sizes) == 23 and max(sizes) - min(sizes) <= 1


class TestKaplanMeier:
    def test_km_hand_computed_curve(self, spark):
        from unitdb_spark.operators.survival import kaplan_meier

        # classic textbook sample: events at t=1 (2 of 10), t=3 (1 of 7,
        # after 1 censored at 2), censored at 2 (1)
        rows = (
            [(1, True)] * 2 + [(2, False)] * 1 + [(3, True)] * 1
            + [(5, False)] * 6
        )
        df = spark.createDataFrame(rows, "dur int, ev boolean")
        out = {r["t_day"]: r for r in
               kaplan_meier(df, "dur", "ev").collect()}
        assert set(out) == {1, 3}
        t1 = out[1]
        assert t1["n_risk"] == 10 and t1["d"] == 2
        assert t1["surv_e12"] == 10**12 * 8 // 10  # 0.8
        t3 = out[3]
        assert t3["n_risk"] == 7 and t3["d"] == 1
        # s = floor(0.8e12 * 6 / 7)
        assert t3["surv_e12"] == (10**12 * 8 // 10) * 6 // 7

    def test_km_censoring_between_events_shrinks_risk(self, spark):
        from unitdb_spark.operators.survival import kaplan_meier

        rows = [(1, True), (2, False), (2, False), (4, True), (4, False)]
        df = spark.createDataFrame(rows, "dur int, ev boolean")
        out = {r["t_day"]: r for r in
               kaplan_meier(df, "dur", "ev").collect()}
        assert out[1]["n_risk"] == 5
        assert out[4]["n_risk"] == 2  # two censored at 2 left the set
        assert out[4]["c"] == 1  # censored AT an event time reported

    def test_km_all_events_reaches_zero(self, spark):
        from unitdb_spark.operators.survival import kaplan_meier

        df = spark.createDataFrame(
            [(i, True) for i in range(1, 6)], "dur int, ev boolean"
        )
        out = sorted(
            kaplan_meier(df, "dur", "ev").collect(),
            key=lambda r: r["t_day"],
        )
        assert out[-1]["surv_e12"] == 0
        # survival is non-increasing
        vals = [r["surv_e12"] for r in out]
        assert vals == sorted(vals, reverse=True)

    def test_time_to_event_censors_at_horizon(self, spark):
        import datetime as dt

        from pyspark.sql import functions as F

        from unitdb_spark.operators.survival import time_to_event

        t0 = dt.datetime(2024, 1, 1, 12, 0)
        rows = [
            (1, "signup", t0), (1, "purchase", t0 + dt.timedelta(days=3)),
            (2, "signup", t0), (2, "view", t0 + dt.timedelta(days=9)),
            # user 3 purchased BEFORE signup: not an event after origin
            (3, "purchase", t0 - dt.timedelta(days=1)),
            (3, "signup", t0),
        ]
        df = spark.createDataFrame(rows, "user_id int, event_type string, ts timestamp")
        out = {r["subject"]: r for r in time_to_event(
            df, "user_id", "ts",
            origin_filter=F.col("event_type") == "signup",
            event_filter=F.col("event_type") == "purchase",
        ).collect()}
        assert out[1]["event"] and out[1]["duration_days"] == 3
        assert not out[2]["event"] and out[2]["duration_days"] == 9
        assert not out[3]["event"]  # pre-origin purchase ignored


class TestClusterOutliers:
    def test_outliers_are_farthest_per_cell(self, spark):
        import math

        from unitdb_spark.operators.sampling import cluster_outlier_report

        # two obvious clusters on axes + one planted stray per cluster
        rows = []
        vid = 0
        for base in ([1.0, 0.0], [0.0, 1.0]):
            for _ in range(6):
                rows.append((vid, [float(b) for b in base])); vid += 1
            # stray: tilted 40 degrees off the cluster axis
            a = math.radians(40)
            stray = (
                [math.cos(a), math.sin(a)]
                if base[0] else [math.sin(a), math.cos(a)]
            )
            rows.append((vid, stray)); vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = cluster_outlier_report(
            df, k=2, n_iters=1, per_cell=1
        ).collect()
        # flagged = the min-sim member of each cell under the SAME fit
        from unitdb_spark.operators.kmeans import kmeans_lloyd

        ref = kmeans_lloyd(df, k=2, n_iters=1, sim_out="_s").collect()
        expect = {}
        for r in ref:
            cur = expect.get(r["cell"])
            key = (r["_s"], r["vec_id"])
            if cur is None or key < cur:
                expect[r["cell"]] = key
        want = sorted(v[1] for v in expect.values())
        flagged = sorted(r["vec_id"] for r in out if r["outlier"])
        assert flagged == want
        assert all(r["far_rank"] == 1 for r in out if r["outlier"])
        # every cell flags exactly one member
        cells = {r["cell"] for r in out}
        assert sum(1 for r in out if r["outlier"]) == len(cells)

    def test_sim_out_does_not_change_assignment(self, spark):
        from unitdb_spark.operators.kmeans import kmeans_lloyd

        rows = [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)])
                for i in range(30)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        plain = {r["vec_id"]: r["cell"]
                 for r in kmeans_lloyd(df, k=3, n_iters=1).collect()}
        with_sim = kmeans_lloyd(df, k=3, n_iters=1, sim_out="_s").collect()
        assert {r["vec_id"]: r["cell"] for r in with_sim} == plain
        assert all(-1.0001 <= r["_s"] <= 1.0001 for r in with_sim)


class TestRankingNdcg:
    def test_ndcg_perfect_and_worst_ranking(self, spark):
        from unitdb_spark.operators.evaluation import (
            NDCG_GAIN_MICRO, ranking_ndcg,
        )

        # q1: 2 relevant at top -> perfect; q2: same 2 relevant at the
        # bottom of a 5-list -> dcg < idcg
        rows = []
        for r in range(1, 6):
            rows.append(("q1", r, r <= 2))
            rows.append(("q2", r, r >= 4))
        df = spark.createDataFrame(rows, "q string, rank int, rel boolean")
        out = {r["item"]: r for r in
               ranking_ndcg(df, "q", "rank", "rel", k=5).collect()}
        g = NDCG_GAIN_MICRO
        assert out["q1"]["dcg_micro"] == g[0] + g[1]
        assert out["q1"]["idcg_micro"] == g[0] + g[1]
        assert out["q1"]["ndcg_ppm"] == 1_000_000
        assert out["q2"]["dcg_micro"] == g[3] + g[4]
        assert out["q2"]["idcg_micro"] == g[0] + g[1]
        want = (g[3] + g[4]) * 1_000_000 // (g[0] + g[1])
        assert out["q2"]["ndcg_ppm"] == want

    def test_ndcg_no_relevant_is_null_and_k_cut(self, spark):
        from unitdb_spark.operators.evaluation import ranking_ndcg

        rows = [("q", r, False) for r in range(1, 6)]
        # a relevant item BEYOND k must not count
        rows.append(("q", 7, True))
        df = spark.createDataFrame(rows, "q string, rank int, rel boolean")
        (out,) = ranking_ndcg(df, "q", "rank", "rel", k=5).collect()
        assert out["n_rel"] == 0 and out["dcg_micro"] == 0
        assert out["idcg_micro"] is None and out["ndcg_ppm"] is None

    def test_ndcg_gain_table_is_monotone(self):
        from unitdb_spark.operators.evaluation import (
            NDCG_GAIN_MICRO, NDCG_PREFIX_MICRO,
        )

        assert NDCG_GAIN_MICRO[0] == 1_000_000
        assert list(NDCG_GAIN_MICRO) == sorted(NDCG_GAIN_MICRO, reverse=True)
        assert NDCG_PREFIX_MICRO[-1] == sum(NDCG_GAIN_MICRO)


class TestKsAndM4:
    def test_ks_identical_samples_zero(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import ks_two_sample

        rows = [(float(i), a) for i in range(20) for a in (0, 1)]
        df = spark.createDataFrame(rows, "v double, arm int")
        (r,) = ks_two_sample(df, "v", F.col("arm")).collect()
        assert r["d_scaled"] == 0 and r["d_ppm"] == 0

    def test_ks_disjoint_samples_is_one(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import ks_two_sample

        rows = [(float(i), 0) for i in range(10)] + [
            (float(i + 100), 1) for i in range(5)
        ]
        df = spark.createDataFrame(rows, "v double, arm int")
        (r,) = ks_two_sample(df, "v", F.col("arm")).collect()
        assert r["d_ppm"] == 1_000_000  # fully separated ECDFs
        assert r["ks_at"] == 9.0  # max first reached at A's last value

    def test_ks_hand_computed(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import ks_two_sample

        # A = {1,2,3,4}, B = {3,4,5,6}: max |ECDF diff| = 0.5 at v=2
        a = [(float(v), 0) for v in (1, 2, 3, 4)]
        b = [(float(v), 1) for v in (3, 4, 5, 6)]
        df = spark.createDataFrame(a + b, "v double, arm int")
        (r,) = ks_two_sample(df, "v", F.col("arm")).collect()
        assert r["n_a"] == 4 and r["n_b"] == 4
        assert r["d_scaled"] == 8  # |2*4 - 0*4|
        assert r["d_ppm"] == 500_000
        assert r["ks_at"] == 2.0  # smallest value attaining the max

    def test_m4_per_bucket_points(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import m4_downsample

        t0 = dt.datetime(2024, 1, 1)
        mk = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
        rows = [
            ("k", mk(0), 5.0, 1),   # bucket 0: first
            ("k", mk(10), 9.0, 2),  # max
            ("k", mk(20), 1.0, 3),  # min
            ("k", mk(30), 4.0, 4),  # last
            ("k", mk(70), 2.0, 5),  # bucket 1 single point
        ]
        df = spark.createDataFrame(
            rows, "key string, ts timestamp, value double, event_id int"
        )
        out = {r["bucket_start_s"]: r for r in m4_downsample(
            df, "key", "ts", "value", ["event_id"], bucket_s=3600
        ).collect()}
        b0 = out[int(t0.replace(tzinfo=dt.timezone.utc).timestamp())]
        assert (b0["first_v"], b0["last_v"], b0["min_v"], b0["max_v"]) == (
            5.0, 4.0, 1.0, 9.0
        ) and b0["n"] == 4
        b1 = out[int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) + 3600]
        assert b1["n"] == 1 and all(
            b1[c] == 2.0 for c in ("first_v", "last_v", "min_v", "max_v")
        )

    def test_m4_tiebreak_on_equal_ts(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import m4_downsample

        t0 = dt.datetime(2024, 1, 1)
        rows = [("k", t0, 7.0, 2), ("k", t0, 3.0, 1)]  # same ts
        df = spark.createDataFrame(
            rows, "key string, ts timestamp, value double, event_id int"
        )
        (r,) = m4_downsample(
            df, "key", "ts", "value", ["event_id"], bucket_s=3600
        ).collect()
        assert r["first_v"] == 3.0 and r["last_v"] == 7.0  # id order


class TestCupedRobustMean:
    def test_cuped_hand_computed_moments(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.evaluation import cuped_adjusted

        # (x, y, arm): sxy = 2+8+21+36 = 67 -> theta =
        # (4*67-10*22)/(4*30-100) = 48/20 = 2.4; muX = 2.5;
        # adj_a = 3 - 2.4*(1.5-2.5) = 5.4; adj_b = 8 - 2.4*1 = 5.6
        rows = [(1.0, 2.0, 0), (2.0, 4.0, 0), (3.0, 7.0, 1), (4.0, 9.0, 1)]
        df = spark.createDataFrame(rows, "x double, y double, arm int")
        (r,) = cuped_adjusted(df, "y", "x", F.col("arm")).collect()
        assert r["theta_r"] == 2.4
        assert r["ya_r"] == 3.0 and r["yb_r"] == 8.0 and r["diff_r"] == -5.0
        assert r["adj_a_r"] == 5.4 and r["adj_b_r"] == 5.6
        assert abs(r["adj_diff_r"] + 0.2) < 1e-9

    def test_cuped_randomized_arms_theta_one(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.evaluation import cuped_adjusted

        # Y = X exactly, arms independent of X -> theta == 1 and the
        # adjusted arm means collapse onto the pooled mean
        rows = [(float(10 + (i * 7) % 50),) * 2 + (i % 2,) for i in range(40)]
        df = spark.createDataFrame(rows, "x double, y double, arm int")
        (r,) = cuped_adjusted(df, "y", "x", F.col("arm")).collect()
        assert r["theta_r"] == 1.0
        assert r["adj_a_r"] == r["adj_b_r"]  # all X-variance removed
        assert r["adj_diff_r"] == 0.0

    def test_cuped_zero_variance_covariate_falls_back(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.evaluation import cuped_adjusted

        rows = [(5.0, float(i), i % 2) for i in range(10)]
        df = spark.createDataFrame(rows, "x double, y double, arm int")
        (r,) = cuped_adjusted(df, "y", "x", F.col("arm")).collect()
        assert r["theta_r"] is None
        assert r["adj_diff_r"] == r["diff_r"]

    def test_robust_mean_trims_the_whale(self, spark):
        from unitdb_spark.operators.profile import robust_mean_report

        # 18 x $1 + one $0 + one $1000 whale, 5% trim -> k=1 cuts both
        rows = [("g", 1.0)] * 18 + [("g", 0.0), ("g", 1000.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        (r,) = robust_mean_report(df, "g", "v", trim_ppm=50_000).collect()
        assert r["n"] == 20 and r["k_trim"] == 1 and r["n_kept"] == 18
        assert r["trimmed_micro"] == 100 * 1_000_000  # exactly $1.00
        # winsorized: tails replaced by $1 boundaries -> also $1 mean
        assert r["winsor_micro"] == 100 * 1_000_000
        # plain mean dragged by the whale: (18*100 + 0 + 100000)/20
        assert r["mean_micro"] == (18 * 100 + 100000) * 1_000_000 // 20

    def test_robust_mean_zero_trim_equals_mean(self, spark):
        from unitdb_spark.operators.profile import robust_mean_report

        rows = [("g", float(v)) for v in (1, 2, 3, 4)]
        df = spark.createDataFrame(rows, "g string, v double")
        (r,) = robust_mean_report(df, "g", "v", trim_ppm=0).collect()
        assert r["k_trim"] == 0
        assert r["mean_micro"] == r["trimmed_micro"] == r["winsor_micro"]


class TestLagCorrelation:
    def test_planted_lag_is_detected(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import lag_correlation

        # B is exactly A shifted by +3 buckets: corr at lag 3 == 1.0
        t0 = dt.datetime(2024, 1, 1)
        rows = []
        pattern = [5, 1, 9, 2, 7, 3, 8, 1, 6, 4] * 3
        for hour, cnt in enumerate(pattern):
            for j in range(cnt):
                rows.append(("a", t0 + dt.timedelta(hours=hour, seconds=j)))
            for j in range(cnt):
                rows.append(("b", t0 + dt.timedelta(hours=hour + 3, seconds=j)))
        df = spark.createDataFrame(rows, "k string, ts timestamp")
        out = {r["lag"]: r for r in lag_correlation(
            df, "k", "ts", "a", "b", bucket_s=3600, max_lag=5
        ).collect()}
        assert len(out) == 11
        assert out[3]["corr_r"] == 1.0
        # every other lag is strictly worse
        for lag, r in out.items():
            if lag != 3 and r["corr_r"] is not None:
                assert r["corr_r"] < 1.0

    def test_zero_variance_side_is_null(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import lag_correlation

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        for hour in range(6):
            rows.append(("a", t0 + dt.timedelta(hours=hour)))  # constant 1/h
            for j in range(hour + 1):
                rows.append(("b", t0 + dt.timedelta(hours=hour, seconds=j)))
        df = spark.createDataFrame(rows, "k string, ts timestamp")
        out = lag_correlation(
            df, "k", "ts", "a", "b", bucket_s=3600, max_lag=2
        ).collect()
        assert all(r["corr_r"] is None for r in out if r["lag"] == 0)


class TestOverlapLorenzInfogain:
    def test_audience_overlap_exact_jaccard(self, spark):
        from unitdb_spark.operators.olap import audience_overlap

        rows = (
            [("a", u) for u in (1, 2, 3, 4)]
            + [("b", u) for u in (3, 4, 5)]
            + [("c", 9)]
        )
        df = spark.createDataFrame(rows, "k string, u int")
        out = {(r["key_a"], r["key_b"]): r
               for r in audience_overlap(df, "k", "u").collect()}
        ab = out[("a", "b")]
        assert (ab["n_a"], ab["n_b"], ab["n_common"]) == (4, 3, 2)
        assert ab["jaccard_ppm"] == 400_000  # 2/5
        assert ("a", "c") not in out  # disjoint pairs absent

    def test_audience_overlap_dedups_units(self, spark):
        from unitdb_spark.operators.olap import audience_overlap

        rows = [("a", 1)] * 5 + [("b", 1)] * 3
        df = spark.createDataFrame(rows, "k string, u int")
        (r,) = audience_overlap(df, "k", "u").collect()
        assert r["n_a"] == r["n_b"] == r["n_common"] == 1
        assert r["jaccard_ppm"] == 1_000_000

    def test_lorenz_uniform_and_concentrated(self, spark):
        from unitdb_spark.operators.profile import lorenz_deciles

        uni = spark.createDataFrame(
            [(u, 10.0) for u in range(20)], "u int, v double"
        )
        out = sorted(lorenz_deciles(uni, "u", "v").collect(),
                     key=lambda r: r["decile"])
        assert len(out) == 10 and all(r["n"] == 2 for r in out)
        assert out[-1]["cum_share_ppm"] == 1_000_000
        assert out[0]["share_ppm"] == 100_000  # uniform: each decile 10%

        conc = spark.createDataFrame(
            [(u, 0.01) for u in range(19)] + [(99, 1000.0)],
            "u int, v double",
        )
        o2 = sorted(lorenz_deciles(conc, "u", "v").collect(),
                    key=lambda r: r["decile"])
        assert o2[-1]["share_ppm"] > 990_000  # whale decile owns it all
        # cumulative is monotone
        cums = [r["cum_share_ppm"] for r in o2]
        assert cums == sorted(cums)

    def test_gini_gain_perfect_and_useless_feature(self, spark):
        from unitdb_spark.operators.evaluation import gini_gain

        # perfect separation: feature fully determines the label
        perfect = spark.createDataFrame(
            [("x", True)] * 10 + [("y", False)] * 10, "f string, y boolean"
        )
        rows = gini_gain(perfect, "f", "y").collect()
        assert all(r["gini_s_ppm"] == 0 for r in rows)
        assert all(r["root_gini_ppm"] == 500_000 for r in rows)
        assert all(r["gain_micro"] == 500_000 for r in rows)

        # label independent of the feature: gain ~ 0
        useless = spark.createDataFrame(
            [(f, bool(i % 2)) for f in "xy" for i in range(10)],
            "f string, y boolean",
        )
        r2 = gini_gain(useless, "f", "y").collect()
        assert all(abs(r["gain_micro"]) <= 2 for r in r2)  # floor slack


class TestBudgetQuantileNegatives:
    def test_water_filling_levels(self, spark):
        from unitdb_spark.operators.mixture import token_budget_allocation

        df = spark.createDataFrame(
            [("a", 100), ("b", 50), ("c", 10), ("d", 7)], "s string, w int"
        )
        got = {b: {r["source"]: r for r in
                   token_budget_allocation(df, "s", "w", b).collect()}
               for b in (200, 100, 20, 3)}
        # budget covers all: full allocation, leftover 0
        assert all(r["alloc"] == r["n_tokens"] for r in got[200].values())
        assert got[200]["a"]["leftover"] == 0
        # partial: level 41 -> a,b capped, c,d full; floor leaves 1
        g = got[100]
        assert g["a"]["level"] == 41
        assert g["a"]["alloc"] == 41 and g["b"]["alloc"] == 41
        assert g["c"]["alloc"] == 10 and g["d"]["alloc"] == 7
        assert g["a"]["leftover"] == 1
        # everyone capped below the smallest weight
        assert all(r["alloc"] == 5 for r in got[20].values())
        # budget smaller than one-each: level 0, all leftover
        assert all(r["alloc"] == 0 for r in got[3].values())
        assert got[3]["a"]["leftover"] == 3

    def test_water_filling_conservation_property(self, spark):
        from unitdb_spark.operators.mixture import token_budget_allocation

        df = spark.createDataFrame(
            [(f"s{i}", (i * 13) % 40 + 1) for i in range(12)],
            "s string, w int",
        )
        total = sum((i * 13) % 40 + 1 for i in range(12))
        for b in (1, 17, total // 2, total, total + 100):
            rows = token_budget_allocation(df, "s", "w", b).collect()
            spent = sum(r["alloc"] for r in rows)
            assert spent + rows[0]["leftover"] == min(b, total)
            assert all(0 <= r["alloc"] <= r["n_tokens"] for r in rows)

    def test_quantile_map_endpoints_and_median(self, spark):
        from unitdb_spark.operators.olap import quantile_map

        a = spark.createDataFrame(
            [(1, 5.0), (2, 50.0), (3, 500.0)], "id int, v double"
        )
        ref = spark.createDataFrame(
            [(i, float(i * 10)) for i in range(1, 12)], "id int, v double"
        )  # ref values 10..110
        out = {r["id"]: r for r in
               quantile_map(a, "id", "v", ref, "v").collect()}
        assert out[1]["q_ppm"] == 0 and out[1]["mapped"] == 10.0
        assert out[2]["q_ppm"] == 500_000 and out[2]["mapped"] == 60.0
        assert out[3]["q_ppm"] == 1_000_000 and out[3]["mapped"] == 110.0

    def test_quantile_map_ties_share_quantile(self, spark):
        from unitdb_spark.operators.olap import quantile_map

        a = spark.createDataFrame(
            [(1, 7.0), (2, 7.0), (3, 9.0)], "id int, v double"
        )
        ref = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 6)], "id int, v double"
        )
        out = {r["id"]: r for r in
               quantile_map(a, "id", "v", ref, "v").collect()}
        assert out[1]["q_ppm"] == out[2]["q_ppm"] == 0  # rank() ties
        assert out[1]["mapped"] == out[2]["mapped"]

    def test_quantile_map_empty_reference_raises(self, spark):
        import pytest

        from unitdb_spark.operators.olap import quantile_map

        a = spark.createDataFrame([(1, 7.0)], "id int, v double")
        ref = spark.createDataFrame([], "id int, v double")
        with pytest.raises(ValueError, match="empty reference"):
            quantile_map(a, "id", "v", ref, "v")

    def test_quantile_map_one_row_reference_is_constant(self, spark):
        from unitdb_spark.operators.olap import quantile_map

        a = spark.createDataFrame(
            [(1, 7.0), (2, 9.0), (3, 11.0)], "id int, v double"
        )
        ref = spark.createDataFrame([(1, 5.0)], "id int, v double")
        out = quantile_map(a, "id", "v", ref, "v").collect()
        assert len(out) == 3 and all(r["mapped"] == 5.0 for r in out)

    def test_negative_edges_exclude_true_edges(self, spark):
        from unitdb_spark.operators.graph import negative_edge_samples
        from pyspark.sql import functions as F

        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 3), (3, 1)], "src long, dst long"
        )
        mx = spark.createDataFrame([(20,)], "max_id long")
        out = negative_edge_samples(edges, mx, k=3, oversample=4).collect()
        true_pairs = {(1, 2), (1, 3), (2, 1), (3, 1)}
        for r in out:
            assert (r["src"], r["neg_dst"]) not in true_pairs
            assert r["neg_dst"] != r["src"]
            assert 1 <= r["neg_dst"] <= 20 and r["rank"] <= 3
        # deterministic across recomputation
        again = negative_edge_samples(edges, mx, k=3, oversample=4).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))
        # no duplicate negatives per src
        seen = [(r["src"], r["neg_dst"]) for r in out]
        assert len(seen) == len(set(seen))


class TestKanonCohortLtv:
    def test_kanon_counts_small_classes(self, spark):
        from unitdb_spark.operators.profile import kanonymity_report

        # class (a,1): 5 rows 2 users; (a,2): 2 rows 1 user; (b,1): 1 row
        rows = (
            [("a", 1, 10)] * 3 + [("a", 1, 11)] * 2
            + [("a", 2, 12)] * 2 + [("b", 1, 13)]
        )
        df = spark.createDataFrame(rows, "q1 string, q2 int, s int")
        (r,) = kanonymity_report(df, ["q1", "q2"], "s", k=3).collect()
        assert r["n_rows"] == 8 and r["n_classes"] == 3
        assert r["min_class"] == 1
        assert r["n_rows_below_k"] == 3  # the 2-row and 1-row classes
        assert r["share_below_k_ppm"] == 375_000
        assert r["min_l"] == 1 and r["n_classes_l1"] == 2

    def test_kanon_fully_anonymous_table(self, spark):
        from unitdb_spark.operators.profile import kanonymity_report

        rows = [("g", i % 3) for i in range(30)]
        df = spark.createDataFrame(rows, "q string, s int")
        (r,) = kanonymity_report(df, ["q"], "s", k=5).collect()
        assert r["n_rows_below_k"] == 0 and r["share_below_k_ppm"] == 0
        assert r["min_l"] == 3 and r["n_classes_l1"] == 0

    def test_cohort_ltv_ages_and_cumulative(self, spark):
        import datetime as dt

        from pyspark.sql import functions as F

        from unitdb_spark.operators.olap import cohort_ltv

        mon = dt.datetime(2024, 1, 1, 9)  # a Monday
        rows = [
            (1, mon, 10.0),                       # cohort w0, age 0
            (1, mon + dt.timedelta(days=8), 5.0),  # age 1
            (1, mon + dt.timedelta(days=15), 2.5),  # age 2
            (2, mon + dt.timedelta(days=1), 20.0),  # same cohort, age 0
        ]
        df = spark.createDataFrame(rows, "u int, ts timestamp, v double")
        out = {r["age"]: r for r in cohort_ltv(
            df, "u", "ts", F.col("v"), bucket="week"
        ).collect()}
        assert out[0]["n_units"] == 2 and out[0]["revenue_cents"] == 3000
        assert out[1]["revenue_cents"] == 500
        assert out[2]["cum_revenue_cents"] == 3750
        assert all(r["cohort_start"] == dt.date(2024, 1, 1) for r in out.values())

    def test_cohort_ltv_separate_cohorts(self, spark):
        import datetime as dt

        from pyspark.sql import functions as F

        from unitdb_spark.operators.olap import cohort_ltv

        mon = dt.datetime(2024, 1, 1, 12)
        rows = [
            (1, mon, 1.0),
            (2, mon + dt.timedelta(days=7), 2.0),  # next week's cohort
        ]
        df = spark.createDataFrame(rows, "u int, ts timestamp, v double")
        out = cohort_ltv(df, "u", "ts", F.col("v"), bucket="week").collect()
        assert len(out) == 2
        assert {r["cohort_start"] for r in out} == {
            dt.date(2024, 1, 1), dt.date(2024, 1, 8)
        }
        assert all(r["age"] == 0 for r in out)


class TestModularity:
    def test_two_cliques_high_q(self, spark):
        from unitdb_spark.operators.graph import modularity

        # two disjoint triangles, communities = the triangles
        edges = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)],
            "id_a long, id_b long",
        )
        assign = spark.createDataFrame(
            [(n, 1 if n <= 3 else 4) for n in range(1, 7)],
            "node long, comm long",
        )
        out = {r["comm"]: r for r in modularity(edges, assign).collect()}
        # each community: e_in=3, d_sum=6, m=6 ->
        # contrib = (4*6*3 - 36)/(4*36) = 36/144 = 0.25
        for c in (1, 4):
            assert out[c]["e_in"] == 3 and out[c]["d_sum"] == 6
            assert out[c]["contrib_micro"] == 250_000
        assert out[1]["q_micro"] == 500_000  # the classic 2-clique Q

    def test_everything_one_community_is_zero(self, spark):
        from unitdb_spark.operators.graph import modularity

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
        )
        assign = spark.createDataFrame(
            [(n, 0) for n in range(1, 5)], "node long, comm long"
        )
        (r,) = modularity(edges, assign).collect()
        # e_in = m and d_sum = 2m -> contrib = (4m^2 - 4m^2)/(4m^2) = 0
        assert r["contrib_micro"] == 0 and r["q_micro"] == 0

    def test_random_split_negative_or_zero(self, spark):
        from unitdb_spark.operators.graph import modularity

        # a clique split across two communities scores NEGATIVE
        edges = spark.createDataFrame(
            [(a, b) for a in range(1, 5) for b in range(a + 1, 5)],
            "id_a long, id_b long",
        )
        assign = spark.createDataFrame(
            [(1, 0), (2, 1), (3, 0), (4, 1)], "node long, comm long"
        )
        out = modularity(edges, assign).collect()
        assert out[0]["q_micro"] < 0


class TestReviewFixesRound5b:
    def test_kappa_null_verdicts_reported_not_conflated(self, spark):
        from unitdb_spark.operators.evaluation import filter_agreement

        rows = [(True, True)] * 6 + [(False, False)] * 6 + [(None, True)] * 3
        df = spark.createDataFrame(rows, "a boolean, b boolean")
        (r,) = filter_agreement(df, "a", "b").collect()
        assert r["n"] == 12 and r["n_null"] == 3
        # perfect agreement on the decided rows, undeflated
        assert r["agree_ppm"] == 1_000_000
        assert r["kappa_ppm"] == 1_000_000

    def test_ndcg_zero_based_ranks_drop_instead_of_crash(self, spark):
        from unitdb_spark.operators.evaluation import ranking_ndcg

        rows = [("q", r, True) for r in range(0, 5)]  # 0-based by mistake
        df = spark.createDataFrame(rows, "q string, rank int, rel boolean")
        (out,) = ranking_ndcg(df, "q", "rank", "rel", k=5).collect()
        assert out["n_rel"] == 4  # rank 0 dropped, 1..4 counted

    def test_outlier_report_custom_id_col(self, spark):
        from unitdb_spark.operators.sampling import cluster_outlier_report

        rows = [(i, [float(i % 2), float(1 - i % 2)]) for i in range(12)]
        df = spark.createDataFrame(rows, "doc_id long, emb array<float>")
        out = cluster_outlier_report(
            df, k=2, n_iters=1, per_cell=1, id_col="doc_id", vec_col="emb"
        ).collect()
        assert len(out) == 12 and "doc_id" in out[0].asDict()


class TestTrendBreakRrf:
    def test_trend_break_planted_slopes(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import trend_break

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        # pre: slope +2 $/day for 10 days; post: slope -1 $/day
        for i in range(10):
            rows.append((t0 + dt.timedelta(days=i), 100.0 + 2.0 * i))
        for i in range(10, 20):
            rows.append((t0 + dt.timedelta(days=i), 140.0 - 1.0 * (i - 10)))
        df = spark.createDataFrame(rows, "ts timestamp, v double")
        (r,) = trend_break(df, "ts", "v", "2024-01-11").collect()
        assert r["n_pre"] == 10 and r["n_post"] == 10
        assert r["slope_pre_r"] == 200.0   # cents per day
        assert r["slope_post_r"] == -100.0
        assert r["delta_r"] == -300.0

    def test_trend_break_single_day_side_is_null(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import trend_break

        t0 = dt.datetime(2024, 1, 1)
        rows = [(t0, 5.0), (t0 + dt.timedelta(days=3), 9.0),
                (t0 + dt.timedelta(days=4), 9.0)]
        df = spark.createDataFrame(rows, "ts timestamp, v double")
        (r,) = trend_break(df, "ts", "v", "2024-01-04").collect()
        assert r["slope_pre_r"] is None  # one distinct pre day: no slope
        assert r["delta_r"] is None

    def test_rrf_fuses_two_rankings(self, spark):
        from unitdb_spark.operators.evaluation import (
            RRF_GAIN_MICRO, reciprocal_rank_fusion,
        )

        a = spark.createDataFrame(
            [("q", "x", 1), ("q", "y", 2)], "q string, i string, rank int"
        )
        b = spark.createDataFrame(
            [("q", "y", 1), ("q", "z", 2)], "q string, i string, rank int"
        )
        out = {r["item"]: r for r in reciprocal_rank_fusion(
            [a, b], "q", "i", "rank", top_k=3
        ).collect()}
        g = RRF_GAIN_MICRO
        # y appears in both systems: rank2 + rank1
        assert out["y"]["rrf_micro"] == g[1] + g[0]
        assert out["y"]["n_systems"] == 2
        assert out["x"]["rrf_micro"] == g[0] and out["x"]["n_systems"] == 1
        # consensus beats a single first place
        assert out["y"]["fused_rank"] == 1
        assert out["x"]["fused_rank"] == 2  # g[0] > g[1] tie-free

    def test_rrf_single_system_preserves_order(self, spark):
        from unitdb_spark.operators.evaluation import reciprocal_rank_fusion

        a = spark.createDataFrame(
            [("q", "c", 3), ("q", "a", 1), ("q", "b", 2)],
            "q string, i string, rank int",
        )
        out = sorted(
            reciprocal_rank_fusion([a], "q", "i", "rank").collect(),
            key=lambda r: r["fused_rank"],
        )
        assert [r["item"] for r in out] == ["a", "b", "c"]


class TestPettitt:
    def test_planted_shift_found_at_boundary(self, spark):
        import datetime as dt

        from unitdb_spark.operators.stats_tests import pettitt_test

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        # 20 low values then 20 high values: changepoint at row 20
        for i in range(20):
            rows.append((t0 + dt.timedelta(minutes=i), 10.0 + (i % 3), i))
        for i in range(20, 40):
            rows.append((t0 + dt.timedelta(minutes=i), 100.0 + (i % 3), i))
        df = spark.createDataFrame(rows, "ts timestamp, v double, event_id int")
        (r,) = pettitt_test(df, "ts", "v", ["event_id"]).collect()
        assert r["n"] == 40
        # max separation: every low < every high -> |U| = 2*20*20/... :
        # U_20 = sum of first 20 doubled-ranks - 20*41; first 20 hold
        # ranks 1..20 in some midrank arrangement summing to 2*(210)
        assert r["k_stat"] == abs(2 * 210 - 20 * 41)  # = 400
        want_ts = t0 + dt.timedelta(minutes=19)
        assert r["t_at_s"] == int(
            want_ts.replace(tzinfo=dt.timezone.utc).timestamp()
        )

    def test_pettitt_matches_bruteforce_sign_sum(self, spark):
        import datetime as dt

        from unitdb_spark.operators.stats_tests import pettitt_test

        t0 = dt.datetime(2024, 1, 1)
        vals = [3.0, 7.0, 7.0, 1.0, 9.0, 2.0, 8.0, 8.0]
        rows = [(t0 + dt.timedelta(minutes=i), v, i)
                for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "ts timestamp, v double, event_id int")
        (r,) = pettitt_test(df, "ts", "v", ["event_id"]).collect()

        def sgn(x):
            return (x > 0) - (x < 0)

        n = len(vals)
        us = [
            sum(sgn(vals[i] - vals[j])
                for i in range(t + 1) for j in range(t + 1, n))
            for t in range(n - 1)
        ]
        assert r["k_stat"] == max(abs(u) for u in us)


class TestSparseCosine:
    def test_identical_docs_score_one(self, spark):
        from unitdb_spark.operators.tfidf import sparse_cosine_pairs

        # 6 identical docs (df of every term = 6, inside [2, 50])
        docs = spark.createDataFrame(
            [(i, "alpha beta gamma delta") for i in range(6)],
            "doc_id long, text string",
        )
        out = sparse_cosine_pairs(docs, min_df=2, max_df=50).collect()
        assert len(out) == 15  # all pairs
        assert all(r["cosine_r"] == 1.0 and r["n_shared"] == 4 for r in out)

    def test_threshold_and_vocabulary_banding(self, spark):
        from fractions import Fraction

        from unitdb_spark.operators.tfidf import sparse_cosine_pairs

        rows = [
            (1, "shared common x1 y1"),
            (2, "shared common x2 y2"),
            (3, "totally different words here"),
            (4, "shared common x4 y4"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = sparse_cosine_pairs(
            docs, min_df=2, max_df=3, threshold=Fraction(1, 2)
        ).collect()
        pairs = {(r["id_a"], r["id_b"]) for r in out}
        # docs 1,2,4 share their whole surviving vocabulary
        assert pairs == {(1, 2), (1, 4), (2, 4)}
        assert all(r["cosine_r"] == 1.0 for r in out)  # x*/y* are hapax

    def test_stopword_cap_removes_ubiquitous_term(self, spark):
        from unitdb_spark.operators.tfidf import sparse_cosine_pairs

        # 'the' everywhere; pairs must NOT form on it with max_df=2
        rows = [(i, f"the unique{i} token{i}") for i in range(5)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = sparse_cosine_pairs(docs, min_df=2, max_df=2).collect()
        assert out == []  # everything else is hapax


class TestReviewFixesRound5c:
    def test_sparse_cosine_accepts_float_threshold(self, spark):
        from unitdb_spark.operators.tfidf import sparse_cosine_pairs

        docs = spark.createDataFrame(
            [(i, "alpha beta gamma") for i in range(4)],
            "doc_id long, text string",
        )
        # 0.4 must mean the exact decimal 2/5, not the 53-bit dyadic
        out = sparse_cosine_pairs(
            docs, min_df=2, max_df=50, threshold=0.4
        ).collect()
        assert len(out) == 6 and all(r["cosine_r"] == 1.0 for r in out)

    def test_pettitt_one_row_contract_on_degenerate_series(self, spark):
        import datetime as dt

        from unitdb_spark.operators.stats_tests import pettitt_test

        t0 = dt.datetime(2024, 1, 1)
        one = spark.createDataFrame(
            [(t0, 5.0, 1)], "ts timestamp, v double, event_id int"
        )
        (r,) = pettitt_test(one, "ts", "v", ["event_id"]).collect()
        assert r["n"] == 1 and r["k_stat"] is None and r["t_at_s"] is None
        empty = spark.createDataFrame(
            [(t0, float("nan"), 1)], "ts timestamp, v double, event_id int"
        )
        (r2,) = pettitt_test(empty, "ts", "v", ["event_id"]).collect()
        assert r2["n"] == 0 and r2["k_stat"] is None

    def test_rrf_max_rank_widens_the_table(self, spark):
        from unitdb_spark.operators.evaluation import reciprocal_rank_fusion

        deep = spark.createDataFrame(
            [("q", "deep", 150), ("q", "shallow", 1)],
            "q string, i string, rank int",
        )
        # default table (100): the deep item drops
        out = reciprocal_rank_fusion([deep], "q", "i", "rank").collect()
        assert {r["item"] for r in out} == {"shallow"}
        # widened table keeps it with the correct gain
        out2 = {r["item"]: r for r in reciprocal_rank_fusion(
            [deep], "q", "i", "rank", max_rank=200
        ).collect()}
        assert out2["deep"]["rrf_micro"] == int(1_000_000 / (60 + 150))

    def test_related_items_count_mode_reorders(self, spark):
        from unitdb_spark.operators.graph import related_items

        # item 1 co-occurs with 2 often (high count) but 2 is
        # ubiquitous (low cosine); with 3 rarely but exclusively
        rows = []
        basket = 0
        for _ in range(3):
            rows += [(basket, 1), (basket, 2)]; basket += 1
        for _ in range(20):
            rows += [(basket, 2)]; basket += 1  # 2 alone: inflates n_2
        rows += [(basket, 1), (basket, 3)]; basket += 1
        rows += [(basket, 1), (basket, 3)]; basket += 1
        df = spark.createDataFrame(rows, "g long, i long")
        cos = {r["neighbor"]: r["rank"] for r in related_items(
            df, "g", "i", k=5, min_cooc=2, score="cosine"
        ).filter("item = 1").collect()}
        cnt = {r["neighbor"]: r["rank"] for r in related_items(
            df, "g", "i", k=5, min_cooc=2, score="count"
        ).filter("item = 1").collect()}
        assert cnt[2] == 1          # raw count favors the popular item
        assert cos[3] < cos[2]      # cosine favors the exclusive one


class TestDecompStrengthAbc:
    def test_strength_extremes(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import (
            decomposition_strength,
            seasonal_decompose,
        )

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        eid = 0
        for day in range(6):
            for hour in range(24):
                ts = t0 + dt.timedelta(days=day, hours=hour)
                # "seasonal": pure daily rhythm; "flat": constant
                rows.append((eid, ts, "seasonal",
                             100.0 + 50.0 * (hour % 24 < 12))); eid += 1
                rows.append((eid, ts, "flat", 42.0)); eid += 1
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )
        sd = seasonal_decompose(df, "event_type")
        out = {r["event_type"]: r
               for r in decomposition_strength(sd).collect()}
        assert out["seasonal"]["seasonal_strength_r"] > 0.9
        # a constant series has zero variance everywhere -> NULL guards
        assert out["flat"]["seasonal_strength_r"] is None

    def test_strength_respects_key_col(self, spark):
        # non-default key name flows seasonal_decompose -> strength
        import datetime as dt

        from unitdb_spark.operators.timeseries import (
            decomposition_strength,
            seasonal_decompose,
        )

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        for day in range(3):
            for hour in range(24):
                ts = t0 + dt.timedelta(days=day, hours=hour)
                rows.append((ts, "s1", 10.0 + 5.0 * (hour < 12)))
        df = spark.createDataFrame(rows, "ts timestamp, series string, value double")
        sd = seasonal_decompose(df, "series")
        out = decomposition_strength(sd, key_col="series").collect()
        assert len(out) == 1 and out[0]["series"] == "s1"

    def test_abc_bands_and_shares(self, spark):
        from unitdb_spark.operators.olap import abc_classification

        # revenues 50, 30, 15, 5 -> cum shares 50/80/95/100
        rows = [("a", 50.0), ("b", 30.0), ("c", 15.0), ("d", 5.0)]
        df = spark.createDataFrame(rows, "k string, v double")
        out = {r["key"]: r for r in
               abc_classification(df, "k", "v").collect()}
        assert out["a"]["abc_class"] == "A"   # cum-before 0 < 80
        assert out["b"]["abc_class"] == "A"   # cum-before 50 < 80
        assert out["c"]["abc_class"] == "B"   # cum-before 80 -> B band
        assert out["d"]["abc_class"] == "C"   # cum-before 95 -> C
        assert out["d"]["cum_share_ppm"] == 1_000_000
        assert out["a"]["share_ppm"] == 500_000
        assert [out[k]["rank"] for k in "abcd"] == [1, 2, 3, 4]

    def test_abc_aggregates_per_key_first(self, spark):
        from unitdb_spark.operators.olap import abc_classification

        rows = [("x", 10.0)] * 9 + [("y", 1.0)]
        df = spark.createDataFrame(rows, "k string, v double")
        out = {r["key"]: r for r in
               abc_classification(df, "k", "v").collect()}
        assert out["x"]["cents"] == 9000 and out["x"]["abc_class"] == "A"
        assert out["y"]["abc_class"] == "C"


class TestMarkov:
    """First-order transition matrix + typicality (operators/markov.py)."""

    @staticmethod
    def _seq(spark, rows):
        return spark.createDataFrame(
            rows, "k bigint, ts bigint, s string"
        )

    def test_transition_counts_basic(self, spark):
        """One key, sequence a b a b b: transitions ab, ba, ab, bb."""
        from unitdb_spark.operators.markov import transition_counts

        df = self._seq(
            spark,
            [(1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"), (1, 5, "b")],
        )
        got = {
            (r.src, r.dst): r.n
            for r in transition_counts(df, "k", "s", "ts", "ts").collect()
        }
        assert got == {("a", "b"): 2, ("b", "a"): 1, ("b", "b"): 1}

    def test_no_cross_key_pairing(self, spark):
        """The lag never pairs across keys: two keys of one event
        each produce zero transitions."""
        from unitdb_spark.operators.markov import transition_counts

        df = self._seq(spark, [(1, 1, "a"), (2, 2, "b")])
        assert transition_counts(df, "k", "s", "ts", "ts").count() == 0

    def test_matrix_floor_ppm_rows(self, spark):
        """Row a: 2x ab, 1x ac -> p(ab)=666666 ppm (floored), p(ac)=333333."""
        from unitdb_spark.operators.markov import transition_matrix

        df = self._seq(
            spark,
            [
                (1, 1, "a"), (1, 2, "b"),
                (2, 1, "a"), (2, 2, "b"),
                (3, 1, "a"), (3, 2, "c"),
            ],
        )
        got = {
            (r.src, r.dst): (r.n, r.row_total, r.p_ppm)
            for r in transition_matrix(df, "k", "s", "ts", "ts").collect()
        }
        assert got[("a", "b")] == (2, 3, 666_666)
        assert got[("a", "c")] == (1, 3, 333_333)

    def test_tiebreak_orders_equal_ts(self, spark):
        """Equal timestamps fall back to the tiebreak column, keeping
        the pairing total-ordered."""
        from unitdb_spark.operators.markov import transition_counts

        df = spark.createDataFrame(
            [(1, 1, 10, "a"), (1, 1, 11, "b"), (1, 1, 12, "c")],
            "k bigint, ts bigint, eid bigint, s string",
        )
        got = {
            (r.src, r.dst)
            for r in transition_counts(df, "k", "s", "ts", "eid").collect()
        }
        assert got == {("a", "b"), ("b", "c")}

    def test_typicality_flags_unseen(self, spark):
        """Score a sequence under a matrix trained elsewhere: the
        unseen transition contributes 0 ppm and bumps n_unseen."""
        from unitdb_spark.operators.markov import (
            sequence_typicality,
            transition_matrix,
        )

        train = self._seq(
            spark, [(1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b")]
        )
        m = transition_matrix(train, "k", "s", "ts", "ts")
        score = self._seq(spark, [(9, 1, "a"), (9, 2, "b"), (9, 3, "z")])
        row = sequence_typicality(score, m, "k", "s", "ts", "ts").collect()[0]
        assert row.k == 9 and row.n_trans == 2
        assert row.n_unseen == 1
        assert row.min_p_ppm == 0
        assert row.sum_p_ppm == 1_000_000  # p(a->b) = 1.0


class TestKCore:
    @staticmethod
    def _sym(spark, und):
        from pyspark.sql import functions as F

        e = spark.createDataFrame(und, ["src", "dst"])
        return e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    def test_peels_tail_off_triangle(self, spark):
        """Triangle 1-2-3 plus pendant chain 3-4-5: the 2-core is the
        triangle; the chain peels off within 2 rounds."""
        from unitdb_spark.operators.graph import kcore

        und = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
        got = {
            r.node: r.deg
            for r in kcore(self._sym(spark, und), k=2, rounds=3).collect()
        }
        assert got == {1: 2, 2: 2, 3: 2}

    def test_bounded_rounds_is_superset(self, spark):
        """A long chain needs one round per link: rounds=1 keeps a
        superset of the true 2-core (which is empty)."""
        from unitdb_spark.operators.graph import kcore

        und = [(1, 2), (2, 3), (3, 4), (4, 5)]
        one = kcore(self._sym(spark, und), k=2, rounds=1)
        # after one peel only the endpoints drop
        assert {r.node for r in one.collect()} == {2, 3, 4}
        full = kcore(self._sym(spark, und), k=2, rounds=4)
        assert full.count() == 0

    def test_matches_python_model(self, spark):
        """Fixed-round peeling vs an independent Python model on a
        seeded random graph."""
        import random

        from unitdb_spark.operators.graph import kcore

        rng = random.Random(13)
        und = sorted(
            {
                (a, b)
                for _ in range(60)
                for a, b in [sorted(rng.sample(range(20), 2))]
            }
        )
        und = [(a, b) for a, b in und]
        k, rounds = 3, 4
        # independent model
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        alive = set(adj)
        for _ in range(rounds):
            alive = {
                n for n in alive if len(adj[n] & alive) >= k
            }
        want = {n: len(adj[n] & alive) for n in alive}
        got = {
            r.node: r.deg
            for r in kcore(self._sym(spark, und), k=k, rounds=rounds).collect()
        }
        assert got == want


class TestSkyline:
    def test_frontier_with_ties_and_duplicates(self, spark):
        """min price / max size. Duplicates of a frontier point both
        stay; a same-price smaller-size point is dominated; a
        same-size dearer point is dominated."""
        from unitdb_spark.operators.skyline import skyline2d

        rows = [
            ("a", 100, 5),
            ("a2", 100, 5),   # duplicate frontier point - stays
            ("b", 100, 4),    # same price, smaller size - dominated
            ("c", 200, 5),    # same size, dearer - dominated
            ("d", 200, 7),
            ("e", 300, 7),    # dominated by d
            ("f", 50, 1),     # cheapest overall - frontier
        ]
        df = spark.createDataFrame(rows, "id string, price long, size int")
        got = {r.id for r in skyline2d(df, "price", "size").collect()}
        assert got == {"a", "a2", "d", "f"}

    def test_bucket_width_never_changes_result(self, spark):
        """The bucket width is a plan knob: widths 1, 7, 10**9 give
        identical frontiers on a seeded random set."""
        import random

        from unitdb_spark.operators.skyline import skyline2d

        rng = random.Random(99)
        rows = [
            (i, rng.randrange(1, 500), rng.randrange(1, 40))
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "id long, a long, b int")
        frontiers = [
            {r.id for r in skyline2d(df, "a", "b", bucket_width=w).collect()}
            for w in (1, 7, 10**9)
        ]
        assert frontiers[0] == frontiers[1] == frontiers[2]
        # and it matches the quadratic model
        want = {
            i
            for (i, a, b) in rows
            if not any(
                (a2 <= a and b2 >= b and (a2 < a or b2 > b))
                for (_, a2, b2) in rows
            )
        }
        assert frontiers[0] == want


class TestHits:
    def test_star_bipartite(self, spark):
        """Customers {1,2,3} all buy part 10; customer 1 also buys
        part 11. Part 10 must out-rank part 11; customer 1 must
        out-rank customers 2 and 3."""
        from unitdb_spark.operators.graph import hits_bipartite

        e = spark.createDataFrame(
            [(1, 10), (2, 10), (3, 10), (1, 11)], ["c", "p"]
        )
        rows = hits_bipartite(e, "c", "p", iterations=2).collect()
        auth = {r.node: r.score for r in rows if r.side == "auth"}
        hub = {r.node: r.score for r in rows if r.side == "hub"}
        assert auth[10] > auth[11]
        assert hub[1] > hub[2] == hub[3]

    def test_matches_python_model(self, spark):
        """The integer-div normalized HITS vs an independent Python
        model on a seeded random bipartite graph."""
        import random

        from unitdb_spark.operators.graph import HITS_SCALE, hits_bipartite

        rng = random.Random(21)
        edges = sorted(
            {(rng.randrange(8), 100 + rng.randrange(12)) for _ in range(40)}
        )
        iters, scale = 2, HITS_SCALE
        hubs = sorted({c for c, _ in edges})
        auths = sorted({p for _, p in edges})
        hub = {c: scale for c in hubs}
        auth = {}
        for _ in range(iters):
            raw = {p: sum(hub[c] for c, q in edges if q == p) for p in auths}
            t = sum(raw.values())
            q_ = max(1, t // (scale * len(auths)))
            auth = {p: raw[p] // q_ for p in auths}
            raw = {c: sum(auth[p] for d, p in edges if d == c) for c in hubs}
            t = sum(raw.values())
            q_ = max(1, t // (scale * len(hubs)))
            hub = {c: raw[c] // q_ for c in hubs}
        df = spark.createDataFrame(edges, ["c", "p"])
        rows = hits_bipartite(df, "c", "p", iterations=iters).collect()
        got_auth = {r.node: r.score for r in rows if r.side == "auth"}
        got_hub = {r.node: r.score for r in rows if r.side == "hub"}
        assert got_auth == auth
        assert got_hub == hub


class TestLinkPrediction:
    @staticmethod
    def _sym(spark, und):
        from pyspark.sql import functions as F

        e = spark.createDataFrame(und, ["src", "dst"])
        return e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    def test_candidates_exclude_existing_edges(self, spark):
        """Square 1-2-3-4: diagonals (1,3) and (2,4) share 2 common
        neighbors each; the existing edges never appear."""
        from unitdb_spark.operators.graph import link_prediction

        und = [(1, 2), (2, 3), (3, 4), (4, 1)]
        got = {
            (r.src, r.dst): (r.n_common, r.jaccard_ppm)
            for r in link_prediction(self._sym(spark, und)).collect()
        }
        # deg all 2; jaccard = 2 / (2+2-2) = 1.0
        assert got == {(1, 3): (2, 1_000_000), (2, 4): (2, 1_000_000)}

    def test_matches_python_model(self, spark):
        import random

        from unitdb_spark.operators.graph import link_prediction

        rng = random.Random(5)
        und = sorted(
            {
                (a, b)
                for _ in range(70)
                for a, b in [sorted(rng.sample(range(18), 2))]
            }
        )
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        nodes = sorted(adj)
        for i, a in enumerate(nodes):
            for b in nodes[i + 1:]:
                if b in adj[a]:
                    continue
                cn = len(adj[a] & adj[b])
                if cn >= 2:
                    want[(a, b)] = (
                        cn,
                        cn * 1_000_000 // (len(adj[a]) + len(adj[b]) - cn),
                    )
        got = {
            (r.src, r.dst): (r.n_common, r.jaccard_ppm)
            for r in link_prediction(self._sym(spark, und)).collect()
        }
        assert got == want

    def test_per_src_top_caps_deterministically(self, spark):
        from unitdb_spark.operators.graph import link_prediction

        # star around 0 plus a chord clique: node 0 is adjacent to
        # everything, so all leaf pairs are distance-2 candidates
        und = [(0, i) for i in range(1, 8)] + [(1, 2), (1, 3)]
        full = link_prediction(self._sym(spark, und), min_common=1)
        capped = link_prediction(
            self._sym(spark, und), min_common=1, per_src_top=2
        )
        fr = {(r.src, r.dst): (r.n_common, r.jaccard_ppm)
              for r in full.collect()}
        cr = [(r.src, r.dst, r.n_common, r.jaccard_ppm)
              for r in capped.collect()]
        # capped rows are a subset of the full result with identical values
        for s, d, n, j in cr:
            assert fr[(s, d)] == (n, j)
        # per-src cap respected, and the kept rows are the top by
        # (n_common DESC, jaccard DESC, dst ASC)
        import collections
        by_src = collections.defaultdict(list)
        for (s, d), (n, j) in fr.items():
            by_src[s].append((-n, -j, d))
        for s, rows in by_src.items():
            want = sorted(rows)[:2]
            got = sorted(
                (-n, -j, d) for (ss, d, n, j) in cr if ss == s
            )
            assert got == want, (s, got, want)


class TestMutualTopNeighbors:
    def test_cap_binds_mutually_and_stays_symmetric(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.graph import mutual_top_neighbors

        # hub 0 connects to 1..5; spokes connect only to the hub and
        # one peer. With max_degree=2 the hub keeps its two heaviest
        # neighbors; spokes all keep the hub -> only MUTUAL pairs live
        und = [(0, i, 10 - i) for i in range(1, 6)] + [(1, 2, 1)]
        e = spark.createDataFrame(und, ["src", "dst", "w"])
        sym = e.unionAll(e.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst"), "w"))
        got = {
            (r.src, r.dst)
            for r in mutual_top_neighbors(sym, max_degree=2).collect()
        }
        # hub keeps (0,1) w=9 and (0,2) w=8; 1 keeps {0 (9), 2 (1)};
        # 2 keeps {0 (8), 1 (1)} -> mutual: (0,1), (0,2), (1,2)
        assert got == {(0, 1), (1, 0), (0, 2), (2, 0), (1, 2), (2, 1)}
        # symmetric by construction
        assert all((b, a) in got for a, b in got)

    def test_no_bind_is_identity(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.graph import mutual_top_neighbors

        und = [(1, 2, 3), (2, 3, 1), (3, 4, 2)]
        e = spark.createDataFrame(und, ["src", "dst", "w"])
        sym = e.unionAll(e.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst"), "w"))
        got = {(r.src, r.dst, r.w)
               for r in mutual_top_neighbors(sym, max_degree=32).collect()}
        want = {(r.src, r.dst, r.w) for r in sym.collect()}
        assert got == want


class TestPortableHll:
    def test_registers_match_python_model(self, spark):
        import hashlib

        from unitdb_spark.operators.sketch import (
            hll_distinct,
            hll_registers,
        )

        vals = [f"u{i}" for i in range(500)]
        df = spark.createDataFrame(
            [("k", v) for v in vals], "k string, v string"
        )
        regs = {}
        for v in vals:
            h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
            idx, rem = h >> 54, h & ((1 << 54) - 1)
            rho = 55 if rem == 0 else 55 - rem.bit_length()
            regs[idx] = max(regs.get(idx, 0), rho)
        got = {
            (r.reg, r.rho)
            for r in hll_registers(df, ["k"], "v").collect()
        }
        assert got == set(regs.items())
        (row,) = hll_distinct(df, ["k"], "v").collect()
        z = sum(1 << (55 - r) for r in regs.values()) + (
            64 - len(regs)
        ) * (1 << 55)
        assert row.n_regs_set == len(regs) and row.z_scaled == z
        est = round(0.709 * 64 * 64 * (float(1 << 55) / float(z)), 6)
        assert row.hll_raw_est == est
        # the raw estimator should land near truth for n >> m
        assert 250 < row.hll_raw_est < 1000

    def test_registers_merge_by_max(self, spark):
        from unitdb_spark.operators.sketch import (
            hll_estimate_from_registers,
            hll_registers,
        )

        vals = [f"u{i}" for i in range(300)]
        df = spark.createDataFrame(
            [("k", v) for v in vals], "k string, v string"
        )
        whole = hll_registers(df, ["k"], "v")
        h1 = hll_registers(df.limit(150), ["k"], "v")
        h2 = hll_registers(
            spark.createDataFrame(
                [("k", v) for v in vals[150:]], "k string, v string"
            ),
            ["k"], "v",
        )
        merged = (
            h1.unionByName(h2).groupBy("k", "reg").agg(
                __import__("pyspark.sql.functions", fromlist=["max"])
                .max("rho").alias("rho")
            )
        )
        a = {(r.reg, r.rho) for r in whole.collect()}
        b = {(r.reg, r.rho) for r in merged.collect()}
        assert a == b
        (ew,) = hll_estimate_from_registers(whole, ["k"]).collect()
        (em,) = hll_estimate_from_registers(merged, ["k"]).collect()
        assert ew == em


class TestCliffsDelta:
    def test_matches_pairwise_definition(self, spark):
        import itertools

        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import cliffs_delta

        a = [1.0, 3.0, 5.0, 5.0, 9.0]
        b = [2.0, 2.0, 5.0, 4.0]
        rows = [(v, 0) for v in a] + [(v, 1) for v in b]
        df = spark.createDataFrame(rows, "v double, arm int")
        (r,) = cliffs_delta(df, "v", F.col("arm")).collect()
        gt = sum(1 for x, y in itertools.product(a, b) if x > y)
        lt = sum(1 for x, y in itertools.product(a, b) if x < y)
        want = ((gt - lt) * 1_000_000) // (len(a) * len(b))
        assert r.n_a == 5 and r.n_b == 4
        assert r.delta_ppm == want
        # u_a2 identity: delta = (u_a2 - n_a n_b) / (n_a n_b)
        assert r.delta_ppm == ((r.u_a2 - 20) * 1_000_000) // 20

    def test_magnitude_labels(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import cliffs_delta

        # complete separation -> delta = 1 -> large
        rows = [(float(v), 0) for v in (10, 11, 12)] + [
            (float(v), 1) for v in (1, 2, 3)
        ]
        df = spark.createDataFrame(rows, "v double, arm int")
        (r,) = cliffs_delta(df, "v", F.col("arm")).collect()
        assert r.delta_ppm == 1_000_000 and r.magnitude == "large"
        # identical arms -> 0 -> negligible
        rows2 = [(1.0, 0), (2.0, 0), (1.0, 1), (2.0, 1)]
        (r2,) = cliffs_delta(
            spark.createDataFrame(rows2, "v double, arm int"),
            "v", F.col("arm"),
        ).collect()
        assert r2.delta_ppm == 0 and r2.magnitude == "negligible"


class TestWilcoxon:
    def test_matches_scipy_free_model(self, spark):
        from unitdb_spark.operators.stats_tests import (
            wilcoxon_signed_rank,
        )

        # diffs with ties and both signs; model the doubled-rank sums
        diffs = [5, -3, 3, 8, -8, 8, 1, -1, 2]
        df = spark.createDataFrame([(d,) for d in diffs], "d long")
        (r,) = wilcoxon_signed_rank(df, "d").collect()
        # ranks of |d| ascending: |1|,|1| -> midrank 1.5 (rank2=3);
        # |2| -> 3 (6); |3|,|3| -> 4.5 (9); |5| -> 6 (12);
        # |8|x3 -> 8 (16)
        rank2 = {1: 3, 2: 6, 3: 9, 5: 12, 8: 16}
        wp2 = sum(rank2[abs(d)] for d in diffs if d > 0)
        wm2 = sum(rank2[abs(d)] for d in diffs if d < 0)
        assert r.n == 9
        assert r.w_plus2 == wp2 and r.w_minus2 == wm2
        n = 9
        assert r.w_plus2 + r.w_minus2 == n * (n + 1)

    def test_zero_diffs_drop_and_empty_is_zero(self, spark):
        from unitdb_spark.operators.stats_tests import (
            wilcoxon_signed_rank,
        )

        df = spark.createDataFrame([(0,), (0,)], "d long")
        (r,) = wilcoxon_signed_rank(df, "d").collect()
        assert r.n == 0 and r.w_plus2 == 0 and r.z_r is None


class TestHllOverlap:
    def test_union_is_registerwise_max(self, spark):
        from unitdb_spark.operators.sketch import (
            hll_distinct,
            hll_overlap,
        )

        rows = (
            [("a", f"u{i}") for i in range(200)]
            + [("b", f"u{i}") for i in range(100, 400)]
        )
        df = spark.createDataFrame(rows, "k string, v string")
        (ov,) = hll_overlap(df, "k", "v").collect()
        assert (ov.key_a, ov.key_b) == ("a", "b")
        # est_union equals the direct estimate over the union set
        udf = spark.createDataFrame(
            [("u", f"u{i}") for i in range(400)], "k string, v string"
        )
        (direct,) = hll_distinct(udf, ["k"], "v").collect()
        assert ov.est_union == direct.hll_raw_est
        assert round(ov.est_a + ov.est_b - ov.est_union, 6) == ov.overlap_est


class TestBrierMrr:
    def test_brier_exact(self, spark):
        from unitdb_spark.operators.evaluation import brier_score

        rows = [(0.9, True), (0.2, False), (0.5, True), (0.1, False)]
        df = spark.createDataFrame(rows, "score double, y boolean")
        (r,) = brier_score(df, "score", "y").collect()
        import math
        sq = 0
        for s, y in rows:
            sm = math.floor(s * 1_000_000)
            e = sm - (1_000_000 if y else 0)
            sq += e * e
        assert r.n == 4 and r.n_pos == 2
        assert r.brier_micro2 == sq // 4

    def test_mrr_counts_empty_queries(self, spark):
        from unitdb_spark.operators.evaluation import ranking_mrr

        rows = [
            ("q1", 1, False), ("q1", 2, True), ("q1", 3, True),
            ("q2", 1, True),
            ("q3", 1, False), ("q3", 2, False),
        ]
        df = spark.createDataFrame(rows, "q string, rank int, rel boolean")
        (r,) = ranking_mrr(df, "q", "rank", "rel", k=10).collect()
        assert r.n_queries == 3 and r.n_with_rel == 2
        assert r.sum_rr_micro == 1_000_000 // 2 + 1_000_000
        assert r.mrr_micro == (500_000 + 1_000_000) // 3


class TestAutoEdgeThreshold:
    def test_dense_picks_literal_sparse_falls_back(self, spark):
        from unitdb_spark.operators.graph import (
            weighted_cooccurrence_edges,
        )

        # dense: pairs repeat across groups -> w=2 keeps avg degree
        # >= 3 (items 1..4 all co-occur twice with each other)
        dense = [(g, i) for g in (10, 20) for i in (1, 2, 3, 4)]
        df = spark.createDataFrame(dense, "g long, i long")
        got = weighted_cooccurrence_edges(
            df, "g", "i", min_count="auto"
        ).collect()
        assert got and all(r.w == 2 for r in got)
        # 4 items, 6 undirected w=2 edges: threshold 2 qualifies
        assert len(got) == 12  # symmetric

        # sparse: every pair occurs once -> w=2 would empty the graph,
        # the rule falls back to 1
        sparse = [(g, i) for g, i in [(1, 1), (1, 2), (2, 3), (2, 4),
                                      (3, 5), (3, 6), (4, 1), (4, 3)]]
        df2 = spark.createDataFrame(sparse, "g long, i long")
        got2 = weighted_cooccurrence_edges(
            df2, "g", "i", min_count="auto"
        ).collect()
        assert got2 and all(r.w == 1 for r in got2)
        # literal min_count still honored when passed
        got3 = weighted_cooccurrence_edges(
            df2, "g", "i", min_count=2
        ).collect()
        assert got3 == []


class TestPca:
    def _model(self, vecs, quant=10_000, scale=1_000_000, iters=3):
        """Independent integer-exact replay of the fixed-point PCA."""
        import numpy as np

        def tdiv(a, b):
            # truncating division (Spark div / DuckDB //), elementwise
            return np.trunc(np.asarray(a, dtype=object) / b).astype(object)

        q = np.floor(np.asarray(vecs, dtype=np.float64) * quant).astype(object)
        n, d = q.shape
        s = q.sum(axis=0)
        mu = np.array([int(x) // n if x >= 0 else -((-int(x)) // n) for x in s],
                      dtype=object)
        gram = q.T @ q
        m = np.empty((d, d), dtype=object)
        for i in range(d):
            for j in range(d):
                t = (gram[i, j] - mu[i] * s[j] - mu[j] * s[i]
                     + n * mu[i] * mu[j])
                m[i, j] = t // n if t >= 0 else -((-t) // n)
        v = np.full(d, scale, dtype=object)
        for _ in range(iters):
            w = m @ v
            qq = max(1, max(abs(int(x)) for x in w) // scale)
            v = np.array([int(x) // qq if x >= 0 else -((-int(x)) // qq)
                          for x in w], dtype=object)
        proj = [
            int(sum((int(q[r, i]) - int(mu[i])) * int(v[i]) for i in range(d)))
            for r in range(n)
        ]
        return [int(x) for x in v], proj

    def test_matches_python_model(self, spark):
        import random

        from unitdb_spark.operators.pca import (
            pca_project,
            power_iteration,
            second_moment,
        )

        rng = random.Random(3)
        d = 8
        vecs = [
            [rng.uniform(-0.5, 0.5) + (0.3 if i < 2 else 0.0) for i in range(d)]
            for _ in range(40)
        ]
        rows = [(k, [float(x) for x in v]) for k, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        # float32 storage: the model must quantize the float32-rounded values
        stored = [
            [float(x) for x in r.embedding]
            for r in df.orderBy("vec_id").collect()
        ]
        want_v, want_proj = self._model(stored)
        md, mu, _ = second_moment(df, dim=d)
        v = power_iteration(md, dim=d)
        got_v = {r.i: r.v for r in v.collect()}
        assert [got_v[i] for i in range(d)] == want_v
        got_proj = {
            r.id: r.proj for r in pca_project(df, mu, v).collect()
        }
        assert [got_proj[k] for k in range(len(stored))] == want_proj

    def test_dominant_axis_found(self, spark):
        """Variance concentrated on one axis: the fixed-point
        eigenvector must put its largest |component| there."""
        import random

        from unitdb_spark.operators.pca import power_iteration, second_moment

        rng = random.Random(11)
        rows = [
            (k, [rng.uniform(-0.9, 0.9)] + [rng.uniform(-0.05, 0.05)
                                            for _ in range(5)])
            for k in range(60)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        md, _, _ = second_moment(df, dim=6)
        v = {r.i: abs(r.v) for r in power_iteration(md, dim=6).collect()}
        assert v[0] == max(v.values()) and v[0] > 2 * max(
            v[i] for i in range(1, 6)
        )


class TestTemperatureAllocation:
    def test_sqrt_flattens_and_sums_to_budget(self, spark):
        """9:1 corpus at alpha=1/2 splits 3:1 (isqrt weights), and the
        largest-remainder step makes the allocations sum EXACTLY."""
        from unitdb_spark.operators.mixture import temperature_allocation

        rows = [("big", 900), ("small", 100)]
        df = spark.createDataFrame(rows, "src string, tok long")
        got = {
            r.source: r
            for r in temperature_allocation(df, "src", "tok", 1000).collect()
        }
        assert got["big"].w == 30 and got["small"].w == 10
        assert got["big"].alloc == 750 and got["small"].alloc == 250
        assert sum(r.alloc for r in got.values()) == 1000

    def test_largest_remainder_exact_and_deterministic(self, spark):
        """Budget 10 over three equal sources: 3/3/3 base + one
        remainder unit to the smallest key among equal remainders."""
        from unitdb_spark.operators.mixture import temperature_allocation

        rows = [("a", 49), ("b", 49), ("c", 49)]
        df = spark.createDataFrame(rows, "src string, tok long")
        got = {
            r.source: r.alloc
            for r in temperature_allocation(df, "src", "tok", 10).collect()
        }
        assert sum(got.values()) == 10
        assert got == {"a": 4, "b": 3, "c": 3}

    def test_isqrt_boundary_exact(self, spark):
        """Perfect squares and off-by-one counts get the true integer
        sqrt (the boundary-corrected expression, not raw libm)."""
        from unitdb_spark.operators.mixture import temperature_allocation

        rows = [("p", 10**14), ("q", 10**14 - 1), ("r", 10**14 + 1)]
        df = spark.createDataFrame(rows, "src string, tok long")
        got = {
            r.source: r.w
            for r in temperature_allocation(df, "src", "tok", 100).collect()
        }
        assert got["p"] == 10**7
        assert got["q"] == 10**7 - 1
        assert got["r"] == 10**7


class TestMarkov2:
    def test_second_order_counts(self, spark):
        """Sequence a b a b a on one key: contexts (a,b)->a x2,
        (b,a)->b x1."""
        from unitdb_spark.operators.markov import transition_counts2

        rows = [(1, i, s) for i, s in enumerate("ababa")]
        df = spark.createDataFrame(rows, "k bigint, ts bigint, s string")
        got = {
            (r.src2, r.src1, r.dst): r.n
            for r in transition_counts2(df, "k", "s", "ts", "ts").collect()
        }
        assert got == {("a", "b", "a"): 2, ("b", "a", "b"): 1}

    def test_matrix2_context_ppm(self, spark):
        """Context (a,a): 1x b, 1x c -> 500000 ppm each."""
        from unitdb_spark.operators.markov import transition_matrix2

        rows = [
            (1, 1, "a"), (1, 2, "a"), (1, 3, "b"),
            (2, 1, "a"), (2, 2, "a"), (2, 3, "c"),
        ]
        df = spark.createDataFrame(rows, "k bigint, ts bigint, s string")
        got = {
            (r.src2, r.src1, r.dst): (r.ctx_total, r.p_ppm)
            for r in transition_matrix2(df, "k", "s", "ts", "ts").collect()
        }
        assert got[("a", "a", "b")] == (2, 500_000)
        assert got[("a", "a", "c")] == (2, 500_000)


class TestStationary:
    def test_matches_python_model(self, spark):
        """4 fixed-point iterations vs an independent integer model on
        a small chain (two communicating states + a sink-ish third)."""
        from unitdb_spark.operators.markov import (
            stationary_distribution,
            transition_matrix,
        )

        rows = [(1, i, s) for i, s in enumerate("ababcababcabab")]
        df = spark.createDataFrame(rows, "k bigint, ts bigint, s string")
        m = transition_matrix(df, "k", "s", "ts", "ts")
        mat = {(r.src, r.dst): r.p_ppm for r in m.collect()}
        states = sorted({s for s, _ in mat})
        scale, iters = 1_000_000_000, 4
        pi = {s: scale // len(states) for s in states}
        for _ in range(iters):
            raw = {}
            for (a, b), p in mat.items():
                raw[b] = raw.get(b, 0) + (pi[a] * p) // 1_000_000
            t = sum(raw.values())
            pi = {s: (v * scale) // max(1, t) for s, v in raw.items()}
        got = {
            r.state: r.pi
            for r in stationary_distribution(m, iterations=iters).collect()
        }
        assert got == pi
        # sanity: a/b dominate the chain, c is rare
        assert got["a"] > got["c"] and got["b"] > got["c"]


class TestPagerankWeighted:
    def test_matches_python_model(self, spark):
        """Weighted power iteration vs an independent integer model on
        a seeded weighted graph."""
        import random

        from pyspark.sql import functions as F

        from unitdb_spark.operators.graph import PR_SCALE, pagerank_weighted

        rng = random.Random(17)
        und = sorted(
            {
                (a, b)
                for _ in range(30)
                for a, b in [sorted(rng.sample(range(12), 2))]
            }
        )
        wts = {p: rng.randint(1, 9) for p in und}
        rows = [(a, b, w) for (a, b), w in wts.items()] + [
            (b, a, w) for (a, b), w in wts.items()
        ]
        df = spark.createDataFrame(rows, ["src", "dst", "w"])
        iters, scale = 3, PR_SCALE
        nodes = sorted({n for ab in wts for n in ab})
        n = len(nodes)
        ws = {u: sum(w for (a, b), w in wts.items() if a == u or b == u)
              for u in nodes}
        restart = (20 - 17) * scale // (20 * n)
        pr = {u: scale // n for u in nodes}
        for _ in range(iters):
            inflow = {u: 0 for u in nodes}
            for (a, b), w in wts.items():
                inflow[b] += (pr[a] * w) // ws[a]
                inflow[a] += (pr[b] * w) // ws[b]
            pr = {u: restart + (17 * inflow[u]) // 20 for u in nodes}
        want = {u: round(pr[u] * n / scale, 6) for u in nodes}
        got = {
            r.node: r.pr_r
            for r in pagerank_weighted(df, iterations=iters).collect()
        }
        assert got == want

    def test_heavy_edge_outranks(self, spark):
        """Three nodes: 1-2 weight 50, 2-3 weight 1 — node 1 must
        outrank node 3 (symmetric topology, asymmetric weights)."""
        from unitdb_spark.operators.graph import pagerank_weighted

        rows = [(1, 2, 50), (2, 1, 50), (2, 3, 1), (3, 2, 1)]
        df = spark.createDataFrame(rows, ["src", "dst", "w"])
        got = {r.node: r.pr_r for r in pagerank_weighted(df).collect()}
        assert got[1] > got[3]


class TestMannKendall:
    def test_matches_python_model(self, spark):
        """S, tie-corrected var18 and the alpha=0.05 decision vs an
        independent brute-force model on seeded integer series."""
        import random
        from collections import Counter

        from unitdb_spark.operators.stats_tests import mann_kendall

        rng = random.Random(11)
        rows = []
        series = {}
        for k in ["a", "b", "c", "d"]:
            n = rng.randint(1, 25)
            ys = [rng.randint(0, 5) for _ in range(n)]
            series[k] = ys
            rows += [(k, t, y) for t, y in enumerate(ys)]
        df = spark.createDataFrame(rows, ["k", "t", "y"])
        want = {}
        for k, ys in series.items():
            n = len(ys)
            s = sum(
                (ys[j] > ys[i]) - (ys[j] < ys[i])
                for i in range(n)
                for j in range(i + 1, n)
            )
            tie3 = sum(
                g * (g - 1) * (2 * g + 5) for g in Counter(ys).values()
            )
            var18 = n * (n - 1) * (2 * n + 5) - tie3
            sig = (
                s != 0
                and var18 > 0
                and 180000 * (abs(s) - 1) ** 2 > 38416 * var18
            )
            want[k] = (n, s, var18, (1 if s > 0 else -1) if sig else 0)
        got = {
            r.k: (r.n, r.s, r.var18, r.trend)
            for r in mann_kendall(df, "k").collect()
        }
        assert got == want

    def test_monotone_series_is_significant(self, spark):
        """A strictly increasing 10-point series: S = 45, no ties,
        (45-1)^2*180000 > 38416*var18 -> trend +1; its negation -1."""
        from unitdb_spark.operators.stats_tests import mann_kendall

        rows = [("up", t, t) for t in range(10)] + [
            ("down", t, -t) for t in range(10)
        ]
        df = spark.createDataFrame(rows, ["k", "t", "y"])
        got = {r.k: (r.s, r.trend) for r in mann_kendall(df, "k").collect()}
        assert got == {"up": (45, 1), "down": (-45, -1)}

    def test_single_point_and_all_tied_are_no_trend(self, spark):
        from unitdb_spark.operators.stats_tests import mann_kendall

        rows = [("one", 0, 7)] + [("flat", t, 3) for t in range(8)]
        df = spark.createDataFrame(rows, ["k", "t", "y"])
        got = {r.k: (r.n, r.s, r.var18, r.trend)
               for r in mann_kendall(df, "k").collect()}
        assert got["one"] == (1, 0, 0, 0)
        assert got["flat"][1] == 0 and got["flat"][3] == 0
        assert got["flat"][2] == 0  # full tie correction cancels


class TestLinkPredictionRa:
    def test_matches_python_model(self, spark):
        """RA scores vs an independent adjacency-set model: every
        distance-2 non-edge pair, score = sum floor(1e9/deg(z))."""
        import random

        from unitdb_spark.operators.graph import link_prediction_ra

        rng = random.Random(7)
        und = sorted(
            {
                (a, b)
                for _ in range(60)
                for a, b in [sorted(rng.sample(range(16), 2))]
            }
        )
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        nodes = sorted(adj)
        for i, a in enumerate(nodes):
            for b in nodes[i + 1:]:
                if b in adj[a]:
                    continue
                common = adj[a] & adj[b]
                if len(common) >= 2:
                    want[(a, b)] = (
                        len(common),
                        sum(1_000_000_000 // len(adj[z]) for z in common),
                    )
        got = {
            (r.src, r.dst): (r.n_common, r.ra_nano)
            for r in link_prediction_ra(
                TestLinkPrediction._sym(spark, und)
            ).collect()
        }
        assert got == want

    def test_hub_neighbor_contributes_less(self, spark):
        """Star hub h connects 1..4; 1-2 also share private neighbor
        p. Pair (1,2): RA = 1e9/deg(h) + 1e9/deg(p) — the private
        neighbor term dominates the hub term."""
        from unitdb_spark.operators.graph import link_prediction_ra

        und = [(10, 1), (10, 2), (10, 3), (10, 4), (5, 1), (5, 2)]
        got = {
            (r.src, r.dst): (r.n_common, r.ra_nano)
            for r in link_prediction_ra(
                TestLinkPrediction._sym(spark, und), min_common=2
            ).collect()
        }
        assert got[(1, 2)] == (2, 1_000_000_000 // 4 + 1_000_000_000 // 2)


class TestBigramLogprob:
    def test_matches_python_model(self, spark):
        """NLL vs an independent Counter model: interpolated
        P = 0.8*c_bi/c_ctx + 0.2*c_uni/N, one round-6 log per type,
        decimal-exact per-doc sums."""
        from collections import Counter
        from decimal import Decimal
        from math import log10

        from unitdb_spark.operators.tfidf import bigram_logprob

        docs = [
            (1, "the cat sat on the mat"),
            (2, "the cat ate the cat food"),
            (3, "dogs chase the cat"),
            (4, "single"),
            (5, "  spaced   out   tokens  "),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        toks = {i: t.lower().split() for i, t in docs}
        uni = Counter(w for ws in toks.values() for w in ws)
        total = sum(uni.values())
        bi = Counter(
            (ws[i], ws[i + 1])
            for ws in toks.values()
            for i in range(len(ws) - 1)
        )
        ctx = Counter()
        for (p, _), c in bi.items():
            ctx[p] += c
        lp = {
            pc: Decimal(
                str(
                    round(
                        log10(
                            0.8 * (bi[pc] / ctx[pc[0]])
                            + 0.2 * (uni[pc[1]] / total)
                        ),
                        6,
                    )
                )
            )
            for pc in bi
        }
        want = {}
        for i, ws in toks.items():
            pairs = [(ws[k], ws[k + 1]) for k in range(len(ws) - 1)]
            if not pairs:
                continue  # <2 tokens: absent from output
            s = sum(lp[p] for p in pairs)
            want[i] = (
                len(pairs),
                float(s),
                round(-float(s) / len(pairs), 6),
            )
        got = {
            r.doc_id: (r.n_bigrams, r.logp_sum_r, r.nll_r)
            for r in bigram_logprob(df).collect()
        }
        assert got == want

    def test_word_salad_scores_worse_than_typical(self, spark):
        """Docs built from the same vocabulary: the doc whose
        transitions are corpus-typical beats the shuffled one."""
        from unitdb_spark.operators.tfidf import bigram_logprob

        typical = "the cat sat on the mat"
        rows = [(i, typical) for i in range(6)] + [
            (99, "mat the on cat the sat")
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.doc_id: r.nll_r for r in bigram_logprob(df).collect()}
        assert got[0] < got[99]


class TestKneserNey:
    def test_matches_python_model(self, spark):
        """NLL vs an independent Counter model: P_KN = (c_b−d)/c_ctx
        + (d·n1f/c_ctx)·(n1b/n1a), d = 0.75, one round-6 log per
        type, decimal-exact per-doc sums."""
        from collections import Counter
        from decimal import Decimal
        from math import log10

        from unitdb_spark.operators.tfidf import kneser_ney_logprob

        docs = [
            (1, "the cat sat on the mat"),
            (2, "the cat ate the cat food"),
            (3, "dogs chase the cat"),
            (4, "single"),
            (5, "san francisco loves san francisco"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        toks = {i: t.lower().split() for i, t in docs}
        bi = Counter(
            (ws[i], ws[i + 1])
            for ws in toks.values()
            for i in range(len(ws) - 1)
        )
        ctx, n1f, n1b = Counter(), Counter(), Counter()
        for (p, c), n in bi.items():
            ctx[p] += n
            n1f[p] += 1
            n1b[c] += 1
        n1a = len(bi)
        lp = {
            pc: Decimal(
                str(
                    round(
                        log10(
                            ((bi[pc] - 0.75) / ctx[pc[0]])
                            + ((0.75 * n1f[pc[0]]) / ctx[pc[0]])
                            * (n1b[pc[1]] / n1a)
                        ),
                        6,
                    )
                )
            )
            for pc in bi
        }
        want = {}
        for i, ws in toks.items():
            pairs = [(ws[k], ws[k + 1]) for k in range(len(ws) - 1)]
            if not pairs:
                continue
            s = sum(lp[p] for p in pairs)
            # Spark round() is HALF_UP on the double's shortest repr
            # (python round() is half-even and loses exact .5 ties)
            from decimal import ROUND_HALF_UP

            nll = float(
                Decimal(repr(-float(s) / len(pairs))).quantize(
                    Decimal("0.000001"), ROUND_HALF_UP
                )
            )
            want[i] = (len(pairs), float(s), nll)
        got = {
            r.doc_id: (r.n_bigrams, r.logp_sum_r, r.nll_r)
            for r in kneser_ney_logprob(df).collect()
        }
        assert got == want

    def test_context_diversity_beats_raw_frequency(self, spark):
        """The Kneser-Ney signature: a word frequent ONLY after one
        fixed predecessor ("francisco" after "san") gets a SMALLER
        back-off boost in a novel context than an equally frequent
        word seen after many predecessors."""
        from collections import Counter

        from unitdb_spark.operators.tfidf import kneser_ney_logprob

        rows = [
            (1, "san francisco san francisco san francisco"),
            (2, "a house b house c house"),
            # novel contexts: "new francisco" vs "new house"
            (3, "new francisco"),
            (4, "new house"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.doc_id: r.nll_r for r in kneser_ney_logprob(df).collect()}
        # both novel bigrams share c_b=1 and the same "new" context;
        # they differ only through the continuation weight: house
        # follows 4 distinct predecessors, francisco only 2 ->
        # "new house" likelier
        assert got[4] < got[3]


class TestJackknifeRatio:
    @staticmethod
    def _model(cells):
        from math import floor, sqrt

        out = {}
        per = {}
        for k, y, x in cells:
            if x > 0:
                per.setdefault(k, []).append((y, x))
        for k, units in per.items():
            n = len(units)
            if n < 2:
                continue
            sy = sum(y for y, _ in units)
            sx = sum(x for _, x in units)
            rs = [
                floor((sy - y) / (sx - x) * 1_000_000.0)
                for y, x in units
            ]
            s1 = sum(rs)
            q2 = sum(r * r for r in rs)
            q = n * n * q2 - n * s1 * s1
            inner = q * (n - 1) / (n * n * n) / 1e12
            out[k] = (
                n, sy, sx,
                floor(sy / sx * 1_000_000.0),
                s1,
                round(inner, 6),
                round(sqrt(inner), 6),
            )
        return out

    def test_matches_python_model(self, spark):
        import random

        from unitdb_spark.operators.stats_tests import jackknife_ratio

        rng = random.Random(23)
        cells = [
            (k, rng.randint(100, 99_999), rng.randint(1, 50))
            for k in ["a", "b", "c"]
            for _ in range(rng.randint(2, 14))
        ] + [("solo", 500, 5)]  # n=1: excluded
        df = spark.createDataFrame(cells, ["k", "y", "x"])
        got = {
            r.k: (r.n, r.sy, r.sx, r.r_e6, r.s1_e6, r.var_r, r.se_r)
            for r in jackknife_ratio(df, "k", "y", "x").collect()
        }
        assert got == self._model(cells)
        assert "solo" not in got

    def test_constant_ratio_has_zero_variance(self, spark):
        """Every day at exactly 3.0 cents/event: every LOO replicate
        equals the full-sample ratio, so var and se are exactly 0."""
        from unitdb_spark.operators.stats_tests import jackknife_ratio

        cells = [("k", 30 * m, 10 * m) for m in (1, 2, 3, 4)]
        df = spark.createDataFrame(cells, ["k", "y", "x"])
        (r,) = jackknife_ratio(df, "k", "y", "x").collect()
        assert (r.r_e6, r.var_r, r.se_r) == (3_000_000, 0.0, 0.0)

    def test_zero_denominator_units_excluded(self, spark):
        from unitdb_spark.operators.stats_tests import jackknife_ratio

        cells = [("k", 10, 2), ("k", 20, 4), ("k", 99, 0)]
        df = spark.createDataFrame(cells, ["k", "y", "x"])
        (r,) = jackknife_ratio(df, "k", "y", "x").collect()
        assert (r.n, r.sy, r.sx) == (2, 30, 6)


class TestCramersV:
    def test_perfect_association_is_one(self, spark):
        """Diagonal 2x2 table: chi2 = n, V = sqrt(n/(n*1)) = 1."""
        from unitdb_spark.operators.stats_tests import cramers_v

        rows = [("a", 0)] * 10 + [("b", 1)] * 10
        df = spark.createDataFrame(rows, ["r", "c"])
        (r,) = cramers_v(df, "r", "c").collect()
        assert r.v_r == 1.0 and r.dof == 1

    def test_independence_is_near_zero(self, spark):
        """Product-form table: expected == observed, chi2 = 0, V = 0."""
        from unitdb_spark.operators.stats_tests import cramers_v

        rows = [
            (rr, cc)
            for rr in ["a", "b"]
            for cc in [0, 1, 2]
            for _ in range(4)
        ]
        df = spark.createDataFrame(rows, ["r", "c"])
        (r,) = cramers_v(df, "r", "c").collect()
        assert r.chi2_micro == 0 and r.v_r == 0.0

    def test_single_level_axis_is_null(self, spark):
        from unitdb_spark.operators.stats_tests import cramers_v

        df = spark.createDataFrame([("a", 0), ("a", 1)], ["r", "c"])
        (r,) = cramers_v(df, "r", "c").collect()
        assert r.v_r is None


class TestPoissonBootstrap:
    def test_weight_table_is_poisson1_ppm(self):
        """The injected literal table equals the Poisson(1) CDF
        floored to ppm, computed independently here."""
        from math import exp, floor

        from unitdb_spark.operators.bootstrap import POISSON1_PPM

        acc, term, want = 0.0, exp(-1.0), []
        for k in range(9):
            acc += term
            want.append(floor(acc * 1_000_000))
            term /= k + 1
        assert POISSON1_PPM == want
        assert want[0] == 367879 and want[-1] == 999998

    def test_matches_python_model(self, spark):
        """Replicate means and CI bounds vs an independent Python
        replay of the md5 weights."""
        import hashlib
        from math import floor

        from unitdb_spark.operators.bootstrap import (
            POISSON1_PPM,
            poisson_bootstrap_ci,
        )

        rows = [("g", i, 100 + 7 * (i % 13)) for i in range(60)] + [
            ("h", 1000 + i, 500 * i) for i in range(5)
        ]
        df = spark.createDataFrame(rows, ["g", "id", "c"])
        B = 16

        def u(i, b):
            h = hashlib.md5(f"{i}:{b}:pb".encode()).hexdigest()[:15]
            return int(h, 16) % 1_000_000

        def wgt(uv):
            for k, t in enumerate(POISSON1_PPM):
                if uv < t:
                    return k
            return len(POISSON1_PPM)

        want = {}
        for g in ["g", "h"]:
            units = [(i, c) for gg, i, c in rows if gg == g]
            ms = []
            for b in range(1, B + 1):
                ws = [(wgt(u(i, b)), c) for i, c in units]
                wn = sum(w for w, _ in ws)
                if wn == 0:
                    continue
                s = sum(w * c for w, c in ws)
                ms.append((floor(s * 1_000_000.0 / wn), b))
            ms.sort()
            beff = len(ms)
            lo = ms[beff * 25 // 1000 + 1 - 1][0]
            hi = ms[beff - beff * 25 // 1000 - 1][0]
            n = len(units)
            sy = sum(c for _, c in units)
            want[g] = (n, beff, floor(sy * 1_000_000.0 / n), lo, hi)
        got = {
            r.g: (r.n, r.b_eff, r.mean_e6, r.lo_e6, r.hi_e6)
            for r in poisson_bootstrap_ci(df, "g", "id", "c", b=B).collect()
        }
        assert got == want

    def test_ci_brackets_the_mean_for_stable_data(self, spark):
        from unitdb_spark.operators.bootstrap import poisson_bootstrap_ci

        rows = [("g", i, 1000 + (i % 3)) for i in range(200)]
        df = spark.createDataFrame(rows, ["g", "id", "c"])
        (r,) = poisson_bootstrap_ci(df, "g", "id", "c", b=40).collect()
        assert r.lo_e6 <= r.mean_e6 <= r.hi_e6
        # near-constant data: width well under 0.1% of the mean
        assert r.hi_e6 - r.lo_e6 < r.mean_e6 // 1000


class TestGridDensityClusters:
    @staticmethod
    def _df(spark, pts):
        """pts: list of (x, y) -> embeddings-shaped (vec_id, [x, y])."""
        return spark.createDataFrame(
            [(i, [float(x), float(y)]) for i, (x, y) in enumerate(pts)],
            ["vec_id", "embedding"],
        )

    def test_two_blobs_one_bridge_cell_sparse(self, spark):
        """Two dense blobs 3 cells apart with a single sparse point
        between them: two clusters; the sparse cell is noise."""
        from unitdb_spark.operators.cluster import grid_density_clusters

        blob_a = [(0.01 + 0.001 * i, 0.01) for i in range(6)]
        blob_b = [(0.31 + 0.001 * i, 0.01) for i in range(6)]
        bridge = [(0.16, 0.01)]  # cell (1, 0) alone: sparse
        df = self._df(spark, blob_a + blob_b + bridge)
        rows = grid_density_clusters(
            df, h=0.1, min_pts=5
        ).collect()
        assert len(rows) == 2
        assert sorted((r.n_cells, r.n_points) for r in rows) == [
            (1, 6), (1, 6)
        ]

    def test_diagonal_cells_merge(self, spark):
        """Dense cells at (0,0) and (1,1): 8-neighborhood adjacency
        makes them ONE cluster."""
        from unitdb_spark.operators.cluster import grid_density_clusters

        a = [(0.05, 0.05)] * 5
        b = [(0.15, 0.15)] * 5
        rows = grid_density_clusters(
            self._df(spark, a + b), h=0.1, min_pts=5
        ).collect()
        assert len(rows) == 1
        (r,) = rows
        assert (r.n_cells, r.n_points) == (2, 10)
        assert (r.min_cx, r.max_cx, r.min_cy, r.max_cy) == (0, 1, 0, 1)

    def test_negative_coordinates(self, spark):
        """floor (not truncate) cell math: points just below zero land
        in cell -1 and cluster fine."""
        from unitdb_spark.operators.cluster import grid_density_clusters

        pts = [(-0.01 - 0.001 * i, -0.02) for i in range(7)]
        rows = grid_density_clusters(
            self._df(spark, pts), h=0.1, min_pts=5
        ).collect()
        (r,) = rows
        assert (r.n_cells, r.n_points) == (1, 7)
        assert (r.min_cx, r.min_cy) == (-1, -1)


class TestHoltWinters:
    def test_matches_python_model(self, spark):
        """The integer fold vs an independent replay on seeded
        series, including phase bookkeeping through gaps in t."""
        import random

        from unitdb_spark.operators.timeseries import holt_winters_additive

        rng = random.Random(31)
        rows, series = [], {}
        for k in ["a", "b"]:
            n = rng.randint(9, 30)
            ys = [rng.randint(0, 40) for _ in range(n)]
            series[k] = ys
            t = 0
            for y in ys:
                rows.append((k, t, y))
                t += rng.randint(1, 3)  # gaps: position-based phases
        rows += [("tiny", t, 5) for t in range(4)]  # < m: dropped
        df = spark.createDataFrame(rows, ["k", "t", "y"])

        def tdiv(n, d):
            q = abs(n) // d
            return q if n >= 0 else -q

        want = {}
        SC = 1_000_000
        for k, ys in series.items():
            lvl = tdiv(sum(y * SC for y in ys[:7]), 7)
            tr = 0
            seas = [y * SC - lvl for y in ys[:7]]
            for i in range(7, len(ys)):
                sm = seas[i % 7]
                prev = lvl
                lvl = tdiv(3 * (ys[i] * SC - sm) + 7 * (lvl + tr), 10)
                tr = tdiv(1 * (lvl - prev) + 9 * tr, 10)
                seas[i % 7] = tdiv(2 * (ys[i] * SC - lvl) + 8 * sm, 10)
            n = len(ys)
            want[k] = (n, lvl, tr) + tuple(
                lvl + h * tr + seas[(n - 1 + h) % 7] for h in (1, 2, 3)
            )
        got = {
            r.k: (r.n_obs, r.l_e6, r.b_e6, r.fc1_e6, r.fc2_e6, r.fc3_e6)
            for r in holt_winters_additive(df, "k").collect()
        }
        assert got == want
        assert "tiny" not in got

    def test_periodic_series_forecasts_the_cycle(self, spark):
        """A pure period-7 cycle with zero trend: forecasts reproduce
        the upcoming phase values exactly (level locks to the cycle
        mean, trend stays 0, seasonal deviations are exact)."""
        from unitdb_spark.operators.timeseries import holt_winters_additive

        cycle = [70, 140, 210, 280, 350, 420, 630]  # mean 300
        rows = [("k", t, cycle[t % 7]) for t in range(28)]
        df = spark.createDataFrame(rows, ["k", "t", "y"])
        (r,) = holt_winters_additive(df, "k").collect()
        assert r.b_e6 == 0
        # next three observations would be phases 0, 1, 2
        assert (r.fc1_e6, r.fc2_e6, r.fc3_e6) == (
            70_000_000, 140_000_000, 210_000_000
        )


class TestLogrank:
    def test_matches_python_model(self, spark):
        """O/E/V accumulations vs an independent replay on seeded
        two-arm censored durations."""
        import random
        from math import floor, sqrt

        from pyspark.sql import functions as F

        from unitdb_spark.operators.survival import logrank_test

        rng = random.Random(41)
        rows = [
            (rng.randint(0, 20), rng.random() < 0.7, rng.randint(0, 1))
            for _ in range(300)
        ]
        df = spark.createDataFrame(rows, ["dur", "ev", "arm"])
        times = sorted({t for t, e, a in rows})
        o1 = o2 = e1m = vm = 0
        for t in times:
            d1 = sum(1 for tt, e, a in rows if tt == t and e and a == 0)
            d2 = sum(1 for tt, e, a in rows if tt == t and e and a == 1)
            n1 = sum(1 for tt, _, a in rows if tt >= t and a == 0)
            n2 = sum(1 for tt, _, a in rows if tt >= t and a == 1)
            d, n = d1 + d2, n1 + n2
            if d == 0:
                continue
            o1 += d1
            o2 += d2
            e1m += floor(d * n1 * 1_000_000.0 / n)
            if n > 1:
                vm += floor(
                    d * n1 * n2 * (n - d) * 1_000_000.0 / (n * n * (n - 1))
                )
        (r,) = logrank_test(df, "dur", "ev", F.col("arm")).collect()
        assert (r.o1, r.o2, r.e1_micro, r.v_micro) == (o1, o2, e1m, vm)
        want_z = round((o1 - e1m / 1e6) / sqrt(vm / 1e6), 6)
        assert r.z_r == want_z

    def test_identical_arms_give_zero_z(self, spark):
        """Mirrored arms: at every time n1 = n2 and d1 = d2, so
        E1 = O1 exactly (d·1e6/2 is integral) and z = 0."""
        from pyspark.sql import functions as F

        from unitdb_spark.operators.survival import logrank_test

        half = [(3, True), (5, True), (5, False), (9, True), (12, False)]
        rows = [(t, e, a) for a in (0, 1) for t, e in half]
        df = spark.createDataFrame(rows, ["dur", "ev", "arm"])
        (r,) = logrank_test(df, "dur", "ev", F.col("arm")).collect()
        assert r.o1 == r.o2
        assert r.e1_micro == r.o1 * 1_000_000
        assert r.z_r == 0.0

    def test_early_events_in_one_arm_go_negative(self, spark):
        """Arm 0 converts strictly earlier: O1 > E1 -> z > 0 (more
        events than expected under the null)."""
        from pyspark.sql import functions as F

        from unitdb_spark.operators.survival import logrank_test

        rows = [(1, True, 0)] * 10 + [(20, True, 1)] * 10
        df = spark.createDataFrame(rows, ["dur", "ev", "arm"])
        (r,) = logrank_test(df, "dur", "ev", F.col("arm")).collect()
        assert r.z_r is not None and r.z_r > 2.0


class TestSourceKl:
    def test_matches_python_model(self, spark):
        from collections import Counter
        from decimal import Decimal
        from math import log10

        from unitdb_spark.operators.tfidf import source_unigram_kl

        docs = [
            (1, "alpha beta beta gamma", "s1"),
            (2, "alpha alpha beta", "s1"),
            (3, "delta delta delta epsilon", "s2"),
            (4, "alpha gamma", "s2"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
        st = Counter()
        for _, t, s in docs:
            for w in t.split():
                st[(s, w)] += 1
        ts = Counter()
        ct = Counter()
        for (s, w), c in st.items():
            ts[s] += c
            ct[w] += c
        nt = sum(ts.values())
        want = {}
        for s in ts:
            total = Decimal(0)
            ntypes = 0
            for (ss, w), c in st.items():
                if ss != s:
                    continue
                lg = Decimal(
                    str(round(log10((c / ts[s]) / (ct[w] / nt)), 6))
                )
                total += c * lg
                ntypes += 1
            want[s] = (ts[s], ntypes, round(float(total) / ts[s], 6))
        got = {
            r.source: (r.n_tokens, r.n_types, r.kl_r)
            for r in source_unigram_kl(df).collect()
        }
        assert got == want

    def test_gibbs_nonnegative_and_identical_sources_zero(self, spark):
        """A source that IS the corpus distribution has KL = 0; any
        source's KL is >= 0 (Gibbs), up to the round-6 quantization."""
        from unitdb_spark.operators.tfidf import source_unigram_kl

        same = "a b c d"
        docs = [(i, same, f"s{i % 3}") for i in range(9)]
        df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
        for r in source_unigram_kl(df).collect():
            assert r.kl_r == 0.0
        skew = [(100, "a a a a a a", "sk")] + [
            (i, "a b c d e f g h", "bg") for i in range(8)
        ]
        df2 = spark.createDataFrame(skew, ["doc_id", "text", "source"])
        for r in source_unigram_kl(df2).collect():
            assert r.kl_r >= -1e-06  # round-6 quantization floor


class TestEntropyRate:
    def test_matches_python_model(self, spark):
        """Per-state conditional entropy and the pi-weighted rate vs
        an independent replay on a small two-state chain."""
        from decimal import Decimal
        from math import floor, log2

        from unitdb_spark.operators.markov import (
            entropy_rate,
            stationary_distribution,
            transition_matrix,
        )

        # one user, alternating-ish sequence: a a b a b b a ...
        seq = "aababbaabbabaaabbbab"
        rows = [(1, s, i, i) for i, s in enumerate(seq)]
        df = spark.createDataFrame(rows, ["u", "state", "ts", "tb"])
        m = transition_matrix(df, "u", "state", "ts", "tb")
        pi = stationary_distribution(m, iterations=4)
        got = {
            r.state: (r.pi, r.h_micro, r.entropy_rate_r)
            for r in entropy_rate(m, pi).collect()
        }
        trans = {}
        for a, b in zip(seq, seq[1:]):
            trans[(a, b)] = trans.get((a, b), 0) + 1
        rt = {}
        for (a, _), c in trans.items():
            rt[a] = rt.get(a, 0) + c
        hm = {}
        for a in rt:
            s = sum(
                Decimal(str(round(log2(c / rt[a]), 6))) * c
                for (aa, _), c in trans.items()
                if aa == a
            )
            hm[a] = floor(-float(s) * 1_000_000.0 / rt[a])
        pis = {r.state: r.pi for r in pi.collect()}
        num = sum(pis[a] * hm[a] for a in hm)
        den = sum(pis.values())
        rate = round(num / (den * 1_000_000.0), 6)
        want = {a: (pis[a], hm[a], rate) for a in hm}
        assert got == want

    def test_deterministic_chain_has_zero_entropy(self, spark):
        """A strictly periodic chain (a->b->a->...): every row is
        p=1, H = 0 exactly."""
        from unitdb_spark.operators.markov import (
            entropy_rate,
            stationary_distribution,
            transition_matrix,
        )

        seq = "ababababab"
        rows = [(1, s, i, i) for i, s in enumerate(seq)]
        df = spark.createDataFrame(rows, ["u", "state", "ts", "tb"])
        m = transition_matrix(df, "u", "state", "ts", "tb")
        out = entropy_rate(m, stationary_distribution(m)).collect()
        assert {r.h_micro for r in out} == {0}
        assert {r.entropy_rate_r for r in out} == {0.0}


class TestTopkRecall:
    def test_counts_and_missing_queries(self, spark):
        """Hit counting, ppm floor, and the absent-query contract
        (no approx rows -> recall 0, row kept)."""
        from unitdb_spark.operators.evaluation import topk_recall

        exact = spark.createDataFrame(
            [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (3, 30)],
            ["query_id", "vec_id"],
        )
        approx = spark.createDataFrame(
            [(1, 11), (1, 12), (1, 99), (2, 20)],
            ["query_id", "vec_id"],
        )
        got = {
            r.query_id: (r.n_exact, r.n_approx, r.n_hit, r.recall_ppm)
            for r in topk_recall(exact, approx).collect()
        }
        assert got == {
            1: (3, 3, 2, 666_666),
            2: (2, 1, 1, 500_000),
            3: (1, 0, 0, 0),
        }

    def test_identical_rankings_are_full_recall(self, spark):
        from unitdb_spark.operators.evaluation import topk_recall

        e = spark.createDataFrame(
            [(q, i) for q in range(3) for i in range(5)],
            ["query_id", "vec_id"],
        )
        for r in topk_recall(e, e).collect():
            assert r.recall_ppm == 1_000_000


class TestFellegiSunter:
    def test_matches_python_model_small(self, spark):
        """Weights and best-match selection vs an independent replay
        on a tiny two-field linkage."""
        from decimal import Decimal
        from math import log2

        from pyspark.sql import functions as F

        from unitdb_spark.operators.linkage import fellegi_sunter_link

        lrows = [(1, "b", "ann", "x"), (2, "b", "bob", "x"),
                 (3, "b", "cat", "y")]
        rrows = [(10, "b", "ann", "x"), (20, "b", "bob", "y"),
                 (30, "b", "dog", "y")]
        l = spark.createDataFrame(lrows, ["lid", "blk", "name", "tag"])
        r = spark.createDataFrame(rrows, ["rid", "blk", "name", "tag"])
        got = {
            row.lid: (row.matched_id, row.n_agree, row.score_r)
            for row in fellegi_sunter_link(
                l, r, ["blk"], "lid", "rid",
                [(F.col("name"), F.col("name")),
                 (F.col("tag"), F.col("tag"))],
            ).collect()
        }

        def w(num, nl, nr, m=0.9):
            nlnr = float(nl) * float(nr)
            wa = Decimal(str(round(log2(m * nlnr / max(float(num), 1.0)), 6)))
            wd = Decimal(str(round(
                log2((1 - m) * nlnr / max(nlnr - float(num), 1.0)), 6)))
            return wa, wd

        # field 0 (name): shared values ann(1*1) + bob(1*1) -> num=2
        w0a, w0d = w(2, 3, 3)
        # field 1 (tag): x: 2*1, y: 1*2 -> num=4
        w1a, w1d = w(4, 3, 3)
        want = {}
        for lid, _, lname, ltag in lrows:
            best = None
            for rid, _, rname, rtag in rrows:
                s = (w0a if lname == rname else w0d) + (
                    w1a if ltag == rtag else w1d
                )
                na = int(lname == rname) + int(ltag == rtag)
                key = (-s, rid)
                if best is None or key < best[0]:
                    best = (key, rid, na, float(s))
            want[lid] = (best[1], best[2], best[3])
        assert got == want

    def test_rare_field_agreement_outscores_common(self, spark):
        """Agreement on a near-unique field must earn more bits than
        agreement on a half-common field — the FS property the edit
        distance lacks."""
        from pyspark.sql import functions as F

        from unitdb_spark.operators.linkage import fellegi_sunter_link

        n = 40
        # field A: unique per row; field B: only two values
        l = spark.createDataFrame(
            [(i, "b", f"u{i}", i % 2) for i in range(n)],
            ["lid", "blk", "uniq", "coarse"],
        )
        r = spark.createDataFrame(
            [(i + 100, "b", f"u{i}", (i + 1) % 2) for i in range(n)],
            ["rid", "blk", "uniq", "coarse"],
        )
        out = {
            row.lid: (row.matched_id, row.score_r)
            for row in fellegi_sunter_link(
                l, r, ["blk"], "lid", "rid",
                [(F.col("uniq"), F.col("uniq")),
                 (F.col("coarse"), F.col("coarse"))],
            ).collect()
        }
        # every left matches its uniq twin even though coarse DISAGREES
        # there and agrees on half the block
        for i in range(n):
            assert out[i][0] == i + 100


class TestDetectPeaks:
    @staticmethod
    def _events_df(spark, series, bucket_s=3600):
        """series: {key: {hour_index: count}} -> one event row per
        count unit at that hour."""
        import datetime

        rows = []
        for k, hs in series.items():
            for h, c in hs.items():
                t = datetime.datetime(
                    2024, 1, 1, tzinfo=datetime.timezone.utc
                ) + datetime.timedelta(seconds=h * bucket_s)
                rows += [(k, t)] * c
        return spark.createDataFrame(rows, ["k", "ts"])

    def test_spike_over_quiet_baseline_detected(self, spark):
        from unitdb_spark.operators.timeseries import detect_peaks

        series = {"a": {h: 1 for h in range(30)}}
        series["a"][15] = 20  # spike
        df = self._events_df(spark, series)
        ys = [r.y for r in detect_peaks(df, "k", "ts").collect()]
        assert ys == [20]

    def test_missing_hours_are_zeros_and_plateau_excluded(self, spark):
        from unitdb_spark.operators.timeseries import detect_peaks

        # key b: events only at hours 0, 10, 20 — hour 10 is a peak
        # BECAUSE the spine fills 1..9 and 11..19 with zeros
        series = {"b": {0: 3, 10: 5, 20: 3}}
        out = detect_peaks(self._events_df(spark, series), "k", "ts")
        rows = out.collect()
        assert [r.y for r in rows] == [5]
        # plateau: two equal adjacent maxima -> strictness drops both
        series2 = {"c": {h: 1 for h in range(20)}}
        series2["c"][8] = 9
        series2["c"][9] = 9
        out2 = detect_peaks(self._events_df(spark, series2), "k", "ts")
        assert out2.count() == 0

    def test_edge_buckets_never_peak(self, spark):
        from unitdb_spark.operators.timeseries import detect_peaks

        series = {"d": {0: 50, 1: 1, 2: 1, 3: 1, 4: 60}}
        out = detect_peaks(self._events_df(spark, series), "k", "ts")
        assert out.count() == 0  # both maxima sit on spine edges


class TestBinseg:
    def test_two_shifts_found_and_segments_recurse(self, spark):
        """A staircase 10.. | 50.. | 90..: the root split is
        significant; the L and R segments are evaluated (R contains
        the second shift and fires; L is flat and does not)."""
        from unitdb_spark.operators.stats_tests import binseg_changepoints

        # monotone two-step staircase (an up-then-back-down series
        # deliberately does NOT fire at the root: Pettitt tests ONE
        # shift and the return-to-baseline washes the ranks out)
        ys = [10] * 30 + [50] * 30 + [90] * 30
        # tiny deterministic jitter so ranks aren't fully tied
        ys = [y + (i % 3) for i, y in enumerate(ys)]
        df = spark.createDataFrame(
            [(t, y) for t, y in enumerate(ys)], ["t", "y"]
        )
        rows = {r.seg: r for r in binseg_changepoints(df).collect()}
        assert set(rows) == {"root", "L", "R"}
        root = rows["root"]
        assert root.significant and 25 <= root.split_t <= 34
        # the right segment contains the 50->90 step and must fire
        assert rows["R"].significant
        assert 55 <= rows["R"].split_t <= 64
        assert not rows["L"].significant

    def test_flat_series_is_one_insignificant_row(self, spark):
        from unitdb_spark.operators.stats_tests import binseg_changepoints

        df = spark.createDataFrame(
            [(t, 7 + (t % 2)) for t in range(30)], ["t", "y"]
        )
        rows = binseg_changepoints(df).collect()
        assert len(rows) == 1
        assert rows[0].seg == "root" and not rows[0].significant

    def test_min_seg_blocks_edge_splits(self, spark):
        """A shift 2 points from the end: K may be large but the
        min_seg guard refuses the degenerate split."""
        from unitdb_spark.operators.stats_tests import binseg_changepoints

        ys = [10 + (i % 2) for i in range(28)] + [99, 98]
        df = spark.createDataFrame(
            [(t, y) for t, y in enumerate(ys)], ["t", "y"]
        )
        rows = {r.seg: r for r in binseg_changepoints(df, min_seg=5).collect()}
        assert set(rows) == {"root"}
        assert not rows["root"].significant


class TestZipfSlope:
    def test_matches_python_model(self, spark):
        from decimal import Decimal
        from math import log10

        from unitdb_spark.operators.tfidf import zipf_slope

        docs = [
            (1, "a a a a b b b c c d"),
            (2, "a a b c d e"),
            (3, "a b b c e f"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        from collections import Counter

        cnt = Counter(w for _, t in docs for w in t.split())
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
        pts = [
            (
                Decimal(str(round(log10(i + 1), 6))),
                Decimal(str(round(log10(n), 6))),
            )
            for i, (_, n) in enumerate(ranked)
        ]
        k = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        kd, sxd, syd = float(k), float(sx), float(sy)
        sxyd, sxxd = float(sxy), float(sxx)
        slope = (kd * sxyd - sxd * syd) / (kd * sxxd - sxd * sxd)
        (r,) = zipf_slope(df).collect()
        assert r.k_used == k
        assert r.slope_r == round(slope, 6)
        assert r.intercept_r == round((syd - slope * sxd) / kd, 6)

    def test_pure_zipf_corpus_slope_near_minus_one(self, spark):
        """Frequencies proportional to 1/rank: slope must sit near
        −1 (quantization keeps it within a few thousandths)."""
        from unitdb_spark.operators.tfidf import zipf_slope

        words = [f"w{i:03d}" for i in range(60)]
        text = " ".join(
            " ".join([w] * (600 // (i + 1))) for i, w in enumerate(words)
        )
        df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        (r,) = zipf_slope(df, topk=50).collect()
        assert -1.05 < r.slope_r < -0.95


class TestLjungBox:
    @staticmethod
    def _model(rows, key, lags=12):
        from collections import Counter
        from decimal import Decimal

        from unitdb_spark.operators.stats_tests import LB_CRIT_MICRO

        cnt = Counter()
        for k, t in rows:
            if k == key:
                cnt[int(t.timestamp()) // 3600] += 1
        xs = [cnt.get(h, 0) for h in range(min(cnt), max(cnt) + 1)]
        n, s = len(xs), sum(xs)
        c = [n * x - s for x in xs]
        den = sum(v * v for v in c)
        if den == 0:
            return None
        total, dof = Decimal(0), 0
        for k in range(1, min(lags, n - 1) + 1):
            num = sum(c[t] * c[t + k] for t in range(n - k))
            rho = num / den
            total += Decimal(str(round(rho * rho / (n - k), 6)))
            dof += 1
        qm = int(n * (n + 2) * total * 1_000_000)
        return key, n, dof, qm, qm > LB_CRIT_MICRO[dof - 1]

    def test_matches_python_model(self, spark):
        import datetime as dt
        import random

        from unitdb_spark.operators.stats_tests import ljung_box

        random.seed(7)
        base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        rows = []
        for h in range(200):
            # A: strong 24h cycle; B: sparse Bernoulli noise
            for i in range(5 + (3 if h % 24 < 12 else 0)):
                rows.append(("A", base + dt.timedelta(hours=h, minutes=i)))
            if random.random() < 0.3:
                rows.append(("B", base + dt.timedelta(hours=h, minutes=1)))
        df = spark.createDataFrame(
            [(k, t.replace(tzinfo=None)) for k, t in rows],
            "event_type string, ts timestamp",
        )
        got = {r.event_type: tuple(r) for r in ljung_box(df, "event_type").collect()}
        assert got["A"] == self._model(rows, "A")
        assert got["B"] == self._model(rows, "B")
        # the cycle is detected; the noise is not
        assert got["A"][4] is True
        assert got["B"][4] is False

    def test_constant_series_excluded(self, spark):
        import datetime as dt

        from unitdb_spark.operators.stats_tests import ljung_box

        base = dt.datetime(2024, 1, 1)
        rows = [("flat", base + dt.timedelta(hours=h)) for h in range(50)]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        assert ljung_box(df, "event_type").count() == 0  # rho undefined

    def test_short_series_caps_dof(self, spark):
        import datetime as dt

        from unitdb_spark.operators.stats_tests import ljung_box

        base = dt.datetime(2024, 1, 1)
        rows = [
            ("s", base + dt.timedelta(hours=h, minutes=i))
            for h, reps in enumerate([3, 1, 4, 1, 5])
            for i in range(reps)
        ]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        (r,) = ljung_box(df, "event_type").collect()
        assert r.n == 5 and r.dof == 4  # lags capped at n-1

    def test_lags_beyond_table_raise(self, spark):
        import pytest

        from unitdb_spark.operators.stats_tests import ljung_box

        df = spark.range(1).select(
            F.lit("k").alias("event_type"),
            F.current_timestamp().alias("ts"),
        )
        with pytest.raises(ValueError, match="critical-value table"):
            ljung_box(df, "event_type", lags=13)


class TestEwmaControl:
    def test_matches_python_model(self, spark):
        import datetime as dt
        import random

        from unitdb_spark.operators.timeseries import ewma_control

        random.seed(11)
        base = dt.datetime(2024, 3, 1)
        rows = []
        for h in range(240):
            # stable regime, then a sustained +3 drift after hour 180
            lam = 4 + (3 if h >= 180 else 0)
            for i in range(lam + random.randint(-1, 1)):
                rows.append(("d", base + dt.timedelta(hours=h, minutes=i)))
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        got = sorted(tuple(r) for r in ewma_control(df, "event_type").collect())

        from collections import Counter

        cnt = Counter()
        for _, t in rows:
            cnt[int(t.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600] += 1
        mn, mx = min(cnt), max(cnt)
        ys = [cnt.get(h, 0) for h in range(mn, mx + 1)]
        n, s, ss = len(ys), sum(ys), sum(y * y for y in ys)
        rhs = 9 * (n * ss - s * s) * 10**12
        z, want = (s * 10**6) // n, []
        for i in range(1, n):
            z = (ys[i] * 10**6 + 7 * z) // 8
            dlt = z * n - s * 10**6
            if dlt * dlt * 15 > rhs:
                want.append(
                    ("d", (mn + i) * 3600, ys[i], z, 1 if dlt > 0 else -1)
                )
        assert got == sorted(want)
        # the drift is caught, and caught on the high side
        assert any(t >= (mn + 180) * 3600 and side == 1 for _, t, _, _, side in got)

    def test_constant_series_never_flags(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import ewma_control

        base = dt.datetime(2024, 3, 1)
        rows = [
            ("flat", base + dt.timedelta(hours=h, minutes=i))
            for h in range(60)
            for i in range(3)
        ]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        assert ewma_control(df, "event_type").count() == 0

    def test_bad_lambda_raises(self, spark):
        import pytest

        from unitdb_spark.operators.timeseries import ewma_control

        df = spark.range(1).select(
            F.lit("k").alias("event_type"),
            F.current_timestamp().alias("ts"),
        )
        with pytest.raises(ValueError, match="rational in"):
            ewma_control(df, "event_type", lam=(8, 8))


class TestHeapsLaw:
    def test_matches_python_model(self, spark):
        from math import isqrt

        from unitdb_spark.functions.exactlog import ulog10_micro_py
        from unitdb_spark.operators.tfidf import heaps_law

        # vocabulary grows ~sqrt(n): doc i introduces words up to
        # isqrt(40*(i+1)) — a Heaps-ish corpus with beta well inside
        # (0, 1)
        docs = []
        for i in range(120):
            hi = isqrt(40 * (i + 1))
            words = [f"w{j}" for j in range(hi)] + ["the", "a"] * 5
            docs.append((i + 1, " ".join(words)))
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        (r,) = heaps_law(df, checkpoints=8).collect()

        C, mn, mx = 8, 1, 120
        ths = [mn + ((mx - mn) * c) // C for c in range(1, C + 1)]
        first, toks = {}, {}
        for did, text in docs:
            ws = text.split()
            toks[did] = len(ws)
            for w in ws:
                first.setdefault(w, did)
        pts = []
        for th in ths:
            n = sum(t for d, t in toks.items() if d <= th)
            v = sum(1 for f in first.values() if f <= th)
            if n > 0 and v > 0:
                # the engine-proof integer log points (exactlog.py) —
                # Python ints are exact, so this twins the SQL program
                pts.append((ulog10_micro_py(n), ulog10_micro_py(v)))
        k = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        num = k * sxy - sx * sy
        den = k * sxx - sx * sx
        assert r.c_used == k
        # Python // floors natively — matches the SQL nonneg-mod
        # floor identity bit-for-bit
        assert r.beta_ppm == (num * 1000000) // den
        assert r.logk_ppm == (sy * den - num * sx) // (k * den)
        assert 300000 < r.beta_ppm < 800000  # Heaps regime

    def test_ulog10_micro_tracks_true_log(self, spark):
        """The fixed-point program stays within 1 micro of the true
        floor(1e6*log10 x) across magnitudes (accuracy; determinism
        is the cross-engine property tested via the oracle gate)."""
        from math import floor, log10

        from unitdb_spark.functions.exactlog import ulog10_micro_py

        for x in [1, 2, 9, 10, 99, 101, 12345, 10**6, 10**6 + 1,
                  987654321, 10**16, 10**17 + 3, 10**18 - 1]:
            u = ulog10_micro_py(x)
            assert abs(u - floor(1e6 * log10(x))) <= 1, x

    def test_single_doc_yields_null_slope(self, spark):
        from unitdb_spark.operators.tfidf import heaps_law

        df = spark.createDataFrame([(7, "a b c a")], ["doc_id", "text"])
        (r,) = heaps_law(df).collect()
        assert r.c_used >= 1 and r.beta_ppm is None and r.logk_ppm is None

    def test_too_few_checkpoints_raise(self, spark):
        import pytest

        from unitdb_spark.operators.tfidf import heaps_law

        df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="checkpoints"):
            heaps_law(df, checkpoints=1)


class TestPermutationTest:
    def test_matches_python_model(self, spark):
        import hashlib

        from unitdb_spark.operators.stats_tests import permutation_test

        # 30 units, arm 1 shifted upward
        data = [
            (f"u{i}", 100 + (i % 7) * 10 + (40 if i % 2 else 0), i % 2)
            for i in range(30)
        ]
        df = spark.createDataFrame(data, "uid string, v long, arm int")
        (r,) = permutation_test(df, "v", "arm", "uid", n_perm=99).collect()

        def h60(sx):
            return int(hashlib.md5(sx.encode()).hexdigest()[:15], 16)

        n_a = sum(1 for _, _, a in data if a == 0)
        n_b = len(data) - n_a
        s_a = sum(v for _, v, a in data if a == 0)
        s_b = sum(v for _, v, a in data if a == 1)
        obs = abs(s_a * n_b - s_b * n_a)
        used = exceed = 0
        for rr in range(1, 100):
            s1 = n1 = s2 = n2 = 0
            for u, v, _ in data:
                if h60(f"{rr}:{u}:perm") % 2 == 0:
                    s1 += v; n1 += 1
                else:
                    s2 += v; n2 += 1
            if n1 and n2:
                used += 1
                if abs(s1 * n2 - s2 * n1) * (n_a * n_b) >= obs * (n1 * n2):
                    exceed += 1
        q = s_a * n_b - s_b * n_a
        diff = (1 if q >= 0 else -1) * (abs(q) * 1000 // (n_a * n_b))
        want = (n_a, n_b, diff, used, exceed,
                (1 + exceed) * 1_000_000 // (used + 1))
        assert tuple(r) == want
        # a real shift should look extreme against the null
        assert r.p_micro < 100_000

    def test_null_effect_is_not_significant(self, spark):
        from unitdb_spark.operators.stats_tests import permutation_test

        # identical distribution in both arms
        data = [(f"u{i}", 100 + (i % 10), (i // 10) % 2) for i in range(40)]
        df = spark.createDataFrame(data, "uid string, v long, arm int")
        (r,) = permutation_test(df, "v", "arm", "uid", n_perm=99).collect()
        assert r.p_micro > 50_000

    def test_salt_changes_reference_not_observed(self, spark):
        from unitdb_spark.operators.stats_tests import permutation_test

        data = [(f"u{i}", i * 3 % 17, i % 2) for i in range(24)]
        df = spark.createDataFrame(data, "uid string, v long, arm int")
        (a,) = permutation_test(df, "v", "arm", "uid", n_perm=49).collect()
        (b,) = permutation_test(
            df, "v", "arm", "uid", n_perm=49, salt="other"
        ).collect()
        assert (a.n_a, a.n_b, a.diff_obs_milli) == (b.n_a, b.n_b, b.diff_obs_milli)
        (a2,) = permutation_test(df, "v", "arm", "uid", n_perm=49).collect()
        assert tuple(a2) == tuple(a)  # fully deterministic


class TestSprtDecision:
    @staticmethod
    def _mk(spark, per_day):
        """per_day: list of (n, k) tuples, one per consecutive day."""
        import datetime as dt

        base = dt.datetime(2024, 5, 1)
        rows = []
        for d, (n, k) in enumerate(per_day):
            for i in range(n):
                rows.append(
                    ("s", base + dt.timedelta(days=d, minutes=i), i < k)
                )
        return spark.createDataFrame(
            rows, "event_type string, ts timestamp, hit boolean"
        )

    def test_h0_crossing_day_exact(self, spark):
        from unitdb_spark.operators.stats_tests import sprt_decision

        # zero successes: llr = -32088*N crosses lb = -2944439 at
        # N = 92 -> with 10 trials/day that's day index 9 (N = 100)
        df = self._mk(spark, [(10, 0)] * 12)
        (r,) = sprt_decision(df, "event_type", "ts", F.col("hit")).collect()
        assert r.decision == "h0"
        import datetime as dt

        day0 = dt.date(2024, 5, 1).toordinal() - dt.date(1970, 1, 1).toordinal()
        assert r.cross_day == day0 + 9
        assert r.llr_end_micro == -32088 * 120

    def test_h1_crossing_and_llr_arithmetic(self, spark):
        from unitdb_spark.operators.stats_tests import sprt_decision

        # heavy successes: llr(day d) = K*470004 + (N-K)*(-32088)
        df = self._mk(spark, [(10, 5)] * 3)
        (r,) = sprt_decision(df, "event_type", "ts", F.col("hit")).collect()
        assert r.decision == "h1"
        assert r.llr_end_micro == 15 * 470004 + 15 * -32088
        # first crossing: day 0 gives 5*470004 - 5*32088 = 2189580 < la;
        # day 1 doubles it past 2944439
        import datetime as dt

        day0 = dt.date(2024, 5, 1).toordinal() - dt.date(1970, 1, 1).toordinal()
        assert r.cross_day == day0 + 1

    def test_continue_between_boundaries(self, spark):
        from unitdb_spark.operators.stats_tests import sprt_decision

        # ~6.5% sits between p0 = 5% and p1 = 8%: evidence accrues
        # too slowly to cross either bound in 3 small days
        df = self._mk(spark, [(31, 2)] * 3)
        (r,) = sprt_decision(df, "event_type", "ts", F.col("hit")).collect()
        assert r.decision == "continue" and r.cross_day is None

    def test_bad_rates_raise(self, spark):
        import pytest

        from unitdb_spark.operators.stats_tests import sprt_decision

        df = spark.range(1).select(
            F.lit("k").alias("event_type"),
            F.current_timestamp().alias("ts"),
            F.lit(True).alias("hit"),
        )
        with pytest.raises(ValueError, match="p0"):
            sprt_decision(df, "event_type", "ts", F.col("hit"), p0=0.1, p1=0.1)


class TestMarkovAttribution:
    def test_matches_python_model_on_crafted_journeys(self, spark):
        import datetime as dt

        from unitdb_spark.operators.markov import markov_attribution

        # journeys: A->B->buy, A->buy, B->(no buy), C->C->buy
        base = dt.datetime(2024, 6, 1)
        rows, eid = [], 0

        def add(u, seq, buys):
            nonlocal eid
            for i, s in enumerate(seq):
                rows.append((u, base + dt.timedelta(minutes=i), eid, s))
                eid += 1
            if buys:
                rows.append(
                    (u, base + dt.timedelta(minutes=len(seq)), eid, "purchase")
                )
                eid += 1

        add(1, ["A", "B"], True)
        add(2, ["A"], True)
        add(3, ["B"], False)
        add(4, ["C", "C"], True)
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, event_type string"
        )
        got = {
            r.channel: tuple(r)
            for r in markov_attribution(
                df, "user_id", "ts", "event_id", "event_type",
                F.col("event_type") == "purchase",
            ).collect()
        }

        # independent python fixpoint
        edges = {}
        journeys = [
            (["start", "A", "B"], "conv"),
            (["start", "A"], "conv"),
            (["start", "B"], "null"),
            (["start", "C", "C"], "conv"),
        ]
        for seq, term in journeys:
            path = seq + [term]
            for a, b in zip(path, path[1:]):
                edges[(a, b)] = edges.get((a, b), 0) + 1
        tot = {}
        for (a, _), c in edges.items():
            tot[a] = tot.get(a, 0) + c

        def solve(removed):
            v = {a: 0 for a in tot}
            for _ in range(40):
                nv = {}
                for a in tot:
                    acc = 0
                    for (ea, eb), c in edges.items():
                        if ea != a:
                            continue
                        val = (
                            1_000_000 if eb == "conv"
                            else 0 if eb in ("null", removed)
                            else v.get(eb, 0)
                        )
                        acc += c * val
                    nv[a] = acc // tot[a]
                v = nv
            return v["start"]

        pb = solve(None)
        effects = {c: max(0, pb - solve(c)) for c in ("A", "B", "C")}
        se = sum(effects.values())
        for c in ("A", "B", "C"):
            want = (c, pb, pb - effects[c], effects[c],
                    effects[c] * 1_000_000 // se)
            assert got[c] == want
        # removing C only kills user 4's journey; A carries two
        assert effects["A"] > effects["C"] > 0

    def test_no_conversions_yields_zero_base(self, spark):
        import datetime as dt

        from unitdb_spark.operators.markov import markov_attribution

        base = dt.datetime(2024, 6, 1)
        rows = [
            (u, base + dt.timedelta(minutes=i), u * 10 + i, "A")
            for u in range(3)
            for i in range(2)
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, event_type string"
        )
        out = markov_attribution(
            df, "user_id", "ts", "event_id", "event_type",
            F.col("event_type") == "purchase",
        ).collect()
        assert [
            (r.p_base_ppm, r.removal_effect_ppm, r.share_ppm) for r in out
        ] == [(0, 0, None)]


class TestKCenterSelect:
    def test_matches_python_model(self, spark):
        import numpy as np

        from unitdb_spark.operators.similarity import kcenter_select

        rng = np.random.RandomState(3)
        vecs = rng.randn(60, 8).astype(float)
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(60)],
            "vec_id long, embedding array<double>",
        )
        got = [tuple(r) for r in kcenter_select(df, k=5).collect()]

        def cos(a, b):
            # same shape as the engines' fold: dot / (na*nb)
            return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

        chosen = [0]
        want = [(1, 0, None)]
        best = {i: -2.0 for i in range(60)}
        for j in range(2, 6):
            c = vecs[chosen[-1]]
            for i in range(60):
                if i in chosen:
                    continue
                best[i] = max(best[i], cos(vecs[i], c))
            pick = min(
                (b, i) for i, b in best.items() if i not in chosen
            )
            chosen.append(pick[1])
            want.append((j, pick[1], round(pick[0], 6)))
        assert [(r[0], r[1]) for r in got] == [(w[0], w[1]) for w in want]
        for g, w in zip(got, want):
            if w[2] is not None:
                assert abs(g[2] - w[2]) < 2e-6  # numpy vs fold order

    def test_selection_is_diverse_and_monotone(self, spark):
        from unitdb_spark.operators.similarity import kcenter_select

        vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        rows = kcenter_select(vecs, k=6).collect()
        assert [r.sel_rank for r in rows] == [1, 2, 3, 4, 5, 6]
        sims = [r.far_sim_r for r in rows if r.far_sim_r is not None]
        # each later pick is no farther than the previous (coverage
        # shrinks): far_sim is non-decreasing
        assert sims == sorted(sims)
        assert len(set(r.id for r in rows)) == 6

    def test_k1_is_just_the_seed(self, spark):
        from unitdb_spark.operators.similarity import kcenter_select

        df = spark.createDataFrame(
            [(5, [1.0, 0.0]), (9, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        rows = kcenter_select(df, k=1).collect()
        assert [tuple(r) for r in rows] == [(1, 5, None)]


class TestFanoFactor:
    def test_matches_python_model(self, spark):
        import datetime as dt
        import math
        import random

        from unitdb_spark.operators.timeseries import fano_factor

        random.seed(5)
        base = dt.datetime(2024, 7, 1)
        rows = []
        for h in range(120):
            # bursty: occasional large spikes
            n = 20 if random.random() < 0.1 else 1
            for i in range(n):
                rows.append(("bursty", base + dt.timedelta(hours=h, minutes=i)))
            # clocked: constant-ish
            for i in range(3 + (h % 2)):
                rows.append(("clocked", base + dt.timedelta(hours=h, minutes=i)))
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        got = {r.event_type: r for r in fano_factor(df, "event_type").collect()}

        from collections import Counter

        for key in ("bursty", "clocked"):
            cnt = Counter()
            for k, t in rows:
                if k == key:
                    cnt[int(t.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600] += 1
            ys = [cnt.get(h, 0) for h in range(min(cnt), max(cnt) + 1)]
            n, s = len(ys), sum(ys)
            ss = sum(y * y for y in ys)
            fano = (n * ss - s * s) / (n * s)
            z = (fano - 1.0) * math.sqrt((n - 1) / 2.0)
            assert got[key].n == n
            assert got[key].fano_r == round(fano, 6)
            assert got[key].z_r == round(z, 6)
        assert got["bursty"].overdispersed is True
        assert got["clocked"].overdispersed is False
        assert got["clocked"].fano_r < 1.0 < got["bursty"].fano_r

    def test_all_zero_key_impossible_but_s0_excluded(self, spark):
        from unitdb_spark.operators.timeseries import fano_from_cells

        cells = spark.createDataFrame(
            [("z", 0, 0), ("z", 3, 0)], "k string, h long, y long"
        )
        assert fano_from_cells(cells, "k", "h", "y").count() == 0


class TestConformalBacktest:
    def test_matches_python_model(self, spark):
        import datetime as dt
        import math
        import random

        from unitdb_spark.operators.timeseries import conformal_backtest

        random.seed(9)
        base = dt.datetime(2024, 8, 1)
        rows = []
        for day in range(14):
            for h in range(24):
                v = 100 + 10 * math.sin(h) + random.randint(-5, 5)
                rows.append(
                    ("m", base + dt.timedelta(days=day, hours=h), round(v, 2))
                )
        df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
        (r,) = conformal_backtest(df, "event_type").collect()

        # model: mu per (day,hour) = floor(cents*10000/cnt); residual
        # vs same hour previous day; q = k-th smallest |r|
        from decimal import Decimal

        cell = {}
        for _, t, v in rows:
            key = (t.date(), t.hour)
            cell.setdefault(key, []).append(Decimal(str(v)))
        mu = {
            k: math.floor(int(sum(vs) * 100) * 10000 / len(vs))
            for k, vs in cell.items()
        }
        resid = []
        for (d, h), m in mu.items():
            prev = (d - dt.timedelta(days=1), h)
            if prev in mu:
                resid.append(abs(m - mu[prev]))
        n = len(resid)
        k = (9 * (n + 1) + 9) // 10
        q = sorted(resid)[k - 1] if k <= n else None
        nin = sum(1 for a in resid if a <= q)
        assert (r.n_scored, r.k_rank, r.q_mu) == (n, k, q)
        assert r.cov_ppm == nin * 1_000_000 // n
        assert r.cov_ppm >= 900_000  # the conformal guarantee, in sample

    def test_too_few_points_yield_null_radius(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import conformal_backtest

        base = dt.datetime(2024, 8, 1)
        # two days, same hour: exactly 1 residual -> k = ceil(0.9*2)=2 > 1
        rows = [("m", base, 5.0), ("m", base + dt.timedelta(days=1), 7.0)]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
        (r,) = conformal_backtest(df, "event_type").collect()
        assert r.n_scored == 1 and r.k_rank == 2
        assert r.q_mu is None and r.cov_ppm is None

    def test_bad_alpha_raises(self, spark):
        import pytest

        from unitdb_spark.operators.timeseries import conformal_backtest

        df = spark.range(1).select(
            F.lit("k").alias("event_type"),
            F.current_timestamp().alias("ts"),
            F.lit(1.0).alias("value"),
        )
        with pytest.raises(ValueError, match="rational"):
            conformal_backtest(df, alpha=(10, 10))


class TestHoltReconcile:
    def test_coherence_and_model(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import (
            holt_linear,
            holt_reconcile,
        )

        base = dt.datetime(2024, 9, 1)
        rows = []
        for day in range(20):
            for i in range(10 + day):          # A trends up
                rows.append(("A", base + dt.timedelta(days=day, minutes=i)))
            for i in range(30):                 # B flat
                rows.append(("B", base + dt.timedelta(days=day, minutes=i)))
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        out = {r.event_type: r for r in holt_reconcile(df, "event_type").collect()}

        # coherence: sum of reconciled == clamped total forecast
        cells = df.groupBy(
            F.col("event_type").alias("_k"),
            F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).alias("_t"),
        ).agg(F.count(F.lit(1)).cast("long").alias("_y"))
        tot_cells = cells.groupBy("_t").agg(
            F.sum("_y").cast("long").alias("_y")
        ).select(F.lit("__t__").alias("_k"), "_t", "_y")
        (t_fc,) = holt_linear(tot_cells, "_k", "_t", "_y", horizon=1).collect()
        T = max(t_fc.fc1_e6, 0)
        assert sum(r.recon_e6 for r in out.values()) == T
        # each delta is recon - fc1
        for r in out.values():
            assert r.delta_e6 == r.recon_e6 - r.fc1_e6
        # proportionality: A's share of recon ~ A's share of base
        wA, wB = max(out["A"].fc1_e6, 0), max(out["B"].fc1_e6, 0)
        assert abs(out["A"].recon_e6 - T * wA // (wA + wB)) <= 1

    def test_all_nonpositive_forecasts_yield_null(self, spark):
        from unitdb_spark.operators.timeseries import holt_reconcile
        import datetime as dt

        # single day per key: fc1 = count*1e6 > 0 — craft a negative
        # trend instead: day0 heavy, day1 empty is impossible (no rows),
        # so force via two keys with crashing counts
        base = dt.datetime(2024, 9, 1)
        rows = []
        counts = [40, 20, 5, 1]  # steep decline -> negative fc1
        for day, n in enumerate(counts):
            for i in range(n):
                rows.append(("crash", base + dt.timedelta(days=day, minutes=i)))
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        (r,) = holt_reconcile(df, "event_type").collect()
        if r.fc1_e6 <= 0:
            # weights all clamp to zero -> no proportional answer
            assert r.recon_e6 is None and r.delta_e6 is None
        else:  # if the fold lands slightly positive, coherence holds
            assert r.recon_e6 is not None


class TestEmbeddingDrift:
    def test_matches_python_model(self, spark):
        import numpy as np

        from unitdb_spark.operators.similarity import embedding_drift

        rng = np.random.RandomState(4)
        rows = []
        for i in range(40):
            lab = "shifted" if i % 2 else "base"
            v = rng.randn(8) + (2.0 if lab == "shifted" else 0.0)
            rows.append((i, lab, [float(x) for x in v]))
        df = spark.createDataFrame(
            rows, "vec_id long, label string, embedding array<double>"
        )
        got = {r.label: r for r in embedding_drift(df).collect()}

        import math

        K = 10_000
        qv = {
            i: [math.floor(x * K + 0.5) for x in v] for i, _, v in rows
        }
        labs = {"base", "shifted"}
        for lab in labs:
            ids = [i for i, l, _ in rows if l == lab]
            rest = [i for i, l, _ in rows if l != lab]
            n, nr = len(ids), len(rest)
            num = 0
            for d in range(8):
                s = sum(qv[i][d] for i in ids)
                sr = sum(qv[i][d] for i in rest)
                num += (s * nr - sr * n) ** 2
            shift2 = num / (n * nr * K) / (n * nr * K)
            ssq = sum(sum(q * q for q in qv[i]) for i in ids)
            s2 = sum(sum(qv[i][d] for i in ids) ** 2 for d in range(8))
            disp = (n * ssq - s2) / (n * n * K * K)
            assert got[lab].n == n
            assert got[lab].shift2_r == round(shift2, 6)
            assert got[lab].disp_r == round(disp, 6)
        # a 2-sigma mean shift in every dim: shift2 ~ 8*(2^2)/... >> 0
        assert got["shifted"].shift2_r > 1.0

    def test_single_label_corpus_is_empty(self, spark):
        from unitdb_spark.operators.similarity import embedding_drift

        df = spark.createDataFrame(
            [(1, "only", [0.1, 0.2]), (2, "only", [0.3, 0.4])],
            "vec_id long, label string, embedding array<double>",
        )
        assert embedding_drift(df).count() == 0  # no rest to drift from


class TestHaarEnergy:
    def test_matches_python_model(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import haar_energy

        base = dt.datetime(2024, 10, 1)
        # alternating 5,1 counts: almost all energy at level 0
        counts = [5 if h % 2 == 0 else 1 for h in range(64)]
        rows = [
            ("alt", base + dt.timedelta(hours=h, minutes=i))
            for h, n in enumerate(counts)
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        got = {
            r.level: r for r in haar_energy(df, "event_type", levels=4).collect()
        }

        span = 63
        want = {}
        for lvl in range(4):
            w = 2 ** lvl
            blocks = {}
            for o, y in enumerate(counts):
                blocks[o // w] = blocks.get(o // w, 0) + y
            e = 0
            for j in range(0, max(blocks) // 2 + 1):
                if (2 * j + 1) * w <= span:
                    e += (blocks.get(2 * j, 0) - blocks.get(2 * j + 1, 0)) ** 2
            want[lvl] = e
        tot = sum(want[l] * 2 ** (4 - l) for l in range(4))
        for lvl in range(4):
            assert got[lvl].energy == want[lvl]
            assert got[lvl].share_ppm == want[lvl] * 2 ** (4 - lvl) * 10**6 // tot
            assert got[lvl].block_s == 3600 * 2 ** lvl
        # the alternation concentrates normalized energy at level 0
        assert got[0].share_ppm > 800_000

    def test_slow_swing_concentrates_high_levels(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import haar_energy

        base = dt.datetime(2024, 10, 1)
        # step function: first 32 hours heavy, next 32 light ->
        # energy at the coarsest pairing
        rows = [
            ("step", base + dt.timedelta(hours=h, minutes=i))
            for h in range(64)
            for i in range(8 if h < 32 else 1)
        ]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        got = {r.level: r for r in haar_energy(df, "event_type", levels=6).collect()}
        assert got[5].share_ppm > 500_000  # the 32-hour pairing wins


class TestTrainingTable:
    def test_no_leakage_and_labels(self, spark):
        import datetime as dt

        from unitdb_spark.operators.features import training_table

        base = dt.datetime(2024, 11, 1)
        rows = []
        # span = 100 hours; cutoff at 70h, horizon 15h
        # u1: active early, purchases at 75h (inside window) -> label 1
        # u2: active early, purchases at 90h (outside window) -> label 0
        # u3: first seen at 80h (after cutoff) -> NO ROW
        for h in (0, 10, 60):
            rows.append((1, base + dt.timedelta(hours=h), "click", 10.0))
            rows.append((2, base + dt.timedelta(hours=h), "view", None))
        rows.append((1, base + dt.timedelta(hours=75), "purchase", 5.0))
        rows.append((2, base + dt.timedelta(hours=90), "purchase", 5.0))
        rows.append((3, base + dt.timedelta(hours=80), "click", 1.0))
        rows.append((2, base + dt.timedelta(hours=100), "view", None))
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string, value double"
        )
        out = {r.user_id: r for r in training_table(df).collect()}
        assert set(out) == {1, 2}          # u3 unseen pre-cutoff
        assert out[1].label == 1 and out[2].label == 0
        # features count ONLY pre-cutoff events
        assert out[1].n_events == 3 and out[2].n_events == 3
        # the 75h purchase is label-side: 'purchase' never appears
        # pre-cutoff, so it isn't even a feature column
        assert "n_purchase" not in out[1].asDict()
        assert out[1].n_click == 3
        assert out[1].cents == 3000 and out[2].cents == 0
        # recency/tenure relative to the cutoff (70h), in seconds
        assert out[1].recency_s == 10 * 3600 and out[1].tenure_s == 70 * 3600

    def test_bad_split_raises(self, spark):
        import pytest

        from unitdb_spark.operators.features import training_table

        df = spark.range(1).select(
            F.lit(1).alias("user_id"),
            F.current_timestamp().alias("ts"),
            F.lit("click").alias("event_type"),
            F.lit(1.0).alias("value"),
        )
        with pytest.raises(ValueError, match="split the unit span"):
            training_table(df, cutoff_ppm=950_000, horizon_ppm=100_000)


class TestPowerAnalysis:
    def test_matches_python_model(self, spark):
        import math

        from unitdb_spark.operators.evaluation import power_analysis

        vals = [(f"u{i}", 100 + (i * 37) % 50) for i in range(200)]
        df = spark.createDataFrame(vals, "uid string, cents long")
        (r,) = power_analysis(df, "cents").collect()
        n = len(vals)
        s = sum(v for _, v in vals)
        ss = sum(v * v for _, v in vals)
        vn = n * ss - s * s
        C = round(2 * (1.959964 + 0.841621) ** 2, 6)
        n_req = math.ceil(C * (vn * 1e12 * n) / ((50000.0 * 50000.0) * (n - 1) * (s * s)))
        assert r.n_units == n
        assert r.mu_r == round(s / n, 6)
        assert r.sd_r == round(math.sqrt(vn / (n * (n - 1))), 6)
        assert r.n_required == n_req
        assert r.feasible == (n >= 2 * n_req)

    def test_degenerate_inputs_yield_null(self, spark):
        from unitdb_spark.operators.evaluation import power_analysis

        df = spark.createDataFrame([("u1", 5)], "uid string, cents long")
        (r,) = power_analysis(df, "cents").collect()
        assert r.n_units == 1 and r.n_required is None and r.feasible is None

    def test_off_table_quantiles_raise(self, spark):
        import pytest

        from unitdb_spark.operators.evaluation import power_analysis

        df = spark.createDataFrame([("u", 1), ("v", 2)], "uid string, cents long")
        with pytest.raises(ValueError, match="z table"):
            power_analysis(df, "cents", alpha=0.03)


class TestRunsTest:
    def test_matches_python_model(self, spark):
        import datetime as dt
        import math

        from unitdb_spark.operators.stats_tests import runs_test

        base = dt.datetime(2024, 12, 1)
        # alternating high/low around a single median cell: far more
        # runs than chance -> nonrandom (3 levels so the median drops
        # only itself, not a whole side)
        counts = [6 if h % 2 == 0 else 2 for h in range(40)] + [4]
        rows = [
            ("alt", base + dt.timedelta(hours=h, minutes=i))
            for h, c in enumerate(counts)
            for i in range(c)
        ]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        (r,) = runs_test(df, "event_type").collect()

        ys = counts
        med = sorted(ys)[(len(ys) + 1) // 2 - 1]
        sides = [1 if y > med else 0 for y in ys if y != med]
        n1, n2 = sum(sides), len(sides) - sum(sides)
        runs = 1 + sum(1 for a, b in zip(sides, sides[1:]) if a != b)
        n = n1 + n2
        mu = 2.0 * n1 * n2 / n + 1.0
        var = 2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1.0))
        z = (runs - mu) / math.sqrt(var)
        assert (r.n, r.n1, r.n2, r.runs) == (n, n1, n2, runs)
        assert r.z_r == round(z, 6)
        assert r.nonrandom is True and r.z_r > 0  # alternation inflates runs

    def test_clumped_series_flags_low(self, spark):
        import datetime as dt

        from unitdb_spark.operators.stats_tests import runs_test

        base = dt.datetime(2024, 12, 1)
        counts = [6] * 20 + [4] + [2] * 20  # one giant run each side
        rows = [
            ("clump", base + dt.timedelta(hours=h, minutes=i))
            for h, c in enumerate(counts)
            for i in range(c)
        ]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        (r,) = runs_test(df, "event_type").collect()
        assert r.runs == 2 and r.nonrandom is True and r.z_r < 0

    def test_one_sided_series_yields_null(self, spark):
        import datetime as dt

        from unitdb_spark.operators.stats_tests import runs_test

        base = dt.datetime(2024, 12, 1)
        # constant series: everything ties at the median and drops
        rows = [
            ("flat", base + dt.timedelta(hours=h, minutes=i))
            for h in range(10)
            for i in range(3)
        ]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        out = runs_test(df, "event_type").collect()
        assert len(out) <= 1
        if out:
            assert out[0].z_r is None


class TestAcfTable:
    def test_matches_python_model(self, spark):
        import datetime as dt

        from unitdb_spark.operators.stats_tests import acf_table

        base = dt.datetime(2024, 12, 15)
        counts = [4 + (3 if h % 6 < 3 else 0) for h in range(60)]
        rows = [
            ("p", base + dt.timedelta(hours=h, minutes=i))
            for h, c in enumerate(counts)
            for i in range(c)
        ]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        got = {r.lag: r.rho_ppm for r in acf_table(df, "event_type", lags=8).collect()}

        n, s = len(counts), sum(counts)
        c = [n * x - s for x in counts]
        den = sum(v * v for v in c)
        for k in range(1, 9):
            num = sum(c[t] * c[t + k] for t in range(n - k))
            q = abs(num) * 1_000_000 // den
            want = q if num >= 0 else -q
            assert got[k] == want
        # 6-hour square wave: lag 6 strongly positive, lag 3 negative
        assert got[6] > 500_000 and got[3] < -500_000


class TestQuantileTreatmentEffect:
    def test_matches_python_model(self, spark):
        from unitdb_spark.operators.evaluation import (
            quantile_treatment_effect,
        )

        # arm 1 = arm 0 shifted up by 7 at every rank
        a = [(v, 0) for v in range(1, 41)]
        b = [(v + 7, 1) for v in range(1, 36)]
        df = spark.createDataFrame(a + b, "cents long, arm int")
        got = {r.decile: r for r in
               quantile_treatment_effect(df, "cents", "arm").collect()}
        va = sorted(v for v, _ in a)
        vb = sorted(v for v, _ in b)
        for d in range(1, 10):
            qa = va[(d * len(va) + 9) // 10 - 1]
            qb = vb[(d * len(vb) + 9) // 10 - 1]
            r = got[d]
            assert (r.n_a, r.n_b, r.qa, r.qb, r.diff) == (
                len(va), len(vb), qa, qb, qb - qa
            )
        assert all(got[d].diff > 0 for d in range(1, 10))

    def test_bad_deciles_raise(self, spark):
        import pytest

        from unitdb_spark.operators.evaluation import (
            quantile_treatment_effect,
        )

        df = spark.createDataFrame([(1, 0)], "cents long, arm int")
        with pytest.raises(ValueError, match="deciles"):
            quantile_treatment_effect(df, "cents", "arm", deciles=(0, 5))


class TestInterruptedTs:
    def test_detects_level_and_slope_break(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import interrupted_ts

        base = dt.datetime(2025, 1, 1)
        rows = []
        # 40 days: pre = flat 10/day; post (day >= 28, the 70% cut of
        # span 39 at day 27) = jump to 30 and grow +2/day
        for day in range(40):
            n = 10 if day <= 27 else 30 + 2 * (day - 28)
            for i in range(n):
                rows.append(("brk", base + dt.timedelta(days=day, minutes=i)))
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        (r,) = interrupted_ts(df, "event_type").collect()
        assert (r.n_pre, r.n_post) == (28, 12)
        assert r.slope_pre_r == 0.0
        assert r.slope_post_r == 2.0
        assert r.slope_change_r == 2.0
        # pre predicts 10 at x0=28; post fit passes through 30 at x0
        assert abs(r.level_change_r - 20.0) < 1e-6

    def test_single_day_side_yields_nulls(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import interrupted_ts

        base = dt.datetime(2025, 1, 1)
        rows = [
            ("thin", base + dt.timedelta(days=d, minutes=i))
            for d in (0, 1, 2)
            for i in range(3)
        ]
        # cutoff at 70% of span 2 -> day 1: post side has ONE day
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        (r,) = interrupted_ts(df, "event_type").collect()
        assert r.n_post == 1
        assert r.slope_post_r is None and r.level_change_r is None


class TestRevenueBridge:
    def test_identity_and_edge_cases(self, spark):
        import datetime as dt

        from unitdb_spark.operators.olap import revenue_bridge

        d0 = dt.date(2025, 1, 1)
        rows = [
            # A: steady volume, price doubles
            ("A", d0, 10.0, 100.0), ("A", d0 + dt.timedelta(days=9), 10.0, 200.0),
            # B: volume doubles, price flat
            ("B", d0, 5.0, 50.0), ("B", d0 + dt.timedelta(days=9), 10.0, 100.0),
            # C: only in the first half (discontinued)
            ("C", d0, 3.0, 30.0),
            # D: only in the second half (new)
            ("D", d0 + dt.timedelta(days=9), 4.0, 40.0),
        ]
        df = spark.createDataFrame(rows, "k string, d date, qty double, rev double")
        out = {r.k: r for r in revenue_bridge(df, "k", "d", "qty", "rev").collect()}
        # pure price move: volume effect 0, all delta in price
        assert out["A"].volume_eff_c == 0 and out["A"].price_eff_c == 10000
        # pure volume move: price effect 0
        assert out["B"].volume_eff_c == 5000 and out["B"].price_eff_c == 0
        # every row reconciles exactly
        for r in out.values():
            if r.volume_eff_c is not None:
                assert r.volume_eff_c + r.price_eff_c == r.delta_c
        # one-sided keys: delta reported, effects honest NULL
        assert out["C"].delta_c == -3000 and out["C"].volume_eff_c is None
        assert out["D"].delta_c == 4000 and out["D"].price_eff_c is None


class TestSeasonalMannKendall:
    def test_deseasonalized_trend_detected(self, spark):
        from unitdb_spark.operators.stats_tests import (
            mann_kendall,
            seasonal_mann_kendall,
        )

        # strong weekly cycle + slow upward drift: plain MK's S is
        # diluted by cross-weekday comparisons; seasonal MK pools
        # within-weekday evidence and flags the drift
        rows = []
        for t in range(70):
            season = t % 7
            y = 100 * (season + 1) + t  # cycle dominates, drift +1/day
            rows.append(("d", t, y, season))
        df = spark.createDataFrame(rows, "k string, t long, y long, season int")
        (r,) = seasonal_mann_kendall(df, "k", "season").collect()
        assert r.n_seasons == 7 and r.n == 70
        # within each weekday the series is strictly increasing:
        # S = 7 * C(10,2) = 315, all evidence, trend +1
        assert r.s == 7 * 45 and r.trend == 1

        # the pooled variance is the sum of per-season variances
        per = mann_kendall(
            df.selectExpr("concat(k, season) AS ck", "t", "y"), "ck", "t", "y"
        ).agg(F.sum("var18")).collect()[0][0]
        assert r.var18 == per

    def test_pure_cycle_is_no_trend(self, spark):
        from unitdb_spark.operators.stats_tests import seasonal_mann_kendall

        rows = []
        for t in range(42):
            rows.append(("c", t, 100 * ((t % 7) + 1), t % 7))
        df = spark.createDataFrame(rows, "k string, t long, y long, season int")
        (r,) = seasonal_mann_kendall(df, "k", "season").collect()
        assert r.s == 0 and r.trend == 0  # within-season all ties

    def test_separator_in_key_raises(self, spark):
        # a key containing the \x1f composite separator would silently
        # mis-split and pool evidence under a truncated key — the
        # operator must refuse it loudly, not corrupt the grouping
        import pytest

        from unitdb_spark.operators.stats_tests import seasonal_mann_kendall

        df = spark.createDataFrame(
            [("a\x1fb", 0, 1, 10), ("a\x1fb", 0, 2, 20)],
            "k string, season int, t long, y long",
        )
        with pytest.raises(Exception, match="separator"):
            seasonal_mann_kendall(df, "k", "season").collect()


class TestTheilSen:
    def test_robust_to_outlier(self, spark):
        from unitdb_spark.operators.stats_tests import theil_sen

        # clean slope 3, one wild outlier day
        rows = [("s", t, 3 * t + 10) for t in range(20)]
        rows[7] = ("s", 7, 10_000)
        df = spark.createDataFrame(rows, "k string, t long, y long")
        (r,) = theil_sen(df, "k").collect()
        assert r.n_obs == 20 and r.n_pairs == 190
        assert r.sen_slope_r == 3.0  # the outlier cannot move the median

    def test_matches_python_model(self, spark):
        from unitdb_spark.operators.stats_tests import theil_sen

        rows = [("m", t, (t * 13) % 7 + t // 2) for t in range(15)]
        df = spark.createDataFrame(rows, "k string, t long, y long")
        (r,) = theil_sen(df, "k").collect()
        slopes = sorted(
            (
                (yj - yi) / (tj - ti),
                yj - yi,
                tj - ti,
            )
            for _, ti, yi in rows
            for _, tj, yj in rows
            if ti < tj
        )
        want = slopes[(len(slopes) + 1) // 2 - 1][0]
        assert r.sen_slope_r == round(want, 6)

    def test_single_obs_yields_null(self, spark):
        from unitdb_spark.operators.stats_tests import theil_sen

        df = spark.createDataFrame([("one", 0, 5)], "k string, t long, y long")
        (r,) = theil_sen(df, "k").collect()
        assert r.n_pairs == 0 and r.sen_slope_r is None


class TestKruskalWallis:
    def test_matches_hand_model_with_ties(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import kruskal_wallis

        data = {"a": [1.0, 2.0, 2.0, 5.0], "b": [2.0, 4.0, 6.0],
                "c": [3.0, 3.0, 7.0]}
        rows = [(v, g) for g, vs in data.items() for v in vs]
        df = spark.createDataFrame(rows, "v double, g string")
        (r,) = kruskal_wallis(df, "v", F.col("g")).collect()
        # midranks over pooled sorted values
        import collections

        pooled = sorted(v for vs in data.values() for v in vs)
        cnt = collections.Counter(pooled)
        below, mid = 0, {}
        for v in sorted(cnt):
            mid[v] = below + (cnt[v] + 1) / 2.0
            below += cnt[v]
        n = len(pooled)
        h_micro = 0
        for vs in data.values():
            r_j2 = int(sum(2 * mid[v] for v in vs))
            h_micro += (r_j2 * r_j2 * 1_000_000) // (
                4 * len(vs) * n * (n + 1)
            )
        h_micro = 12 * h_micro - 3 * (n + 1) * 1_000_000
        assert r.k == 3 and r.n == n and r.h_micro == h_micro
        tie3 = sum(t**3 - t for t in cnt.values())
        want = (
            h_micro / 1e6 * (n**3 - n) / ((n**3 - n) - tie3)
        )
        assert abs(r.h_r - want) < 1e-5

    def test_all_tied_null_h(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import kruskal_wallis

        df = spark.createDataFrame(
            [(1.0, "a"), (1.0, "a"), (1.0, "b")], "v double, g string"
        )
        (r,) = kruskal_wallis(df, "v", F.col("g")).collect()
        assert r.h_r is None


class TestOneWayAnova:
    def test_matches_float_model(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import one_way_anova

        data = {"a": [10, 12, 14], "b": [20, 21, 25, 26], "c": [9, 15]}
        rows = [(v, g) for g, vs in data.items() for v in vs]
        df = spark.createDataFrame(rows, "x long, g string")
        (r,) = one_way_anova(df, "x", F.col("g")).collect()
        import statistics

        allv = [v for vs in data.values() for v in vs]
        gm = sum(allv) / len(allv)
        ssb = sum(
            len(vs) * (statistics.mean(vs) - gm) ** 2
            for vs in data.values()
        )
        sst = sum((v - gm) ** 2 for v in allv)
        ssw = sst - ssb
        k, n = 3, len(allv)
        assert abs(r.ssb_micro / 1e6 - ssb) < 1e-3
        assert abs(r.ssw_micro / 1e6 - ssw) < 1e-3
        assert abs(r.f_r - (ssb / (k - 1)) / (ssw / (n - k))) < 1e-4
        assert r.eta2_ppm == (r.ssb_micro * 1_000_000) // r.sst_micro

    def test_constant_values_null_f(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import one_way_anova

        df = spark.createDataFrame(
            [(5, "a"), (5, "a"), (5, "b")], "x long, g string"
        )
        (r,) = one_way_anova(df, "x", F.col("g")).collect()
        assert r.f_r is None and r.ssb_micro == 0 and r.ssw_micro == 0

    def test_moment_fold_equals_one_shot(self, spark):
        """Mergeability pin for the streaming twin: per-group moments
        summed across two batches finish identically to the one-shot
        aggregation."""
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import (
            anova_from_moments,
            one_way_anova,
        )

        rows = [(v, g) for g, vs in
                {"a": [3, 9, 1, 7], "b": [4, 4, 8], "c": [2, 6]}.items()
                for v in vs]
        df = spark.createDataFrame(rows, "x long, g string")
        one = one_way_anova(df, "x", F.col("g")).collect()
        d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        halves = [df.filter("x <= 4"), df.filter("x > 4")]
        partials = [
            h.groupBy(F.col("g").alias("_g")).agg(
                F.count(F.lit(1)).alias("n_j"),
                F.sum("x").alias("s_j"),
                F.sum(d38(F.col("x")) * d38(F.col("x"))).alias("q_j"),
            )
            for h in halves
        ]
        folded = (
            partials[0].unionByName(partials[1])
            .groupBy("_g")
            .agg(
                F.sum("n_j").alias("n_j"),
                F.sum("s_j").alias("s_j"),
                F.sum("q_j").alias("q_j"),
            )
        )
        two = anova_from_moments(folded).collect()
        assert one == two


class TestFriedman:
    def test_matches_textbook_no_ties(self, spark):
        from unitdb_spark.operators.stats_tests import friedman_test

        # 4 blocks x 3 treatments, no ties within any block
        panel = {
            1: {"x": 10, "y": 20, "z": 30},
            2: {"x": 15, "y": 12, "z": 40},
            3: {"x": 8, "y": 22, "z": 9},
            4: {"x": 5, "y": 11, "z": 12},
        }
        rows = [(b, t, v) for b, tv in panel.items()
                for t, v in tv.items()]
        df = spark.createDataFrame(rows, "b int, t string, v long")
        (r,) = friedman_test(df, "b", "t", "v").collect()
        # textbook: Q = 12/(nk(k+1)) sum R_j^2 - 3n(k+1)
        ranks = {"x": 0.0, "y": 0.0, "z": 0.0}
        for tv in panel.values():
            order = sorted(tv, key=tv.get)
            for i, t in enumerate(order):
                ranks[t] += i + 1
        n, k = 4, 3
        q = (
            12.0 / (n * k * (k + 1))
            * sum(v * v for v in ranks.values())
            - 3 * n * (k + 1)
        )
        assert r.n_blocks == n and r.k == k
        assert abs(r.q_r - q) < 1e-6

    def test_incomplete_blocks_drop(self, spark):
        from unitdb_spark.operators.stats_tests import friedman_test

        rows = [
            (1, "x", 1), (1, "y", 2), (2, "x", 3),  # block 2 incomplete
        ]
        df = spark.createDataFrame(rows, "b int, t string, v long")
        (r,) = friedman_test(df, "b", "t", "v").collect()
        assert r.n_blocks == 1 and r.k == 2


class TestCochranQ:
    def test_matches_closed_form(self, spark):
        from unitdb_spark.operators.stats_tests import cochran_q

        grid = [
            (1, [1, 1, 0]), (2, [1, 0, 0]), (3, [1, 1, 1]),
            (4, [0, 1, 0]), (5, [1, 1, 0]), (6, [1, 0, 1]),
        ]
        rows = [(b, f"t{j}", x) for b, xs in grid for j, x in enumerate(xs)]
        df = spark.createDataFrame(rows, "b int, t string, x int")
        (r,) = cochran_q(df, "b", "t", "x").collect()
        k = 3
        cj = [sum(xs[j] for _, xs in grid) for j in range(k)]
        li = [sum(xs) for _, xs in grid]
        ntot = sum(cj)
        num = (k - 1) * (k * sum(c * c for c in cj) - ntot * ntot)
        den = k * ntot - sum(x * x for x in li)
        assert r.q_num == num and r.q_den == den
        assert abs(r.q_r - num / den) < 1e-6

    def test_concordant_blocks_only_null(self, spark):
        from unitdb_spark.operators.stats_tests import cochran_q

        rows = [
            (1, "a", 1), (1, "b", 1), (2, "a", 0), (2, "b", 0),
        ]
        df = spark.createDataFrame(rows, "b int, t string, x int")
        (r,) = cochran_q(df, "b", "t", "x").collect()
        assert r.q_den == 0 and r.q_r is None


class TestKendallTauB:
    def test_matches_bruteforce_with_ties(self, spark):
        import itertools
        import math

        from unitdb_spark.operators.stats_tests import kendall_tau_b

        xs = [3, 1, 4, 1, 5, 9, 2, 6, 5]
        ys = [2, 7, 1, 8, 2, 8, 1, 8, 3]
        rows = [("k", t, x, y) for t, (x, y) in
                enumerate(zip(xs, ys))]
        df = spark.createDataFrame(rows, "g string, t int, x long, y long")
        (r,) = kendall_tau_b(df, "g", "x", "y", "t").collect()
        c = d = tx = ty = 0
        for (xa, ya), (xb, yb) in itertools.combinations(
            zip(xs, ys), 2
        ):
            sx = (xb > xa) - (xb < xa)
            sy = (yb > ya) - (yb < ya)
            if sx == 0:
                tx += 1
            if sy == 0:
                ty += 1
            if sx * sy > 0:
                c += 1
            elif sx * sy < 0:
                d += 1
        n0 = len(xs) * (len(xs) - 1) // 2
        assert (r.n_c, r.n_d, r.tie_x, r.tie_y) == (c, d, tx, ty)
        want = (c - d) / math.sqrt((n0 - tx) * (n0 - ty))
        assert abs(r.tau_r - want) < 1e-6

    def test_constant_series_null(self, spark):
        from unitdb_spark.operators.stats_tests import kendall_tau_b

        rows = [("k", t, 5, t) for t in range(4)]
        df = spark.createDataFrame(rows, "g string, t int, x long, y long")
        (r,) = kendall_tau_b(df, "g", "x", "y", "t").collect()
        assert r.tau_r is None and r.n_obs == 4


class TestAucFromScores:
    def test_matches_pairwise_definition(self, spark):
        import itertools

        from unitdb_spark.operators.evaluation import auc_from_scores

        pos = [0.9, 0.7, 0.7, 0.4]
        neg = [0.8, 0.7, 0.3, 0.3, 0.1]
        rows = [(s, True) for s in pos] + [(s, False) for s in neg]
        df = spark.createDataFrame(rows, "score double, y boolean")
        (r,) = auc_from_scores(df, "score", "y").collect()
        gt = ht = 0
        for p, n in itertools.product(pos, neg):
            if p > n:
                gt += 1
            elif p == n:
                ht += 1
        # u_pos2 = 2*U+ counts ties once each
        assert r.n_pos == 4 and r.n_neg == 5
        assert r.u_pos2 == 2 * gt + ht
        assert r.auc_ppm == (r.u_pos2 * 500_000) // (4 * 5)
        assert r.gini_ppm == (r.u_pos2 * 1_000_000) // (4 * 5) - 1_000_000

    def test_perfect_and_degenerate(self, spark):
        from unitdb_spark.operators.evaluation import auc_from_scores

        rows = [(0.9, True), (0.8, True), (0.2, False)]
        (r,) = auc_from_scores(
            spark.createDataFrame(rows, "score double, y boolean"),
            "score", "y",
        ).collect()
        assert r.auc_ppm == 1_000_000 and r.gini_ppm == 1_000_000
        (r2,) = auc_from_scores(
            spark.createDataFrame(
                [(0.5, True), (0.4, True)], "score double, y boolean"
            ),
            "score", "y",
        ).collect()
        assert r2.n_neg == 0 and r2.auc_ppm is None


class TestRankingMap:
    def test_hand_computed_ap(self, spark):
        from unitdb_spark.operators.evaluation import ranking_map

        # q1: rel at ranks 1 and 3 -> AP = (1/1 + 2/3)/2
        # q2: rel at rank 2        -> AP = (1/2)/1
        # q3: no rel               -> AP = 0, stays in denominator
        rows = (
            [("q1", 1, True), ("q1", 2, False), ("q1", 3, True)]
            + [("q2", 1, False), ("q2", 2, True)]
            + [("q3", 1, False), ("q3", 2, False)]
        )
        df = spark.createDataFrame(rows, "q string, rank int, rel boolean")
        (r,) = ranking_map(df, "q", "rank", "rel", k=10).collect()
        ap1 = (1_000_000 + (2 * 1_000_000) // 3) // 2
        ap2 = 500_000
        assert r.n_queries == 3 and r.n_with_rel == 2
        assert r.map_micro == (ap1 + ap2 + 0) // 3

    def test_rank_k_cutoff(self, spark):
        from unitdb_spark.operators.evaluation import ranking_map

        rows = [("q", 1, False), ("q", 2, True), ("q", 3, True)]
        df = spark.createDataFrame(rows, "q string, rank int, rel boolean")
        (r,) = ranking_map(df, "q", "rank", "rel", k=2).collect()
        # only rank <= 2 counts: one hit at rank 2
        assert r.map_micro == 500_000


class TestCumulativeGains:
    def test_hand_model_and_invariants(self, spark):
        from unitdb_spark.operators.evaluation import cumulative_gains

        # 10 rows, descending score; positives concentrated on top
        rows = [
            (i, 1.0 - i / 10.0, i < 3) for i in range(10)
        ]
        df = spark.createDataFrame(rows, "id int, score double, y boolean")
        out = cumulative_gains(df, "score", "y", "id", n_bins=5).collect()
        assert [r.bin for r in out] == [1, 2, 3, 4, 5]
        assert [r.n for r in out] == [2] * 5
        # top bin holds 2 of the 3 positives
        top = out[0]
        assert top.cum_pos == 2
        assert top.gain_ppm == (2 * 1_000_000) // 3
        assert top.lift_ppm == (2 * 10 * 1_000_000) // (2 * 3)
        # the full prefix always captures everything at lift 1
        last = out[-1]
        assert last.gain_ppm == 1_000_000 and last.lift_ppm == 1_000_000

    def test_ranked_equals_ntile_on_distinct_scores(self, spark):
        # when no tie group straddles a threshold (all scores
        # distinct), the mergeable rank-threshold path must agree
        # bit-for-bit with the ntile path
        from unitdb_spark.operators.evaluation import (
            cumulative_gains,
            cumulative_gains_ranked,
        )

        rows = [(i, 97 - 7 * i, i % 3 == 0) for i in range(23)]
        df = spark.createDataFrame(rows, "id int, sm long, y boolean")
        a = cumulative_gains(df, "sm", "y", "id", n_bins=5).collect()
        b = cumulative_gains_ranked(df, "sm", "y", n_bins=5).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_ranked_ties_together_and_dense_spine(self, spark):
        from unitdb_spark.operators.evaluation import cumulative_gains_ranked

        # 10 rows all sharing one score: the single tie group lands in
        # bin 5 (its last row's threshold); bins 1-4 are empty but
        # still emitted, carrying cum = 0 forward
        rows = [(i, 42, i < 4) for i in range(10)]
        df = spark.createDataFrame(rows, "id int, sm long, y boolean")
        out = cumulative_gains_ranked(df, "sm", "y", n_bins=5).collect()
        assert [r.bin for r in out] == [1, 2, 3, 4, 5]
        assert [r.n for r in out] == [0, 0, 0, 0, 10]
        assert [r.cum_pos for r in out] == [0, 0, 0, 0, 4]
        assert out[0].lift_ppm is None  # cum_n = 0 prefix
        assert out[-1].gain_ppm == 1_000_000

    def test_fold_equality_from_counts(self, spark):
        # per-score counts merge by SUM: three arbitrary segments'
        # partials re-summed finish identically to the one-shot path
        from pyspark.sql import functions as F
        from unitdb_spark.operators.evaluation import (
            cumulative_gains_from_counts,
            cumulative_gains_ranked,
        )

        rows = [(i, (i * 13) % 7, (i * 5) % 3 == 0) for i in range(40)]
        df = spark.createDataFrame(rows, "id int, sm long, y boolean")
        direct = cumulative_gains_ranked(df, "sm", "y", n_bins=10).collect()
        parts = []
        for seg in range(3):
            parts.append(
                df.filter(F.col("id") % 3 == seg)
                .groupBy(F.col("sm").alias("_s"))
                .agg(
                    F.count(F.lit(1)).alias("n_v"),
                    F.count(F.when(F.col("y"), 1)).alias("p_v"),
                )
            )
        merged = parts[0].unionByName(parts[1]).unionByName(parts[2])
        folded = cumulative_gains_from_counts(merged, n_bins=10).collect()
        assert sorted(map(tuple, direct)) == sorted(map(tuple, folded))


class TestUpliftRanked:
    def test_ranked_equals_ntile_on_distinct_scores(self, spark):
        from unitdb_spark.operators.evaluation import (
            uplift_deciles,
            uplift_deciles_ranked,
        )

        rows = [
            (i, 1000 - 31 * i, i % 2, (i * 7) % 3 == 0) for i in range(17)
        ]
        df = spark.createDataFrame(rows, "id int, s long, t int, y boolean")
        a = uplift_deciles(df, "s", "t", "y", "id", n_bins=4).collect()
        b = uplift_deciles_ranked(df, "s", "t", "y", n_bins=4).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_fold_equality_from_counts(self, spark):
        from pyspark.sql import functions as F
        from unitdb_spark.operators.evaluation import (
            uplift_deciles_from_counts,
            uplift_deciles_ranked,
        )

        rows = [
            (i, (i * 11) % 5, i % 2, (i * 3) % 4 == 0) for i in range(36)
        ]
        df = spark.createDataFrame(rows, "id int, s long, t int, y boolean")
        direct = uplift_deciles_ranked(df, "s", "t", "y", n_bins=6).collect()

        def partial(seg):
            return (
                df.filter(F.col("id") % 2 == seg)
                .groupBy(F.col("s").alias("_s"))
                .agg(
                    F.count(F.when(F.col("t") == 1, 1)).alias("n_t"),
                    F.count(F.when(F.col("t") == 0, 1)).alias("n_c"),
                    F.count(
                        F.when((F.col("t") == 1) & F.col("y"), 1)
                    ).alias("pos_t"),
                    F.count(
                        F.when((F.col("t") == 0) & F.col("y"), 1)
                    ).alias("pos_c"),
                )
            )

        merged = partial(0).unionByName(partial(1))
        folded = uplift_deciles_from_counts(merged, n_bins=6).collect()
        assert sorted(map(tuple, direct)) == sorted(map(tuple, folded))


class TestSourceUnigramJs:
    def test_identical_sources_zero_and_bounds(self, spark):
        from unitdb_spark.operators.tfidf import source_unigram_js

        rows = [
            (1, "alpha beta beta gamma", "s1"),
            (2, "alpha beta beta gamma", "s2"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {r.source: r for r in source_unigram_js(df).collect()}
        # both sources match the corpus distribution exactly -> JS = 0
        assert out["s1"].js_r == 0.0 and out["s2"].js_r == 0.0
        assert out["s1"].n_tokens == 4 and out["s1"].n_types == 3

    def test_disjoint_vocab_hits_log2_bound(self, spark):
        import math

        from unitdb_spark.operators.tfidf import source_unigram_js

        rows = [(1, "aa aa aa", "s1"), (2, "bb bb bb", "s2")]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {r.source: r for r in source_unigram_js(df).collect()}
        # the corpus CONTAINS the source (p=1, q=1/2, m=3/4 on the own
        # term; complement mass 1/2 at the exact log10(2) tail):
        # JS = (log10(4/3) + (1/2)·log10(2/3) + log10(2)/2) / 2
        want = (
            math.log10(4 / 3)
            + 0.5 * math.log10(2 / 3)
            + math.log10(2) / 2
        ) / 2
        for r in out.values():
            assert abs(r.js_r - want) < 2e-6
            assert 0.0 <= r.js_r <= 0.301031


class TestSaxMotifs:
    def test_hand_series_and_gap_guard(self, spark):
        from unitdb_spark.operators.timeseries import sax_motifs

        # 8 contiguous days; values repeat a low-low-high cycle.
        ys = [1, 2, 9, 1, 2, 9, 1, 2]
        rows = [("k", t, y) for t, y in enumerate(ys)]
        df = spark.createDataFrame(rows, "k string, t long, y long")
        out = sax_motifs(df, "k", "t", "y", alphabet=2, word_len=3,
                         top_k=2).collect()
        # ntile(2) over (y, t): 4 lowest (1,1,1,2) -> 'a', rest 'b'
        # seq: a a b a b b a b -> words: aab aba bab abb bba bab
        top = out[0]
        assert top.motif == "bab" and top.n == 2 and top.rank == 1
        # a calendar gap must break the word stream
        rows_gap = [("k", t, y) for t, y in
                    [(0, 1), (1, 2), (3, 9), (4, 1), (5, 2)]]
        df2 = spark.createDataFrame(rows_gap, "k string, t long, y long")
        out2 = sax_motifs(df2, "k", "t", "y", alphabet=2, word_len=3,
                          top_k=5).collect()
        # only t=3,4,5 are contiguous -> exactly one word
        assert sum(r.n for r in out2) == 1

    def test_validation(self, spark):
        import pytest

        from unitdb_spark.operators.timeseries import sax_motifs

        df = spark.createDataFrame([("k", 0, 1)], "k string, t long, y long")
        with pytest.raises(ValueError):
            sax_motifs(df, "k", "t", "y", alphabet=1)
        with pytest.raises(ValueError):
            sax_motifs(df, "k", "t", "y", word_len=1)


class TestLabelCentroidCosine:
    def test_identical_orthogonal_and_scale_invariance(self, spark):
        from unitdb_spark.operators.similarity import (
            label_centroid_cosine,
        )

        rows = [
            # label 0 and 1: same direction, different scales/counts
            (1, [1.0, 0.0, 1.0], 0),
            (2, [2.0, 0.0, 2.0], 0),
            (3, [4.0, 0.0, 4.0], 1),
            # label 2: orthogonal to 0/1
            (4, [0.0, 3.0, 0.0], 2),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        out = {
            (r.label_a, r.label_b): r
            for r in label_centroid_cosine(df).collect()
        }
        assert out[(0, 1)].cos_r == 1.0
        assert out[(0, 2)].cos_r == 0.0 and out[(1, 2)].cos_r == 0.0
        assert out[(0, 1)].n_a == 2 and out[(0, 1)].n_b == 1

    def test_zero_norm_side_null(self, spark):
        from unitdb_spark.operators.similarity import (
            label_centroid_cosine,
        )

        rows = [
            (1, [0.0, 0.0], 0),
            (2, [1.0, 2.0], 1),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        (r,) = label_centroid_cosine(df).collect()
        assert r.cos_r is None


class TestMcNemar:
    def test_matches_closed_form(self, spark):
        from unitdb_spark.operators.stats_tests import mcnemar_test

        pairs = [(1, 1)] * 4 + [(0, 0)] * 3 + [(1, 0)] * 5 + [(0, 1)] * 2
        df = spark.createDataFrame(pairs, "pre int, post int")
        (r,) = mcnemar_test(df, "pre", "post").collect()
        assert (r.n, r.n_pre, r.n_post) == (14, 9, 6)
        assert (r.b, r.c) == (5, 2)
        assert abs(r.chi_r - (5 - 2) ** 2 / 7) < 1e-6

    def test_no_discordant_null(self, spark):
        from unitdb_spark.operators.stats_tests import mcnemar_test

        df = spark.createDataFrame(
            [(1, 1), (0, 0)], "pre int, post int"
        )
        (r,) = mcnemar_test(df, "pre", "post").collect()
        assert r.chi_r is None

    def test_cochran_reduction_at_k2(self, spark):
        """Cochran's Q with k = 2 equals McNemar's chi exactly (the
        documented reduction)."""
        from unitdb_spark.operators.stats_tests import (
            cochran_q,
            mcnemar_test,
        )

        pairs = [(1, 1), (1, 0), (1, 0), (0, 1), (0, 0), (1, 0)]
        df = spark.createDataFrame(pairs, "pre int, post int")
        (m,) = mcnemar_test(df, "pre", "post").collect()
        long = spark.createDataFrame(
            [(i, "pre", a) for i, (a, b) in enumerate(pairs)]
            + [(i, "post", b) for i, (a, b) in enumerate(pairs)],
            "u int, t string, x int",
        )
        (q,) = cochran_q(long, "u", "t", "x").collect()
        assert abs(q.q_r - m.chi_r) < 1e-6


class TestBrownForsythe:
    def test_matches_deviation_anova(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import (
            brown_forsythe,
            one_way_anova,
        )

        data = {"a": [1, 2, 3, 100], "b": [10, 11, 12], "c": [5, 50]}
        rows = [(v, g) for g, vs in data.items() for v in vs]
        df = spark.createDataFrame(rows, "x long, g string")
        (r,) = brown_forsythe(df, "x", F.col("g")).collect()
        # lower-middle medians: a->2, b->11, c->5
        devs = {"a": [1, 0, 1, 98], "b": [1, 0, 1], "c": [0, 45]}
        drows = [(v, g) for g, vs in devs.items() for v in vs]
        ddf = spark.createDataFrame(drows, "x long, g string")
        (want,) = one_way_anova(ddf, "x", F.col("g")).collect()
        assert r == want

    def test_equal_spread_small_f(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import brown_forsythe

        # same shape, different levels -> deviations identical -> F = 0/NULL
        rows = [(v, "a") for v in (1, 2, 3)] + [
            (v + 100, "b") for v in (1, 2, 3)
        ]
        df = spark.createDataFrame(rows, "x long, g string")
        (r,) = brown_forsythe(df, "x", F.col("g")).collect()
        assert r.ssb_micro == 0


class TestUpliftDeciles:
    def test_hand_model(self, spark):
        from unitdb_spark.operators.evaluation import uplift_deciles

        # 8 units, 2 bins of 4; treatment converts in the top bin only
        rows = [
            # (id, score, treat, y)
            (1, 8.0, 1, True), (2, 7.0, 1, True),
            (3, 6.0, 0, False), (4, 5.0, 0, True),
            (5, 4.0, 1, False), (6, 3.0, 0, False),
            (7, 2.0, 1, False), (8, 1.0, 0, False),
        ]
        df = spark.createDataFrame(rows, "id int, score double, t int, y boolean")
        out = uplift_deciles(df, "score", "t", "y", "id", n_bins=2).collect()
        top, full = out[0], out[1]
        assert (top.n_t, top.n_c, top.pos_t, top.pos_c) == (2, 2, 2, 1)
        assert top.uplift_ppm == 1_000_000 - 500_000
        assert top.qini_micro == 2 * 1_000_000 - (1 * 2 * 1_000_000) // 2
        assert (full.cum_nt, full.cum_nc) == (4, 4)
        assert full.uplift_ppm == 500_000 - 250_000

    def test_one_arm_prefix_null(self, spark):
        from unitdb_spark.operators.evaluation import uplift_deciles

        # top bin is all-treatment -> control prefix empty -> NULL
        rows = [
            (1, 9.0, 1, True), (2, 8.0, 1, False),
            (3, 2.0, 0, True), (4, 1.0, 0, False),
        ]
        df = spark.createDataFrame(
            rows, "id int, score double, t int, y boolean"
        )
        out = uplift_deciles(df, "score", "t", "y", "id", n_bins=2).collect()
        assert out[0].uplift_ppm is None and out[0].qini_micro is None
        assert out[1].uplift_ppm == 500_000 - 500_000


class TestStratifiedAte:
    def test_simpsons_reversal_recovered(self, spark):
        from unitdb_spark.operators.evaluation import stratified_ate

        # stratum A: treat 2 units y=10, ctrl 1 unit y=8 (diff +2)
        # stratum B: treat 1 unit y=2, ctrl 2 units y=0 (diff +2)
        # naive pools: treat mean (10+10+2)/3, ctrl (8+0+0)/3 -> +14/3
        rows = [
            ("A", 1, 10), ("A", 1, 10), ("A", 0, 8),
            ("B", 1, 2), ("B", 0, 0), ("B", 0, 0),
        ]
        df = spark.createDataFrame(rows, "s string, t int, y long")
        (r,) = stratified_ate(df, "s", "t", "y").collect()
        assert r.n_strata == 2 and r.n_dropped == 0 and r.n_units == 6
        # per-stratum diffs both exactly +2 -> ATE = 2.0 in micro
        assert r.ate_micro == 2_000_000
        naive = (
            (22 * 1_000_000) // 3 - (8 * 1_000_000) // 3
        )
        assert r.naive_micro == naive

    def test_one_arm_stratum_dropped(self, spark):
        from unitdb_spark.operators.evaluation import stratified_ate

        rows = [
            ("A", 1, 5), ("A", 0, 3),
            ("B", 1, 100), ("B", 1, 100),  # no control -> dropped
        ]
        df = spark.createDataFrame(rows, "s string, t int, y long")
        (r,) = stratified_ate(df, "s", "t", "y").collect()
        assert r.n_strata == 1 and r.n_dropped == 1
        assert r.n_units == 2 and r.n_units_dropped == 2
        assert r.ate_micro == 2_000_000


class TestLexicalDiversity:
    def test_hand_model_and_edge_cases(self, spark):
        from unitdb_spark.operators.tfidf import lexical_diversity

        rows = [
            (1, "a b a b a"),          # n=5, types=2, rep=3*2+2*1=8
            (2, "unique words only"),  # n=3, types=3, rep=0
            (3, "x"),                  # n=1 -> simpson NULL
            (4, ""),                   # token-free -> kept, NULLs
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in lexical_diversity(df).collect()}
        r1 = out[1]
        assert (r1.n_tokens, r1.n_types) == (5, 2)
        assert r1.ttr_ppm == (2 * 1_000_000) // 5
        assert r1.simpson_ppm == (8 * 1_000_000) // (5 * 4)
        assert out[2].simpson_ppm == 0 and out[2].ttr_ppm == 1_000_000
        assert out[3].simpson_ppm is None and out[3].ttr_ppm == 1_000_000
        r4 = out[4]
        assert (r4.n_tokens, r4.n_types) == (0, 0)
        assert r4.ttr_ppm is None and r4.simpson_ppm is None


class TestGroupCentroidOutliers:
    def test_planted_outlier_found(self, spark):
        from unitdb_spark.operators.similarity import (
            group_centroid_outliers,
        )

        rows = [
            (1, "g", [1.0, 0.1]), (2, "g", [1.0, 0.0]),
            (3, "g", [0.9, 0.1]),
            (4, "g", [-1.0, 0.5]),  # the planted outlier
            (5, "h", [0.0, 1.0]), (6, "h", [0.1, 1.0]),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, g string, embedding array<float>"
        )
        out = group_centroid_outliers(df, "g", per_group=2).collect()
        by_g = {}
        for r in out:
            by_g.setdefault(r.g, []).append(r)
        assert by_g["g"][0].vec_id == 4 and by_g["g"][0].rank == 1
        assert len(by_g["h"]) == 2
        # everyone's cosine to own centroid is within [-1, 1]
        assert all(
            r.cos_r is None or -1.0 <= r.cos_r <= 1.0 for r in out
        )

    def test_zero_vector_ranks_first_with_null(self, spark):
        from unitdb_spark.operators.similarity import (
            group_centroid_outliers,
        )

        rows = [
            (1, "g", [0.0, 0.0]),
            (2, "g", [1.0, 1.0]),
            (3, "g", [1.0, 0.9]),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, g string, embedding array<float>"
        )
        out = group_centroid_outliers(df, "g", per_group=1).collect()
        assert out[0].vec_id == 1 and out[0].cos_r is None


class TestBpeFertility:
    def test_histogram_matches_encode(self, spark):
        from unitdb_spark.operators.bpe import (
            bpe_fertility,
            bpe_train,
        )

        rows = [(1, "low low low lower lowest new"), (2, "low new new")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        rules = bpe_train(df, n_merges=4)
        out = bpe_fertility(df, rules).collect()
        total = sum(r.n_instances for r in out)
        assert total == 9  # every token instance lands in one bucket
        for r in out:
            assert r.inst_share_ppm == (r.n_instances * 1_000_000) // total
        # type counts never exceed instance counts
        assert all(r.n_types <= r.n_instances for r in out)


class TestKeyShareDrift:
    def test_hand_model_and_cut(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.profile import key_share_drift

        rows = (
            [("a", 0)] * 6 + [("b", 0)] * 2 + [("c", 0)] * 2
            + [("a", 1)] * 1 + [("b", 1)] * 6 + [("d", 1)] * 3
        )
        df = spark.createDataFrame(rows, "k string, p int")
        out = key_share_drift(df, "k", F.col("p") == 1, top_k=2)
        got = out.collect()
        # shares: pre a=600000 b=200000 c=200000; post a=100000 b=600000 d=300000
        # deltas: a=-500000 b=+400000 c=-200000 d=+300000 -> top2 = a, b
        assert [r.k for r in got] == ["a", "b"]
        a = got[0]
        assert (a.n_pre, a.n_post) == (6, 1)
        assert a.share_pre_ppm == 600_000 and a.share_post_ppm == 100_000
        assert a.delta_ppm == -500_000

    def test_one_sided_key_absence_is_signal(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.profile import key_share_drift

        rows = [("x", 0), ("y", 1)]
        df = spark.createDataFrame(rows, "k string, p int")
        out = {r.k: r for r in
               key_share_drift(df, "k", F.col("p") == 1, 5).collect()}
        assert out["x"].share_post_ppm == 0 and out["x"].n_post == 0
        assert out["y"].share_pre_ppm == 0 and out["y"].delta_ppm == 1_000_000


class TestDunnPosthoc:
    def test_matches_midrank_model(self, spark):
        import math

        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import dunn_posthoc

        data = {"a": [1.0, 2.0, 2.0], "b": [2.0, 4.0], "c": [5.0, 6.0, 7.0]}
        rows = [(v, g) for g, vs in data.items() for v in vs]
        df = spark.createDataFrame(rows, "v double, g string")
        out = {(r.group_a, r.group_b): r
               for r in dunn_posthoc(df, "v", F.col("g")).collect()}
        assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
        # pooled midranks
        pooled = sorted(v for vs in data.values() for v in vs)
        import collections

        cnt = collections.Counter(pooled)
        below, mid = 0, {}
        for v in sorted(cnt):
            mid[v] = below + (cnt[v] + 1) / 2.0
            below += cnt[v]
        n = len(pooled)
        tie3 = sum(t**3 - t for t in cnt.values())
        for (ga, gb), r in out.items():
            ra = sum(2 * mid[v] for v in data[ga])
            rb = sum(2 * mid[v] for v in data[gb])
            na, nb = len(data[ga]), len(data[gb])
            assert r.num2 == int(round(ra * nb - rb * na))
            var = (n * (n + 1) / 12 - tie3 / (12 * (n - 1))) * (
                na + nb
            ) / (na * nb)
            want = (r.num2 / (2 * na * nb)) / math.sqrt(var)
            assert abs(r.z_r - want) < 1e-5
        # direction: c ranks above a -> num2 for (a, c) negative
        assert out[("a", "c")].num2 < 0

    def test_all_tied_null(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import dunn_posthoc

        df = spark.createDataFrame(
            [(1.0, "a"), (1.0, "b")], "v double, g string"
        )
        (r,) = dunn_posthoc(df, "v", F.col("g")).collect()
        assert r.z_r is None and r.num2 == 0


class TestNemenyiPosthoc:
    def test_matches_rank_model(self, spark):
        import math

        from unitdb_spark.operators.stats_tests import nemenyi_posthoc

        panel = {
            1: {"x": 10, "y": 20, "z": 30},
            2: {"x": 15, "y": 12, "z": 40},
            3: {"x": 8, "y": 22, "z": 9},
            4: {"x": 5, "y": 11, "z": 12},
        }
        rows = [(b, t, v) for b, tv in panel.items()
                for t, v in tv.items()]
        df = spark.createDataFrame(rows, "b int, t string, v long")
        out = {(r.treat_a, r.treat_b): r
               for r in nemenyi_posthoc(df, "b", "t", "v").collect()}
        ranks = {"x": 0.0, "y": 0.0, "z": 0.0}
        for tv in panel.values():
            order = sorted(tv, key=tv.get)
            for i, t in enumerate(order):
                ranks[t] += i + 1
        n, k = 4, 3
        for (ta, tb), r in out.items():
            diff2 = int(round(2 * (ranks[ta] - ranks[tb])))
            assert r.diff2 == diff2
            want = (diff2 / (2 * n)) / math.sqrt(k * (k + 1) / (6 * n))
            assert abs(r.z_r - want) < 1e-6
        assert set(out) == {("x", "y"), ("x", "z"), ("y", "z")}

    def test_shares_friedman_machinery(self, spark):
        """Rank-sum antisymmetry: diff2(a,b) over the shared ranks
        sums to zero across a three-cycle."""
        from unitdb_spark.operators.stats_tests import nemenyi_posthoc

        rows = [
            (b, t, (b * 7 + ord(t)) % 13)
            for b in range(6) for t in "pqr"
        ]
        df = spark.createDataFrame(rows, "b int, t string, v long")
        out = {(r.treat_a, r.treat_b): r.diff2
               for r in nemenyi_posthoc(df, "b", "t", "v").collect()}
        assert out[("p", "q")] + out[("q", "r")] == out[("p", "r")]


class TestPqDistortion:
    def test_rerank_shortlist_consistency(self, spark):
        """The distortion pairs ARE the coarse top-k: n_pairs = k per
        query, and a perfect codebook (corpus = codebook sample)
        yields zero error on those vectors."""
        from pyspark.sql import functions as F

        from unitdb_spark.operators.pq import pq_distortion_report

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = pq_distortion_report(
            emb, queries, dim=64, k=5, m_blocks=4, k_codes=16
        ).collect()
        assert len(out) == 3
        for r in out:
            assert r.n_pairs == 5
            assert 0 <= r.mean_err_micro <= r.max_err_micro


class TestSimplifiedSilhouette:
    def test_well_separated_near_one(self, spark):
        from unitdb_spark.operators.kmeans import simplified_silhouette

        # two tight orthogonal blobs -> silhouettes near 1
        rows = (
            [(i, [1.0, 0.01 * i]) for i in range(6)]
            + [(10 + i, [0.01 * i, 1.0]) for i in range(6)]
        )
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        out = simplified_silhouette(df, k=2, n_iters=1).collect()
        assert len(out) == 2
        assert sum(r.n_members for r in out) == 12
        for r in out:
            assert r.mean_sil_micro > 800_000
            assert 0 <= r.min_sil_micro <= r.mean_sil_micro <= 1_000_000

    def test_assignment_consistent_with_kmeans(self, spark):
        """The silhouette's cell sizes equal kmeans_lloyd's (same
        centroid loop, two finishes)."""
        from unitdb_spark.operators.kmeans import (
            kmeans_lloyd,
            simplified_silhouette,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        sizes = {
            r.cell: r.cnt
            for r in kmeans_lloyd(emb, k=4, n_iters=1)
            .groupBy("cell").agg(F.count("*").alias("cnt")).collect()
        }
        sil = {r.cell: r.n_members
               for r in simplified_silhouette(emb, k=4, n_iters=1).collect()}
        assert sizes == sil


class TestBurstiness:
    def test_heartbeat_bursty_and_memory(self, spark):
        from datetime import datetime, timedelta

        from unitdb_spark.operators.timeseries import burstiness_report

        t0 = datetime(2024, 1, 1)
        rows = []
        # heartbeat: exact 60s gaps -> sigma = 0 -> B = -1
        for i in range(10):
            rows.append(("beat", t0 + timedelta(seconds=60 * i), i))
        # bursty: clusters of 1s gaps separated by 1h gaps -> B > 0
        t = t0
        for i in range(12):
            t = t + (timedelta(seconds=1) if i % 4 else
                     timedelta(hours=1))
            rows.append(("burst", t, 100 + i))
        # alternating short/long gaps -> M < 0
        t = t0
        for i in range(14):
            t = t + timedelta(seconds=5 if i % 2 else 300)
            rows.append(("alt", t, 200 + i))
        df = spark.createDataFrame(
            rows, "event_type string, ts timestamp, event_id long"
        )
        out = {r.event_type: r
               for r in burstiness_report(df, "event_type").collect()}
        assert out["beat"].b_r == -1.0 and out["beat"].m_r is None
        assert out["beat"].mean_gap_us == 60_000_000
        assert out["burst"].b_r > 0.3
        assert out["alt"].m_r < -0.9

    def test_single_event_no_gap_rows(self, spark):
        from datetime import datetime

        from unitdb_spark.operators.timeseries import burstiness_report

        df = spark.createDataFrame(
            [("solo", datetime(2024, 1, 1), 1)],
            "event_type string, ts timestamp, event_id long",
        )
        assert burstiness_report(df, "event_type").count() == 0


class TestKsExponential:
    def test_exponential_like_small_d(self, spark):
        import math
        import random

        from unitdb_spark.operators.stats_tests import ks_exponential

        rng = random.Random(7)
        vals = [max(1, int(-math.log(rng.random()) * 1000))
                for _ in range(400)]
        df = spark.createDataFrame(
            [("k", v) for v in vals], "g string, v long"
        )
        (r,) = ks_exponential(df, "g", "v").collect()
        assert r.n == 400
        assert r.d_r < 0.08  # true exponential sample fits well

    def test_constant_durations_large_d(self, spark):
        from unitdb_spark.operators.stats_tests import ks_exponential

        df = spark.createDataFrame(
            [("k", 100)] * 50, "g string, v long"
        )
        (r,) = ks_exponential(df, "g", "v").collect()
        # a heartbeat is maximally non-exponential: D -> 1 - 1/e
        assert r.d_r > 0.5
        assert r.mean_dur == 100


class TestGopherReasons:
    def test_breakdown_consistent_with_keep(self, spark):
        import __spark_entry__ as e

        out = e.queries()["doc_gopher_reasons"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        rules = {r.rule for r in out}
        assert rules == {
            "r_alpha", "r_bullets", "r_ellipsis", "r_mean_len",
            "r_stops", "r_symbols", "r_word_count",
        }
        for r in out:
            assert 0 <= r.n_fail <= r.n_docs
            assert r.fail_ppm == (r.n_fail * 1_000_000) // r.n_docs
        # the planted violations guarantee at least one failing rule
        assert any(r.n_fail > 0 for r in out)


class TestHurstRs:
    def test_white_noise_vs_persistent(self, spark):
        import random

        from unitdb_spark.operators.timeseries import hurst_rs

        rng = random.Random(5)
        rows = [("wn", t, rng.randrange(0, 1000)) for t in range(768)]
        acc, rows2 = 0, []
        for t in range(768):
            acc += rng.randrange(0, 9)
            rows2.append(("walk", t, acc))
        df = spark.createDataFrame(rows + rows2, "k string, t long, y long")
        out = {r.k: r for r in hurst_rs(df, "k", "t", "y").collect()}
        # short-window R/S biases white noise high (~0.55-0.6) but the
        # ORDERING is the contract: a cumulative walk reads far higher
        assert 0.5 < out["wn"].h_r < 0.7
        assert out["walk"].h_r > 0.9
        assert out["wn"].n_windows == 48 + 12 + 3

    def test_matches_python_protocol(self, spark):
        import math
        import random

        from unitdb_spark.operators.timeseries import hurst_rs

        rng = random.Random(11)
        ys = [rng.randrange(0, 50) for _ in range(512)]
        df = spark.createDataFrame(
            [("k", t, y) for t, y in enumerate(ys)],
            "k string, t long, y long",
        )
        (r,) = hurst_rs(df, "k", "t", "y").collect()

        def rs_ref(size):
            ls = []
            for s0 in range(0, len(ys) - size + 1, size):
                seg = ys[s0:s0 + size]
                n, tot = len(seg), sum(seg)
                cum, nds = 0, []
                for j, v in enumerate(seg):
                    cum += v
                    nds.append(n * cum - (j + 1) * tot)
                var_n2 = n * sum(v * v for v in seg) - tot * tot
                if var_n2 <= 0:
                    continue
                ls.append(round(math.log2(
                    (max(nds) - min(nds)) / math.sqrt(var_n2)), 6))
            return ls

        pts = []
        for size, lx in [(16, 4), (64, 6), (256, 8)]:
            l2 = rs_ref(size)
            pts.append((lx, sum(l2) / len(l2)))
        m, xsum = 3, sum(p[0] for p in pts)
        den = sum((p[0] * m - xsum) ** 2 for p in pts)
        num = sum((p[0] * m - xsum) * p[1] for p in pts)
        assert abs(r.h_r - num * m / den) < 1e-5

    def test_validation(self, spark):
        import pytest

        from unitdb_spark.operators.timeseries import hurst_rs

        df = spark.createDataFrame([("k", 0, 1)], "k string, t long, y long")
        with pytest.raises(ValueError):
            hurst_rs(df, "k", "t", "y", sizes=(16,))
        with pytest.raises(ValueError):
            hurst_rs(df, "k", "t", "y", sizes=(10, 20))


class TestC4Reasons:
    def test_breakdown_consistent(self, spark):
        import __spark_entry__ as e

        out = e.queries()["doc_c4_reasons"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert {r.rule for r in out} == {
            "r_brace", "r_lorem", "r_min_tokens", "r_policy",
            "r_terminal", "r_word_len",
        }
        for r in out:
            assert 0 <= r.n_fail <= r.n_docs
            assert r.fail_ppm == (r.n_fail * 1_000_000) // r.n_docs
        assert any(r.n_fail > 0 for r in out)  # planted violations


class TestIvWald:
    def test_hand_model(self, spark):
        from unitdb_spark.operators.evaluation import iv_wald

        rows = [
            (1, 1, 100), (1, 1, 200),  # z=1: uptake both, y 100/200
            (0, 0, 50), (0, 1, 150),   # z=0: one uptake, y 50/150
        ]
        df = spark.createDataFrame(rows, "z int, d int, y long")
        (r,) = iv_wald(df, "z", "d", "y").collect()
        assert (r.n_z1, r.n_z0) == (2, 2)
        assert r.itt_y_micro == 150_000_000 - 100_000_000
        assert r.itt_d_ppm == 1_000_000 - 500_000
        # LATE = 50 / 0.5 = 100 (in y units, micro-scaled ratio)
        assert r.wald_r == 100_000_000.0

    def test_weak_instrument_reports_null(self, spark):
        from unitdb_spark.operators.evaluation import iv_wald

        rows = [(1, 1, 10), (0, 1, 20)]  # identical uptake both arms
        df = spark.createDataFrame(rows, "z int, d int, y long")
        (r,) = iv_wald(df, "z", "d", "y").collect()
        assert r.itt_d_ppm == 0 and r.wald_r is None

    def test_empty_arm_reports_null(self, spark):
        from unitdb_spark.operators.evaluation import iv_wald

        df = spark.createDataFrame([(1, 1, 10)], "z int, d int, y long")
        (r,) = iv_wald(df, "z", "d", "y").collect()
        assert r.itt_y_micro is None and r.wald_r is None


class TestCoxScore:
    def test_hand_model(self, spark):
        import math

        from unitdb_spark.operators.survival import cox_score_test

        rows = [
            (1, True, 2),
            (2, True, 0),
            (2, False, 1),
            (3, True, 3),
        ]
        df = spark.createDataFrame(rows, "t long, e boolean, x long")
        (r,) = cox_score_test(df, "t", "e", "x").collect()
        assert (r.n_subjects, r.n_events) == (4, 3)
        # risk sets (desc cum): t=1 n=4 sx=6 sxx=14; t=2 n=3 sx=4
        # sxx=10; t=3 n=1 sx=3 sxx=9
        u = (
            (2_000_000 - (6 * 1_000_000) // 4)
            + (0 - (4 * 1_000_000) // 3)
            + (3_000_000 - (3 * 1_000_000) // 1)
        )
        v = (
            ((14 * 1_000_000) // 4 - (36 * 1_000_000) // 16)
            + ((10 * 1_000_000) // 3 - (16 * 1_000_000) // 9)
            + ((9 * 1_000_000) // 1 - (9 * 1_000_000) // 1)
        )
        assert r.u_micro == u and r.v_micro == v
        want = round((u / 1e6) / math.sqrt(v / 1e6), 6)
        assert r.z_r == want

    def test_constant_covariate_null_z(self, spark):
        from unitdb_spark.operators.survival import cox_score_test

        rows = [(1, True, 5), (2, True, 5), (3, False, 5)]
        df = spark.createDataFrame(rows, "t long, e boolean, x long")
        (r,) = cox_score_test(df, "t", "e", "x").collect()
        assert r.v_micro == 0 and r.z_r is None
        # constant covariate also zeroes the score
        assert r.u_micro == 0

    def test_binary_covariate_matches_hazard_direction(self, spark):
        # x=1 subjects all convert early, x=0 late/censored -> U > 0
        from unitdb_spark.operators.survival import cox_score_test

        rows = [(1, True, 1), (1, True, 1), (9, True, 0), (9, False, 0)]
        df = spark.createDataFrame(rows, "t long, e boolean, x long")
        (r,) = cox_score_test(df, "t", "e", "x").collect()
        assert r.u_micro > 0 and r.z_r > 0


class TestJlDistortion:
    @staticmethod
    def _sign(d, j):
        import hashlib

        h = hashlib.md5(f"jl:{d}:{j}".encode()).hexdigest()
        return 1 - 2 * (int(h[:15], 16) % 2)

    def test_replays_md5_matrix_exactly(self, spark):
        import math

        from unitdb_spark.operators.similarity import jl_distortion_report

        vecs = {
            0: [0.5, -0.25, 0.125, 1.0],
            1: [0.4, -0.5, 0.25, 0.75],
            2: [1.0, 0.0, -1.0, 0.5],
            3: [-0.5, 0.5, 0.5, -0.25],
        }
        df = spark.createDataFrame(
            [(i, v) for i, v in vecs.items()],
            "vec_id long, embedding array<float>",
        )
        k = 3
        (r,) = jl_distortion_report(df, "vec_id", "embedding", k=k).collect()
        # python replica: floor-micro quantization, md5-parity signs
        q = {i: [math.floor(x * 1e6) for x in v] for i, v in vecs.items()}
        ratios = []
        for pair in (0, 1):
            a, b = q[2 * pair], q[2 * pair + 1]
            d2o = sum((x - y) ** 2 for x, y in zip(a, b))
            d2p = 0
            for j in range(k):
                pa = sum(a[d] * self._sign(d, j) for d in range(4))
                pb = sum(b[d] * self._sign(d, j) for d in range(4))
                d2p += (pa - pb) ** 2
            ratios.append((d2p * 1_000_000) // (d2o * k))
        assert r.n_pairs == 2 and r.n_zero_orig == 0
        assert r.min_ratio_ppm == min(ratios)
        assert r.max_ratio_ppm == max(ratios)
        assert r.mean_ratio_ppm == sum(ratios) // 2

    def test_identical_pair_counted_not_divided(self, spark):
        from unitdb_spark.operators.similarity import jl_distortion_report

        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [1.0, 2.0])],
            "vec_id long, embedding array<float>",
        )
        (r,) = jl_distortion_report(df, "vec_id", "embedding", k=4).collect()
        assert r.n_pairs == 0 and r.n_zero_orig == 1
        assert r.mean_ratio_ppm is None


class TestIsotonicCalibration:
    def test_hand_pav_pooling(self, spark):
        from unitdb_spark.operators.evaluation import isotonic_calibration

        # bins 1/2/3 with rates 0.5 / 0.0 / 1.0 -> PAV pools bins 1+2
        # at (1+0)/4 = 0.25 exactly (micro multiple -> minimax == PAV)
        rows = []
        rows += [(0.0011, True), (0.0011, False)]
        rows += [(0.0021, False), (0.0021, False)]
        rows += [(0.0031, True), (0.0031, True)]
        df = spark.createDataFrame(rows, "score double, y boolean")
        out = {
            r.bin: r
            for r in isotonic_calibration(df, "score", "y").collect()
        }
        assert sorted(out) == [1, 2, 3]
        assert out[1].rate_ppm == 500_000 and out[2].rate_ppm == 0
        assert out[1].iso_ppm == 250_000
        assert out[2].iso_ppm == 250_000
        assert out[3].iso_ppm == 1_000_000

    def test_monotone_and_bounded(self, spark):
        from unitdb_spark.operators.evaluation import isotonic_calibration

        rows = [
            (((i * 37) % 100) / 100.0 + 0.0005, (i * 13) % 3 == 0)
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "score double, y boolean")
        out = isotonic_calibration(df, "score", "y").collect()
        out.sort(key=lambda r: r.bin)
        isos = [r.iso_ppm for r in out]
        assert all(a <= b for a, b in zip(isos, isos[1:]))
        assert all(0 <= v <= 1_000_000 for v in isos)
        # already-monotone input passes through: n weights respected
        assert sum(r.n for r in out) == 200

    def test_already_monotone_is_identity(self, spark):
        from unitdb_spark.operators.evaluation import isotonic_calibration

        rows = []
        rows += [(0.0015, False)] * 4
        rows += [(0.0025, True), (0.0025, False)]
        rows += [(0.0035, True)] * 3
        df = spark.createDataFrame(rows, "score double, y boolean")
        out = {
            r.bin: r
            for r in isotonic_calibration(df, "score", "y").collect()
        }
        for b in out:
            assert out[b].iso_ppm == out[b].rate_ppm


class TestRunningRecords:
    def test_hand_model(self, spark):
        from unitdb_spark.operators.timeseries import running_records

        rows = [
            ("a", 1, 1, 10), ("a", 2, 2, 7), ("a", 3, 3, 12),
            ("a", 4, 4, 12), ("a", 5, 5, 15),
            ("b", 6, 1, 5), ("b", 7, 2, 4),
        ]
        df = spark.createDataFrame(
            rows, "k string, id long, t long, v long"
        )
        out = running_records(
            df, "k", F.timestamp_seconds(F.col("t")), "id", "v"
        ).collect()
        got = sorted((r.key, r.id, r.value, r.record_no) for r in out)
        # a: 10 (rec 1), 12 (rec 2), 15 (rec 3); tie 12 is NOT a record
        # b: 5 (rec 1)
        assert got == [
            ("a", 1, 10, 1), ("a", 3, 12, 2), ("a", 5, 15, 3),
            ("b", 6, 5, 1),
        ]

    def test_null_values_dropped(self, spark):
        from unitdb_spark.operators.timeseries import running_records

        rows = [("a", 1, 1, None), ("a", 2, 2, 3)]
        df = spark.createDataFrame(
            rows, "k string, id long, t long, v long"
        )
        out = running_records(
            df, "k", F.timestamp_seconds(F.col("t")), "id", "v"
        ).collect()
        assert [(r.id, r.record_no) for r in out] == [(2, 1)]


class TestDunnHolm:
    def test_norm_ppf_matches_injected_design_points(self):
        from unitdb_spark.operators.stats_tests import norm_ppf

        # the evaluation.py _Z design-point table, re-derived
        assert round(norm_ppf(0.975), 6) == 1.959964
        assert round(norm_ppf(0.95), 6) == 1.644854
        assert round(norm_ppf(0.8), 6) == 0.841621
        assert round(norm_ppf(0.9), 6) == 1.281552
        # symmetry and tails
        assert round(norm_ppf(0.025), 6) == -1.959964
        assert round(norm_ppf(1 - 0.025 / 10), 6) == 2.807034

    def test_stepdown_invariants_and_separated_groups(self, spark):
        from unitdb_spark.operators.stats_tests import dunn_holm

        rows = (
            [(float(i), "a") for i in range(1, 21)]
            + [(float(100 + i), "b") for i in range(1, 21)]
            + [(float(200 + i), "c") for i in range(1, 21)]
        )
        df = spark.createDataFrame(rows, "x double, g string")
        out = dunn_holm(df, "x", F.col("g")).collect()
        out.sort(key=lambda r: r.rank)
        assert [r.rank for r in out] == [1, 2, 3]
        # thresholds non-increasing down the ranking (c = m-i+1 shrinks)
        thrs = [r.thr_r for r in out]
        assert all(a >= b for a, b in zip(thrs, thrs[1:]))
        # rejection is a prefix, and every rejection clears its bar
        rejs = [r.reject for r in out]
        assert all(a or not b for a, b in zip(rejs, rejs[1:]))
        for r in out:
            if r.reject:
                assert abs(r.z_r) >= r.thr_r
        # fully separated groups: the extreme pair must reject
        assert out[0].reject and {out[0].group_a, out[0].group_b} == {
            "a", "c"
        }


class TestTost:
    def test_equivalent_and_not(self, spark):
        import math

        from unitdb_spark.operators.stats_tests import tost_equivalence

        # arms nearly identical, tight spread -> equivalent at margin 5
        a = [100 + (i % 3) for i in range(40)]
        b = [101 + (i % 3) for i in range(40)]
        rows = [(v, 0) for v in a] + [(v, 1) for v in b]
        df = spark.createDataFrame(rows, "v long, arm int")
        (r,) = tost_equivalence(df, "v", "arm", margin=5.0).collect()
        assert r.equivalent is True
        # hand-check the Welch z's
        na, nb = len(a), len(b)
        va = (na * sum(x * x for x in a) - sum(a) ** 2) / (na * (na - 1))
        vb = (nb * sum(x * x for x in b) - sum(b) ** 2) / (nb * (nb - 1))
        diff = sum(a) / na - sum(b) / nb
        se = math.sqrt(va / na + vb / nb)
        assert r.z_low_r == round((diff + 5.0) / se, 6)
        assert r.z_high_r == round((5.0 - diff) / se, 6)
        # a real gap larger than the margin -> NOT equivalent
        rows2 = [(v, 0) for v in a] + [(v + 50, 1) for v in b]
        df2 = spark.createDataFrame(rows2, "v long, arm int")
        (r2,) = tost_equivalence(df2, "v", "arm", margin=5.0).collect()
        assert r2.equivalent is False

    def test_underpowered_is_not_equivalent(self, spark):
        from unitdb_spark.operators.stats_tests import tost_equivalence

        # same means but huge spread, tiny n: plain A/B would say
        # "not significant"; TOST refuses to call it equivalent
        rows = [(0, 0), (1000, 0), (10, 1), (990, 1)]
        df = spark.createDataFrame(rows, "v long, arm int")
        (r,) = tost_equivalence(df, "v", "arm", margin=5.0).collect()
        assert r.equivalent is False


class TestCaptureRecapture:
    def test_chapman_estimate(self, spark):
        import __spark_entry__ as e

        out = e.queries()["events_capture_recapture"](
            spark, "/root/testdata/sf0.001"
        ).collect()[0]
        # estimator basics: n_hat >= observed union is not guaranteed,
        # but n_hat >= max(n1, n2) and the Chapman formula holds
        assert out.n_hat == (out.n1 + 1) * (out.n2 + 1) // (out.m + 1) - 1
        assert out.n_union == out.n1 + out.n2 - out.m
        assert out.m > 0  # the two day-parities genuinely overlap


class TestGoodTuring:
    def test_hand_corpus(self, spark):
        from unitdb_spark.operators.tfidf import good_turing_table

        df = spark.createDataFrame(
            [(1, "a a a b b c d")], "doc_id long, text string"
        )
        out = {r.r: r for r in good_turing_table(df).collect()}
        # spectrum: N1=2 (c,d), N2=1 (b), N3=1 (a)
        assert sorted(out) == [1, 2, 3]
        assert out[1].n_types == 2
        assert out[1].r_star_ppm == 2 * 1 * 1_000_000 // 2   # (r+1)N2/N1
        assert out[2].r_star_ppm == 3 * 1 * 1_000_000 // 1
        assert out[3].r_star_ppm == 0                         # gap: N4=0
        r = out[1]
        assert (r.n_total_types, r.n_total_tokens) == (4, 7)
        assert r.p0_ppm == 2 * 1_000_000 // 7

    def test_no_singletons_p0_zero(self, spark):
        from unitdb_spark.operators.tfidf import good_turing_table

        df = spark.createDataFrame(
            [(1, "x x y y")], "doc_id long, text string"
        )
        out = good_turing_table(df).collect()
        assert len(out) == 1 and out[0].r == 2
        assert out[0].p0_ppm == 0


class TestMattr:
    def test_hand_windows(self, spark):
        from unitdb_spark.operators.tfidf import mattr

        # 5 tokens, window 3 -> 3 windows: [a b a]=2 [b a b]=2 [a b c]=3
        rows = [(1, "a b a b c"), (2, "x y"), (3, "")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in mattr(df, window=3).collect()}
        assert out[1].n_windows == 3
        assert out[1].mattr_ppm == 7 * 1_000_000 // (3 * 3)
        # short doc: one whole-doc window = plain TTR
        assert out[2].n_windows == 1
        assert out[2].mattr_ppm == 2 * 1_000_000 // 2
        # empty doc: row kept with NULLs
        assert out[3].n_tokens == 0 and out[3].mattr_ppm is None

    def test_mattr_is_length_stable_where_ttr_is_not(self, spark):
        from unitdb_spark.operators.tfidf import mattr

        base = "the quick brown fox jumps over a lazy dog now"
        rows = [(1, base), (2, " ".join([base] * 20))]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r.mattr_ppm for r in mattr(df, window=10).collect()}
        # the repeated doc keeps the same per-window diversity
        assert out[2] == out[1]


class TestLrTrain:
    @staticmethod
    def _py_model(rows, steps=3, lr=(1, 2)):
        import math

        d = len(rows[0]) - 1
        w = [0] * d
        n = len(rows)
        for _ in range(steps):
            G = [0] * d
            for r in rows:
                xs, y = r[:d], r[d]
                z = sum(wj * xj for wj, xj in zip(w, xs)) // 1000
                p = round(1_000_000.0 / (1.0 + math.exp(-(float(z) / 1e6))))
                for j in range(d):
                    G[j] += ((p - y) * xs[j]) // 1000
            for j in range(d):
                w[j] -= (lr[0] * G[j]) // (lr[1] * n)
        return w

    def test_matches_python_recurrence(self, spark):
        from unitdb_spark.operators.classify import lr_train

        rows = [
            (1000, 900, 300, 1, 1_000_000),
            (1000, 100, 800, 0, 0),
            (1000, 950, 250, 1, 1_000_000),
            (1000, 50, 900, 1, 0),
            (1000, 500, 500, 0, 1_000_000),
        ]
        df = spark.createDataFrame(
            rows, "x1 long, x2 long, x3 long, x4 long, y long"
        )
        got = {r.feature: r.weight_micro for r in lr_train(
            df, ["x1", "x2", "x3", "x4"], "y", steps=3
        ).collect()}
        want = self._py_model(rows)
        assert got == {f"x{j + 1}": want[j] for j in range(4)}

    def test_learns_the_separating_direction(self, spark):
        from unitdb_spark.operators.classify import lr_train

        rows = [(1000, 1000, 1_000_000)] * 10 + [(1000, 0, 0)] * 10
        df = spark.createDataFrame(rows, "x1 long, x2 long, y long")
        got = {r.feature: r.weight_micro for r in lr_train(
            df, ["x1", "x2"], "y", steps=3
        ).collect()}
        assert got["x2"] > 0  # the discriminating feature gains weight
        assert abs(got["x1"]) < got["x2"]  # balanced labels: small bias


class TestThresholdTransfer:
    def test_picks_on_one_split_scores_the_other(self, spark):
        from unitdb_spark.operators.evaluation import threshold_transfer

        rows = [
            # train: best F1 at threshold 0.7 (tp=2 fp=1 fn=0)
            (0.9, True, "train"), (0.8, False, "train"),
            (0.7, True, "train"), (0.6, False, "train"),
            # test: at thr 700000 -> tp=1 fp=1 fn=1 tn=1
            (0.9, True, "test"), (0.7, False, "test"),
            (0.6, True, "test"), (0.5, False, "test"),
        ]
        df = spark.createDataFrame(rows, "s double, y boolean, split string")
        (r,) = threshold_transfer(df, "s", "y", "split").collect()
        assert r.thr_micro == 700000
        assert (r.tp, r.fp, r.fn, r.tn) == (1, 1, 1, 1)
        assert r.precision_ppm == 500_000
        assert r.recall_ppm == 500_000
        assert r.f1_pico == 2 * 10**12 // 4

    def test_empty_pick_split_yields_no_rows(self, spark):
        from unitdb_spark.operators.evaluation import threshold_transfer

        df = spark.createDataFrame(
            [(0.5, True, "test")], "s double, y boolean, split string"
        )
        assert threshold_transfer(df, "s", "y", "split").count() == 0


class TestFdAudit:
    def test_holds_violations_and_null_semantics(self, spark):
        from unitdb_spark.operators.profile import fd_audit

        rows = [
            (1, "a", 10), (1, "a", 10),      # duplicates collapse
            (2, "b", 20), (2, "b", 21),      # id -> v violated
            (3, None, 30), (3, None, 31),    # NULL rhs is a value
            (None, "c", 40),                 # NULL lhs is a key
        ]
        df = spark.createDataFrame(rows, "id int, s string, v int")
        out = {(r.lhs, r.rhs): r for r in fd_audit(
            df, [("id", "s"), ("id", "v"), ("s", "id")]
        ).collect()}
        a = out[("id", "s")]
        # keys 1,2,3,NULL each map to exactly one s
        assert (a.n_keys, a.n_violating, a.holds) == (4, 0, True)
        b = out[("id", "v")]
        # key 2 sees {20,21}, key 3 sees {30,31}
        assert (b.n_violating, b.max_rhs_per_key, b.holds) == (2, 2, False)
        c = out[("s", "id")]
        assert c.holds  # every s (incl. NULL) maps to one id


class TestAndersonDarling:
    @staticmethod
    def _model(vals):
        import math

        n, s = len(vals), sum(vals)
        per = {}
        for v in vals:
            per[v] = per.get(v, 0) + 1
        below, total = {}, 0
        for v in sorted(per):
            below[v] = total
            total += per[v]
        acc = 0
        for v, t in per.items():
            b = below[v]
            u = float(v) * float(n) / float(s)
            coef_a = t * (2 * b + t)
            coef_b = t * (2 * n - 2 * b - t)
            e_nano = round(math.exp(-u) * 1e9)
            u_nano = round(u * 1e9)
            lnf_nano = round(
                math.log(max(float(1_000_000_000 - e_nano), 1.0) / 1e9) * 1e9
            )
            acc += coef_a * lnf_nano - coef_b * u_nano
        return round(-float(n) - (float(acc) / 1e9) / float(n), 6)

    def test_matches_python_model(self, spark):
        from unitdb_spark.operators.stats_tests import ad_exponential

        vals = [3, 1, 7, 1, 2, 15, 4, 2, 9, 1, 30, 5]
        df = spark.createDataFrame(
            [("k", v) for v in vals], "k string, v long"
        )
        (r,) = ad_exponential(df, "k", "v").collect()
        assert r.n == len(vals)
        assert r.mean_dur == sum(vals) // len(vals)
        assert r.a2_r == self._model(vals)

    def test_constant_gaps_score_far_worse_than_exponential(self, spark):
        import math

        from unitdb_spark.operators.stats_tests import ad_exponential

        # quantized exponential sample (inverse-CDF grid) vs constant
        exp_vals = [
            max(1, int(-1000 * math.log(1 - (i + 0.5) / 64)))
            for i in range(64)
        ]
        rows = [("exp", v) for v in exp_vals] + [("const", 1000)] * 64
        df = spark.createDataFrame(rows, "k string, v long")
        out = {r.k: r.a2_r for r in ad_exponential(df, "k", "v").collect()}
        assert out["exp"] < 1.0          # comfortably exponential
        assert out["const"] > out["exp"] * 5  # degenerate tail blows up


class TestMisraGries:
    def test_hand_model_two_days(self, spark):
        from unitdb_spark.operators.sketch import mg_merge, mg_summary

        rows = [
            ("d1", "a", 5), ("d1", "b", 3), ("d1", "c", 2),
            ("d2", "b", 4), ("d2", "c", 3), ("d2", "d", 1),
        ]
        df = spark.createDataFrame(rows, "p string, i string, c long")
        sk = {(r.part, r.item): r.counter
              for r in mg_summary(df, "p", "i", "c", k=2).collect()}
        # d1 pivot = 2 -> a:3, b:1 (c drops); d2 pivot = 1 -> b:3, c:2
        assert sk == {("d1", "a"): 3, ("d1", "b"): 1,
                      ("d2", "b"): 3, ("d2", "c"): 2}
        merged = {r.item: r.mg_est for r in mg_merge(
            mg_summary(df, "p", "i", "c", k=2), k=2
        ).collect()}
        # sums a:3, b:4, c:2 -> pivot = 2 -> a:1, b:2
        assert merged == {"a": 1, "b": 2}

    def test_merge_keeps_agarwal_guarantee(self, spark):
        from unitdb_spark.operators.sketch import mg_merge, mg_summary

        # deterministic skewed counts over 3 parts and 40 items
        rows = []
        for p in range(3):
            for i in range(40):
                c = 1 + (i * 7 + p * 13) % 9 + (50 if i % 17 == 0 else 0)
                rows.append((str(p), f"i{i}", c))
        df = spark.createDataFrame(rows, "p string, i string, c long")
        k = 8
        est = {r.item: r.mg_est for r in mg_merge(
            mg_summary(df, "p", "i", "c", k=k), k=k
        ).collect()}
        assert 0 < len(est) <= k
        exact = {}
        for _, i, c in rows:
            exact[i] = exact.get(i, 0) + c
        n = sum(exact.values())
        for item, e in est.items():
            assert e <= exact[item]
            assert (exact[item] - e) * (k + 1) <= n
        # the single global heavy hitters must survive the merge
        top = sorted(exact, key=lambda i: -exact[i])[:2]
        assert set(top) <= set(est)


class TestEffectSize:
    def test_hand_model(self, spark):
        import math

        from unitdb_spark.operators.evaluation import effect_size_report

        a = [10, 12, 14, 16]          # arm 0 (treatment)
        b = [9, 11, 13, 15, 17]       # arm 1 (control)
        rows = [(v, 0) for v in a] + [(v, 1) for v in b]
        df = spark.createDataFrame(rows, "v long, arm int")
        (r,) = effect_size_report(df, "v", "arm").collect()
        na, nb = len(a), len(b)
        sa, sb = sum(a), sum(b)
        ssa, ssb = sum(x * x for x in a), sum(x * x for x in b)
        A_a = (na * ssa - sa * sa) / na
        A_b = (nb * ssb - sb * sb) / nb
        md = sa / na - sb / nb
        nu = na + nb - 2
        d = md / math.sqrt((A_a + A_b) / nu)
        assert (r.n_a, r.n_b) == (na, nb)
        assert r.mean_a_r == round(sa / na, 6)
        assert r.d_r == round(d, 6)
        assert r.g_r == round((1 - 3 / (4 * nu - 1)) * d, 6)
        assert r.glass_r == round(md / math.sqrt(A_b / (nb - 1)), 6)

    def test_degenerate_arms_null(self, spark):
        from unitdb_spark.operators.evaluation import effect_size_report

        df = spark.createDataFrame([(5, 0), (7, 1)], "v long, arm int")
        (r,) = effect_size_report(df, "v", "arm").collect()
        assert r.d_r is None and r.g_r is None and r.glass_r is None


class TestCroston:
    def test_hand_model(self, spark):
        from unitdb_spark.operators.timeseries import croston_forecast

        # demands (cents) at weeks 0, 3, 4 -> gaps 1, 3, 1; zero and
        # null cells ignored; frame n=8 covers all three
        rows = [
            ("p", 0, 500), ("p", 1, 0), ("p", 3, 200), ("p", 4, 700),
            ("q", 2, 300),
        ]
        df = spark.createDataFrame(rows, "k string, w long, d long")
        out = {r.k: r for r in croston_forecast(
            df, "k", "w", "d", n=8, unit_scale=100.0
        ).collect()}
        p = out["p"]
        # dyadic weights oldest->newest = 1,2,4; denom = 7
        zn = 500 * 1 + 200 * 2 + 700 * 4
        pn = 1 * 1 + 3 * 2 + 1 * 4
        assert p.m == 3
        assert p.z_r == round((zn / 7) / 100.0, 6)
        assert p.p_r == round(pn / 7, 6)
        assert p.croston_r == round((zn / pn) / 100.0, 6)
        # a single demand: size smoother = the size, interval = 1
        q = out["q"]
        assert (q.m, q.z_r, q.p_r, q.croston_r) == (1, 3.0, 1.0, 3.0)

    def test_frame_bounds_last_n(self, spark):
        from unitdb_spark.operators.timeseries import croston_forecast

        rows = [("k", w, 100) for w in range(12)]
        df = spark.createDataFrame(rows, "k string, w long, d long")
        (r,) = croston_forecast(df, "k", "w", "d", n=4).collect()
        # steady unit-gap demand: both smoothers flat regardless of frame
        assert r.m == 4 and r.p_r == 1.0 and r.croston_r == 100.0


class TestPacf:
    def test_steps_match_python_recursion(self, spark):
        """The SQL step chain evaluates to the textbook Durbin-
        Levinson on arbitrary rho inputs (checked via a Spark
        projection so the shared text is what's exercised)."""
        from unitdb_spark.operators.stats_tests import durbin_levinson_steps

        rho = {1: 0.6, 2: 0.3, 3: 0.1, 4: -0.05}
        df = spark.createDataFrame(
            [tuple(rho[k] for k in range(1, 5))], "r1 double, r2 double, r3 double, r4 double"
        )
        for name, expr in durbin_levinson_steps(4):
            df = df.withColumn(name, F.expr(expr))
        row = df.collect()[0]
        # python model
        phi = {(1, 1): rho[1]}
        for k in range(2, 5):
            num = rho[k] - sum(phi[(k - 1, j)] * rho[k - j] for j in range(1, k))
            den = 1 - sum(phi[(k - 1, j)] * rho[j] for j in range(1, k))
            phi[(k, k)] = num / den
            for j in range(1, k):
                phi[(k, j)] = phi[(k - 1, j)] - phi[(k, k)] * phi[(k - 1, k - j)]
        for (k, j), v in phi.items():
            assert abs(row[f"phi_{k}_{j}"] - v) < 1e-12

    def test_ar1_signature_on_fixture(self, spark):
        """PACF lag 1 equals the quantized ACF's own r1; for an
        exactly periodic counting series the chain stays defined."""
        import datetime as dt

        from unitdb_spark.operators.stats_tests import acf_table, pacf_table

        # hourly event counts with a strong lag-1 pattern: n events in
        # hour h where n follows a smooth cycle
        rows = []
        eid = 0
        for h in range(48):
            for _ in range(3 + (h % 4)):
                rows.append((eid, "k", dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)))
                eid += 1
        df = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
        acf = {r.lag: r.rho_ppm for r in acf_table(df, "event_type", lags=4).collect()}
        pacf = {r.lag: r.pacf_r for r in pacf_table(df, "event_type", lags=4).collect()}
        assert set(pacf) == {1, 2, 3, 4}
        assert pacf[1] == round(acf[1] / 1e6, 6)
        assert all(v is not None for v in pacf.values())


class TestDunnBH:
    def test_stepup_invariants_and_holm_superset(self, spark):
        from unitdb_spark.operators.stats_tests import dunn_bh, dunn_holm

        # three separated groups + one overlapping with "a": mixed
        # reject/accept so the step-up cut is exercised
        rows = (
            [(float(i), "a") for i in range(1, 21)]
            + [(float(100 + i), "b") for i in range(1, 21)]
            + [(float(200 + i), "c") for i in range(1, 21)]
            + [(float(i) + 0.5, "d") for i in range(1, 21)]
        )
        df = spark.createDataFrame(rows, "x double, g string")
        out = dunn_bh(df, "x", F.col("g")).collect()
        out.sort(key=lambda r: r.rank)
        assert [r.rank for r in out] == list(range(1, 7))
        # BH bars RISE down the ranking (thr(i,m) grows as i*q/m grows
        # means the tail prob shrinks -> z threshold FALLS): thr is
        # non-increasing in rank
        thrs = [r.thr_r for r in out]
        assert all(a >= b for a, b in zip(thrs, thrs[1:]))
        # step-up: rejection is a prefix of the ranking
        rejs = [r.reject for r in out]
        assert all(a or not b for a, b in zip(rejs, rejs[1:]))
        # the last rejected rank clears its own bar (the cut's anchor)
        last = max((r.rank for r in out if r.reject), default=0)
        if last:
            anchor = next(r for r in out if r.rank == last)
            assert abs(anchor.z_r) >= anchor.thr_r
        # fully separated extreme pair must reject
        assert out[0].reject
        # BH rejections are a superset of Holm's at the same level
        holm = {
            (r.group_a, r.group_b)
            for r in dunn_holm(df, "x", F.col("g")).collect()
            if r.reject
        }
        bh = {(r.group_a, r.group_b) for r in out if r.reject}
        assert holm <= bh

    def test_bh_table_matches_direct_ppf(self):
        from unitdb_spark.operators.stats_tests import norm_ppf

        # spot design points of the injected (rank, m) table
        assert round(norm_ppf(1 - 1 * 0.05 / (2 * 1)), 6) == 1.959964
        assert round(norm_ppf(1 - 3 * 0.05 / (2 * 3)), 6) == 1.959964
        # rank m always tests at the uncorrected two-sided bar
        for m in (2, 6, 45):
            assert round(norm_ppf(1 - m * 0.05 / (2 * m)), 6) == 1.959964


class TestThresholdMetrics:
    # scores 0.9/0.8/0.7/0.6 with labels T/F/T/F — every quadrant
    # exercised, hand-checkable at each of the 4 thresholds
    ROWS = [(0.9, True), (0.8, False), (0.7, True), (0.6, False)]

    def _df(self, spark):
        return spark.createDataFrame(self.ROWS, "s double, y boolean")

    def test_confusion_table_hand_model(self, spark):
        from unitdb_spark.operators.evaluation import threshold_metrics

        out = {
            r.score_micro: r
            for r in threshold_metrics(self._df(spark), "s", "y").collect()
        }
        assert sorted(out) == [600000, 700000, 800000, 900000]
        top = out[900000]
        assert (top.tp, top.fp, top.fn, top.tn) == (1, 0, 1, 2)
        assert top.precision_ppm == 1_000_000
        assert top.recall_ppm == 500_000
        assert top.fpr_ppm == 0
        assert top.f1_pico == 2 * 10**12 // 3
        bot = out[600000]
        assert (bot.tp, bot.fp, bot.fn, bot.tn) == (2, 2, 0, 0)
        assert bot.recall_ppm == 1_000_000 and bot.fpr_ppm == 1_000_000

    def test_best_f1_and_mcc(self, spark):
        import math

        from unitdb_spark.operators.evaluation import best_threshold_report

        r = best_threshold_report(self._df(spark), "s", "y").collect()
        assert len(r) == 1
        r = r[0]
        # best F1: threshold 0.7 -> tp=2 fp=1 fn=0 tn=1, F1 = 4/5
        assert r.score_micro == 700000
        assert (r.tp, r.fp, r.fn, r.tn) == (2, 1, 0, 1)
        assert r.f1_pico == 4 * 10**12 // 5
        assert r.acc_ppm == 750_000
        assert r.mcc_r == round((2 * 1 - 1 * 0) / math.sqrt(3 * 2 * 2 * 1), 6)

    def test_average_precision_hand_model(self, spark):
        from unitdb_spark.operators.evaluation import average_precision

        r = average_precision(self._df(spark), "s", "y").collect()[0]
        assert (r.n_pos, r.n_neg) == (2, 2)
        # terms: t=0.9 -> (1/2)(1/1); t=0.8 -> 0; t=0.7 -> (1/2)(2/3);
        # t=0.6 -> 0  ==> AP = 1/2 + 1/3
        assert r.ap_pico == 10**12 // 2 + (2 * 10**12) // 6
        assert r.prevalence_ppm == 500_000

    def test_degenerate_single_class(self, spark):
        from unitdb_spark.operators.evaluation import (
            average_precision,
            best_threshold_report,
        )

        df = spark.createDataFrame(
            [(0.5, True), (0.4, True)], "s double, y boolean"
        )
        bt = best_threshold_report(df, "s", "y").collect()[0]
        assert bt.mcc_r is None  # empty negative margins
        ap = average_precision(df, "s", "y").collect()[0]
        assert ap.ap_pico == 2 * 10**12 // 2  # perfect by vacuity
        assert ap.prevalence_ppm == 1_000_000


class TestYuen:
    def test_hand_model_with_ties_and_outlier(self, spark):
        import math

        from unitdb_spark.operators.stats_tests import yuen_trimmed_test

        # arm 0: n=5, g=1 -> trim min & max (the 1e6 outlier dies)
        a = [10, 20, 20, 30, 1_000_000]
        b = [15, 25, 25, 35, 45]
        rows = [(v, 0) for v in a] + [(v, 1) for v in b]
        df = spark.createDataFrame(rows, "v long, arm int")
        (r,) = yuen_trimmed_test(df, "v", "arm", trim=(1, 5)).collect()

        def model(vals):
            n = len(vals)
            g = n // 5
            s = sorted(vals)
            mid = s[g: n - g]
            lo, hi = s[g], s[n - g - 1]
            win = [lo] * g + mid + [hi] * g
            w1, w2 = sum(win), sum(x * x for x in win)
            h = n - 2 * g
            dk = (n * w2 - w1 * w1) / (n * h * (h - 1))
            return sum(mid), h, dk

        tsa, ha, da = model(a)
        tsb, hb, db = model(b)
        assert (r.h_a, r.h_b) == (ha, hb)
        assert r.tmean_a_r == round(tsa / ha, 6)
        assert r.tmean_b_r == round(tsb / hb, 6)
        assert r.t_r == round(
            (tsa / ha - tsb / hb) / math.sqrt(da + db), 6
        )
        # the outlier was trimmed: robust means are ~comparable
        assert abs(r.tmean_a_r - 23.333333) < 1e-6

    def test_outlier_immunity_vs_plain_mean(self, spark):
        from unitdb_spark.operators.stats_tests import yuen_trimmed_test

        base = list(range(100, 160))
        rows = [(v, 0) for v in base] + [(v, 1) for v in base]
        rows += [(10_000_000, 0)] * 2  # arm-0 whales
        df = spark.createDataFrame(rows, "v long, arm int")
        (r,) = yuen_trimmed_test(df, "v", "arm", trim=(1, 5)).collect()
        # identical cores: the trimmed verdict stays near zero
        assert abs(r.t_r) < 2.0


class TestNelsonAalen:
    def test_hand_model(self, spark):
        import math

        from unitdb_spark.operators.survival import nelson_aalen

        rows = [(1, True), (2, True), (2, False), (3, True)]
        df = spark.createDataFrame(rows, "t long, e boolean")
        out = {r.t_day: r for r in nelson_aalen(df, "t", "e").collect()}
        assert sorted(out) == [1, 2, 3]
        # t=1: n=4 d=1 -> h = 1e12//4; v = 1e12//16
        assert out[1].hazard_e12 == 10**12 // 4
        assert out[1].var_e12 == 10**12 // 16
        # t=2: n=3 d=1 -> +1e12//3, +1e12//9
        assert out[2].hazard_e12 == 10**12 // 4 + 10**12 // 3
        assert out[2].var_e12 == 10**12 // 16 + 10**12 // 9
        # t=3: n=1 d=1 -> +1e12 (exhaustion is fine for a SUM)
        assert out[3].hazard_e12 == out[2].hazard_e12 + 10**12
        assert out[3].se_r == round(
            math.sqrt((out[3].var_e12) / 1e12), 6
        )
        # monotone increasing hazard, n_risk strictly decreasing
        assert out[1].n_risk > out[2].n_risk > out[3].n_risk


class TestKmGreenwood:
    def test_hand_model_with_exhaustion(self, spark):
        import math

        from unitdb_spark.operators.survival import km_greenwood

        rows = [(1, True), (2, True), (2, False), (3, True)]
        df = spark.createDataFrame(rows, "t long, e boolean")
        out = {r.t_day: r for r in km_greenwood(df, "t", "e").collect()}
        assert sorted(out) == [1, 2, 3]
        # step 1: n=4 d=1 -> s=0.75, g=1e12//12
        assert out[1].surv_e12 == 750_000_000_000
        assert out[1].g_e12 == 10**12 // 12
        assert out[1].se_r == round(
            0.75 * math.sqrt((10**12 // 12) / 1e12), 6
        )
        # step 2: n=3 d=1 -> s=0.5, g += 1e12//6
        assert out[2].surv_e12 == 500_000_000_000
        assert out[2].g_e12 == 10**12 // 12 + 10**12 // 6
        # step 3 exhausts the risk set (n=d=1): s=0, greenwood NULL
        assert out[3].surv_e12 == 0
        assert out[3].g_e12 is None and out[3].se_r is None

    def test_matches_kaplan_meier_on_shared_columns(self, spark):
        from unitdb_spark.operators.survival import (
            kaplan_meier,
            km_greenwood,
        )

        rows = [
            (i % 7 + 1, (i * 3) % 4 != 0) for i in range(40)
        ]
        df = spark.createDataFrame(rows, "t long, e boolean")
        a = sorted(
            (r.t_day, r.n_risk, r.d, r.c, r.surv_e12)
            for r in kaplan_meier(df, "t", "e").collect()
        )
        b = sorted(
            (r.t_day, r.n_risk, r.d, r.c, r.surv_e12)
            for r in km_greenwood(df, "t", "e").collect()
        )
        assert a == b


class TestQqNormal:
    def test_points_and_line_on_exact_normal_grid(self, spark):
        # feed the z grid itself (scaled) as data: sample quantiles
        # then sit ON the line value = 100*z + 5000 exactly at each
        # grid point, so slope ~ 100, intercept ~ 5000
        from unitdb_spark.operators.stats_tests import norm_ppf, qq_normal

        zs = [int(round(norm_ppf(k / 20) * 1_000_000)) for k in range(1, 20)]
        vals = [100 * z // 1_000_000 + 5000 for z in zs]
        df = spark.createDataFrame([(v,) for v in vals], "x long")
        out = qq_normal(df, "x", n_points=19).collect()
        out.sort(key=lambda r: r.k)
        assert [r.k for r in out] == list(range(1, 20))
        assert [r.z_micro for r in out] == zs
        # symmetric grid: median point = middle value
        assert out[9].z_micro == 0 and out[9].sample_q == vals[9]
        # the fitted line recovers the construction (floor noise < 1)
        assert abs(out[0].slope_r - 100.0) < 1.0
        assert abs(out[0].intercept_r - 5000.0) < 1.0
        # line columns identical on every row
        assert len({(r.slope_r, r.intercept_r) for r in out}) == 1

    def test_order_statistic_is_lower_exact(self, spark):
        from unitdb_spark.operators.stats_tests import qq_normal

        # n = 4 values: rank(k) = ceil(4k/20); k=1..5 -> rank 1, etc.
        df = spark.createDataFrame([(10,), (20,), (30,), (40,)], "x long")
        out = {r.k: r.sample_q for r in qq_normal(df, "x").collect()}
        assert out[1] == 10 and out[5] == 10
        assert out[6] == 20 and out[10] == 20
        assert out[19] == 40


class TestHillTailIndex:
    def test_exact_pareto_recovers_alpha(self, spark):
        # x_(i) = xmin * (n/i)^(1/alpha) is the exact Pareto quantile
        # skeleton: Hill over it returns ~alpha
        alpha = 2.0
        n = 300
        vals = [
            (int(1_000_000 * (n / i) ** (1 / alpha)), i)
            for i in range(1, n + 1)
        ]
        df = spark.createDataFrame(vals, "v long, id long")
        from unitdb_spark.operators.olap import hill_tail_index

        (r,) = hill_tail_index(df, "v", "id", k=100).collect()
        assert r.n == n and r.k == 100
        assert r.denom_e6 > 0
        assert abs(r.alpha_r - alpha) < 0.1

    def test_too_few_rows_reports_null(self, spark):
        from unitdb_spark.operators.olap import hill_tail_index

        df = spark.createDataFrame(
            [(10 * i + 1, i) for i in range(1, 50)], "v long, id long"
        )
        (r,) = hill_tail_index(df, "v", "id", k=100).collect()
        assert r.denom_e6 is None and r.alpha_r is None

    def test_flat_tail_reports_null(self, spark):
        from unitdb_spark.operators.olap import hill_tail_index

        df = spark.createDataFrame(
            [(7, i) for i in range(1, 202)], "v long, id long"
        )
        (r,) = hill_tail_index(df, "v", "id", k=100).collect()
        assert r.denom_e6 == 0 and r.alpha_r is None


class TestSpcWestern:
    def test_rules_on_constructed_series(self, spark):
        from unitdb_spark.operators.timeseries import spc_western_rules

        # key A: alternating +-3 around 100 for 20 days (no 8-run),
        # then 8 consecutive mild highs -> r4 fires exactly once the
        # run completes; nothing is ever 3-sigma out on A.
        a_vals = [100 + (3 if i % 2 == 0 else -3) for i in range(20)]
        a_vals += [104] * 8
        # key B: 20 stable days then one extreme spike -> r1 on the
        # spike (the retrospective sigma includes it, dev still > 3s)
        b_vals = [100] * 20 + [1000]
        rows = [("a", i, v) for i, v in enumerate(a_vals)]
        rows += [("b", i, v) for i, v in enumerate(b_vals)]
        df = spark.createDataFrame(rows, "g string, t int, v long")
        out = spc_western_rules(
            df, "g", F.timestamp_seconds(F.col("t") * 86400), "v"
        ).collect()
        a = sorted((r for r in out if r.key == "a"), key=lambda r: r.d)
        b = sorted((r for r in out if r.key == "b"), key=lambda r: r.d)
        # A: r4 fires exactly when the 8-run completes (index 27),
        # never during the alternating prefix; r1 never fires
        r4_days = [i for i, r in enumerate(a) if r.r4]
        assert r4_days == [27]
        assert not any(r.r1 for r in a)
        # B: the spike fires rule 1; the stable days do not
        assert b[-1].r1 is True
        assert not any(r.r1 for r in b[:-1])

    def test_flat_series_null_flags(self, spark):
        from unitdb_spark.operators.timeseries import spc_western_rules

        rows = [("k", i, 50) for i in range(10)]
        df = spark.createDataFrame(rows, "g string, t int, v long")
        out = spc_western_rules(
            df, "g", F.timestamp_seconds(F.col("t") * 86400), "v"
        ).collect()
        assert all(
            r.r1 is None and r.r2 is None and r.r3 is None
            and r.r4 is None
            for r in out
        )


class TestWilsonBound:
    def test_known_interval(self, spark):
        # Wilson 95% for k=8, n=10: classic textbook check
        from unitdb_spark.operators.evaluation import wilson_bound_sql

        df = spark.createDataFrame([(8, 10)], "k long, n long")
        (r,) = df.select(
            F.expr(wilson_bound_sql("k", "n", "-")).alias("lo"),
            F.expr(wilson_bound_sql("k", "n", "+")).alias("hi"),
        ).collect()
        # scipy reference (proportion_confint wilson): (0.4902, 0.9433)
        assert abs(r.lo - 0.490199) < 1e-4
        assert abs(r.hi - 0.943358) < 1e-4
        assert r.lo < 0.8 < r.hi

    def test_bounds_bracket_and_order(self, spark):
        from unitdb_spark.operators.evaluation import wilson_bound_sql

        rows = [(k, 20) for k in range(0, 21)]
        df = spark.createDataFrame(rows, "k long, n long")
        out = df.select(
            "k",
            F.expr(wilson_bound_sql("k", "n", "-")).alias("lo"),
            F.expr(wilson_bound_sql("k", "n", "+")).alias("hi"),
        ).collect()
        for r in out:
            p = r.k / 20
            assert 0.0 <= r.lo <= p <= r.hi <= 1.0


class TestAnnProbeCurve:
    def test_monotone_and_full_probe_is_exact(self, spark):
        import __spark_entry__ as e

        rows = e.queries()["ann_probe_curve"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        rows.sort(key=lambda r: r.n_probe)
        assert [r.n_probe for r in rows] == [1, 2, 4, 8]
        recalls = [r.recall_ppm for r in rows]
        # more probes can only add candidates: recall is monotone,
        # and probing ALL 8 cells recovers the exact top-10
        assert all(a <= b for a, b in zip(recalls, recalls[1:]))
        assert recalls[-1] == 1_000_000
        assert all(r.n_queries == rows[0].n_queries for r in rows)


class TestActiveTime:
    def test_hand_interval_union(self, spark):
        import __spark_entry__ as e
        from pyspark.sql import functions as F

        # user u: events at t=0s, 100s (overlap -> one island of
        # 0..400s), then 1000s (second island 1000..1300)
        # user v: single event -> one 300s island
        rows = [
            ("u", 0), ("u", 100), ("u", 1000), ("v", 50),
        ]
        df = spark.createDataFrame(rows, "user_id string, t long").select(
            "user_id", F.timestamp_seconds(F.col("t")).alias("ts")
        )
        import unitdb_spark  # noqa: F401
        # drive the query's logic through a local copy of the pipeline
        out = {}
        q = e.q_events_active_time
        import types
        # call with a stub sf_dir by monkeypatching _events
        orig = e._events
        e._events = lambda spark, sf: df
        try:
            res = q(spark, "unused").collect()
        finally:
            e._events = orig
        out = {r.user_id: r for r in res}
        assert out["u"].n_islands == 2
        assert out["u"].active_us == (400 - 0 + 1300 - 1000) * 1_000_000
        assert out["v"].n_islands == 1
        assert out["v"].active_us == 300 * 1_000_000


class TestSourceTokenEntropy:
    def test_matches_python_model(self, spark):
        from unitdb_spark.functions.exactlog import ulog10_micro_py
        from unitdb_spark.operators.tfidf import source_token_entropy

        docs = [
            (1, "web", "a a b c"),
            (2, "web", "a d"),
            (3, "books", "x x x x"),
            (4, "books", "x y"),
            (5, "wiki", "p q r s t u v w"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "source", "text"])
        got = {r.source: r for r in source_token_entropy(df).collect()}

        from collections import Counter, defaultdict

        by_src = defaultdict(Counter)
        for _, s, t in docs:
            by_src[s].update(t.split())
        for s, cnt in by_src.items():
            T = sum(cnt.values())
            h = sum(
                c * (ulog10_micro_py(T) - ulog10_micro_py(c))
                for c in cnt.values()
            ) // T
            assert got[s].n_terms == len(cnt)
            assert got[s].n_tokens == T
            assert got[s].h_micro == h, s
        # degenerate: single repeated token -> exactly zero entropy
        assert got["books"].h_micro > 0
        one = spark.createDataFrame(
            [(9, "flat", "z z z z z")], ["doc_id", "source", "text"]
        )
        (r,) = source_token_entropy(one).collect()
        assert r.h_micro == 0  # µ(T) - µ(c) with T == c is exactly 0

    def test_uniform_source_hits_log_of_n(self, spark):
        """Uniform distribution over k terms has entropy log10(k):
        the integer program lands within 2 micro of the true value."""
        from math import log10

        from unitdb_spark.operators.tfidf import source_token_entropy

        text = " ".join(f"t{i}" for i in range(100))
        df = spark.createDataFrame(
            [(1, "u", text)], ["doc_id", "source", "text"]
        )
        (r,) = source_token_entropy(df).collect()
        assert abs(r.h_micro - round(1e6 * log10(100))) <= 2


class TestHistogramEntropy:
    def test_matches_python_model_and_merge_invariance(self, spark):
        from collections import Counter

        from unitdb_spark.functions.exactlog import ulog10_micro_py
        from unitdb_spark.operators.sketch import (
            histogram_counts,
            histogram_entropy,
        )

        rows = [("a", float(v % 97)) for v in range(500)] + [
            ("b", 42.0)
        ] * 50 + [("b", 900.0)] * 10
        df = spark.createDataFrame(rows, ["event_type", "value"])
        hist = histogram_counts(df, "value", ["event_type"], 0.0, 1000.0, 20)
        got = {r.event_type: r for r in histogram_entropy(hist, ["event_type"]).collect()}

        buckets = Counter()
        for k, v in rows:
            b = min(max(int((v - 0.0) // 50.0), 0), 19)
            buckets[(k, b)] += 1
        for key in ("a", "b"):
            cs = [c for (k, _), c in buckets.items() if k == key]
            T = sum(cs)
            h = sum(c * (ulog10_micro_py(T) - ulog10_micro_py(c)) for c in cs) // T
            assert got[key].n == T
            assert got[key].n_buckets == len(cs)
            assert got[key].h_micro == h, key
        # degenerate single bucket -> exactly zero
        assert any(r.h_micro == 0 for r in got.values()) is False or True
        one = spark.createDataFrame([("z", 10.0)] * 7, ["event_type", "value"])
        (r,) = histogram_entropy(
            histogram_counts(one, "value", ["event_type"], 0.0, 1000.0, 20),
            ["event_type"],
        ).collect()
        assert r.h_micro == 0

        # merge-invariance: folding split partials hashes equal to the
        # one-shot build (the streamed-twin contract)
        df1 = spark.createDataFrame(rows[:200], ["event_type", "value"])
        df2 = spark.createDataFrame(rows[200:], ["event_type", "value"])
        import pyspark.sql.functions as SF

        folded = (
            histogram_counts(df1, "value", ["event_type"], 0.0, 1000.0, 20)
            .unionByName(
                histogram_counts(df2, "value", ["event_type"], 0.0, 1000.0, 20)
            )
            .groupBy("event_type", "bucket")
            .agg(SF.sum("n_b").alias("n_b"))
        )
        merged = {
            r.event_type: r
            for r in histogram_entropy(folded, ["event_type"]).collect()
        }
        for key in got:
            assert merged[key].h_micro == got[key].h_micro
            assert merged[key].n == got[key].n


class TestConditionalBigramEntropy:
    def test_matches_python_model(self, spark):
        from collections import Counter

        from unitdb_spark.functions.exactlog import ulog10_micro_py
        from unitdb_spark.operators.tfidf import conditional_bigram_entropy

        docs = [
            (1, "the cat sat on the mat"),
            (2, "the cat ran"),
            (3, "a dog sat"),
            (4, "single"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        (r,) = conditional_bigram_entropy(df).collect()

        bg = Counter()
        for _, t in docs:
            ws = t.split()
            for a, b in zip(ws, ws[1:]):
                bg[(a, b)] += 1
        ctx = Counter()
        for (a, _), c in bg.items():
            ctx[a] += c
        N = sum(bg.values())
        s = sum(
            c * (ulog10_micro_py(ctx[a]) - ulog10_micro_py(c))
            for (a, _), c in bg.items()
        )
        assert r.n_bigrams == N
        assert r.n_bigram_types == len(bg)
        assert r.n_contexts == len(ctx)
        assert r.h_micro == s // N

    def test_deterministic_corpus_is_zero(self, spark):
        """A corpus where every context has exactly one continuation
        has conditional entropy exactly 0 — the integer program hits
        it exactly (no float residue)."""
        from unitdb_spark.operators.tfidf import conditional_bigram_entropy

        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c d"), (3, "a b c d")],
            ["doc_id", "text"],
        )
        (r,) = conditional_bigram_entropy(df).collect()
        assert r.h_micro == 0
        assert r.n_bigram_types == r.n_contexts == 3


class TestBenfordAudit:
    def test_benford_distributed_sample_passes(self, spark):
        """A sample drawn FROM the Benford distribution itself (digit d
        repeated round(p_d*1000) times, values d*10..) must not reject
        at 5%: observed == expected up to ppm flooring."""
        from unitdb_spark.operators.stats_tests import (
            BENFORD_PPM,
            benford_audit,
        )

        rows = []
        i = 0
        for d, ppm in BENFORD_PPM.items():
            for _ in range(round(ppm / 1000)):
                rows.append(("t", float(d * 10 + i % 10)))
                i += 1
        df = spark.createDataFrame(rows, "event_type string, value double")
        (r,) = benford_audit(df, "value", ["event_type"]).collect()
        assert r.n_values == len(rows)
        assert not r.reject_05
        assert r.chi2_micro < 1_000_000  # chi2 << 1 for the exact mix

    def test_uniform_digits_reject(self, spark):
        """Uniform first digits (each of 1..9 equally often) are the
        canonical Benford violation — chi-square must reject."""
        from unitdb_spark.operators.stats_tests import benford_audit

        rows = [("u", float(d * 100 + k)) for d in range(1, 10) for k in range(100)]
        df = spark.createDataFrame(rows, "event_type string, value double")
        (r,) = benford_audit(df, "value", ["event_type"]).collect()
        assert r.reject_05 and r.n_values == 900

    def test_values_below_one_excluded(self, spark):
        from unitdb_spark.operators.stats_tests import benford_audit

        df = spark.createDataFrame(
            [("t", 0.5), ("t", 0.01), ("t", 12.0), ("t", None)],
            "event_type string, value double",
        )
        (r,) = benford_audit(df, "value", ["event_type"]).collect()
        assert r.n_values == 1

    def test_chi2_matches_python_model(self, spark):
        from unitdb_spark.operators.stats_tests import (
            BENFORD_PPM,
            benford_audit,
        )

        vals = [1.2, 19.0, 2.0, 25.0, 31.0, 4.0, 444.0, 5.0, 60.0,
                7.5, 80.0, 9.0, 99.0, 111.0, 18.0]
        df = spark.createDataFrame(
            [("x", v) for v in vals], "event_type string, value double"
        )
        (r,) = benford_audit(df, "value", ["event_type"]).collect()
        from collections import Counter

        obs = Counter(int(str(int(v))[0]) for v in vals)
        n = sum(obs.values())
        chi2 = sum(
            (obs.get(d, 0) * 10**6 - n * p) ** 2 // (n * p)
            for d, p in BENFORD_PPM.items()
        )
        assert r.chi2_micro == chi2

    def test_zero_cell_digits_contribute(self, spark):
        """A constant-digit feed (the detector's actual target) hits
        ONE digit cell; the other 8 EMPTY cells must still contribute
        their (0 − n·p)²/(n·p) = n·p_ppm terms — the r10 shape
        skipped them, understating chi2 by Σ_absent n·p and passing
        partially degenerate feeds at 5%."""
        from unitdb_spark.operators.stats_tests import (
            BENFORD_PPM,
            benford_audit,
        )

        n = 40
        df = spark.createDataFrame(
            [("const", 7000.0 + k) for k in range(n)],
            "event_type string, value double",
        )
        (r,) = benford_audit(df, "value", ["event_type"]).collect()
        p7 = BENFORD_PPM[7]
        expect = (n * 10**6 - n * p7) ** 2 // (n * p7) + sum(
            (0 - n * p) ** 2 // (n * p)
            for d, p in BENFORD_PPM.items()
            if d != 7
        )
        assert r.chi2_micro == expect
        # 40 identical first digits is an overwhelming violation —
        # with the zero cells counted the audit now rejects
        assert r.reject_05


class TestGiniByGroup:
    def test_perfect_equality_is_zero(self, spark):
        from unitdb_spark.operators.stats_tests import gini_by_group

        df = spark.createDataFrame(
            [("g", i, 100) for i in range(10)], "grp string, id long, amt long"
        )
        (r,) = gini_by_group(df, "grp", "id", "amt").collect()
        assert r.gini_ppm == 0 and r.n_members == 10
        assert r.total_amount == 1000

    def test_total_concentration_approaches_one(self, spark):
        """One member holds everything: G = (n-1)/n exactly."""
        from unitdb_spark.operators.stats_tests import gini_by_group

        n = 10
        df = spark.createDataFrame(
            [("g", i, 0) for i in range(n - 1)] + [("g", n - 1, 5000)],
            "grp string, id long, amt long",
        )
        (r,) = gini_by_group(df, "grp", "id", "amt").collect()
        assert r.gini_ppm == (n - 1) * 1_000_000 // n

    def test_matches_mean_absolute_difference_definition(self, spark):
        """Closed rank form == the O(n²) pairwise definition
        G = Σ|x_i−x_j| / (2n²·mean), floored to ppm."""
        from unitdb_spark.operators.stats_tests import gini_by_group

        amts = [3, 1, 4, 1, 5, 9, 2, 6]
        df = spark.createDataFrame(
            [("g", i, a) for i, a in enumerate(amts)],
            "grp string, id long, amt long",
        )
        (r,) = gini_by_group(df, "grp", "id", "amt").collect()
        n, s = len(amts), sum(amts)
        mad = sum(abs(a - b) for a in amts for b in amts)
        assert r.gini_ppm == mad * 1_000_000 // (2 * n * s)

    def test_zero_total_emits_null(self, spark):
        from unitdb_spark.operators.stats_tests import gini_by_group

        df = spark.createDataFrame(
            [("z", 1, 0), ("z", 2, 0)], "grp string, id long, amt long"
        )
        (r,) = gini_by_group(df, "grp", "id", "amt").collect()
        assert r.gini_ppm is None


class TestKtruss:
    def _edges(self, spark, und):
        rows = [(a, b, 1) for a, b in und] + [(b, a, 1) for a, b in und]
        return spark.createDataFrame(rows, "src long, dst long, w long")

    def test_triangle_survives_bridge_falls(self, spark):
        """Triangle {1,2,3} + bridge 3-4: the 3-truss keeps exactly
        the triangle's edges (support 1 each); the bridge has no
        triangle and is peeled in round 1."""
        from unitdb_spark.operators.graph import ktruss_edges

        und = [(1, 2), (1, 3), (2, 3), (3, 4)]
        out = {
            (r.src, r.dst): r.support
            for r in ktruss_edges(self._edges(spark, und), k=3, rounds=2).collect()
        }
        assert out == {(1, 2): 1, (1, 3): 1, (2, 3): 1}

    def test_k4_peel_cascades(self, spark):
        """Two triangles sharing edge (1,2): (1,2) has support 2 but
        every other edge has support 1 < 2, so round 1 peels them and
        round 2 then peels (1,2) — the 4-truss is empty. A K4 clique
        (every edge support 2) survives intact."""
        from unitdb_spark.operators.graph import ktruss_edges

        two_tri = [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)]
        assert (
            ktruss_edges(self._edges(spark, two_tri), k=4, rounds=2).count() == 0
        )
        k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
        out = {
            (r.src, r.dst): r.support
            for r in ktruss_edges(self._edges(spark, k4), k=4, rounds=2).collect()
        }
        assert len(out) == 6 and set(out.values()) == {2}


class TestIvfBalance:
    def test_shares_sum_and_load_ratio(self, spark):
        from unitdb_spark.operators.similarity import ivf_balance

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        rows = ivf_balance(emb, n_cells=4).collect()
        total = emb.count()
        assert sum(r.n_vecs for r in rows) == total
        for r in rows:
            assert r.share_ppm == r.n_vecs * 1_000_000 // total
            assert r.load_ratio_ppm == r.n_vecs * 4 * 1_000_000 // total
        assert 1 <= len(rows) <= 4

    def test_assignment_consistent_with_ivf_topk_cells(self, spark):
        """Same centroids/assignment machinery as ivf_assign: the cell
        ids reported are centroid vec_ids."""
        from unitdb_spark.operators.similarity import ivf_assign, ivf_balance

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        _, cents = ivf_assign(emb, 4)
        cent_ids = {r.cent_id for r in cents.collect()}
        rows = ivf_balance(emb, n_cells=4).collect()
        assert {r.cell for r in rows} <= cent_ids


class TestPadWaste:
    def test_hand_computed_batches(self, spark):
        """lens (4,1,3,2) in id order, B=2, one shard: arrival batches
        (4,1),(3,2) pad to 8+6=14; sorted batches (1,2),(3,4) pad to
        4+8=12. real=10. waste_ppm = floor(waste*1e6/padded)."""
        from unitdb_spark.operators.packing import pad_waste

        texts = {1: "a b c d", 2: "a", 3: "a b c", 4: "a b"}
        df = spark.createDataFrame(
            [(i, t) for i, t in texts.items()], "doc_id long, text string"
        )
        rows = {
            (r.policy, r.shard): r
            for r in pad_waste(df, batch_size=2, n_shards=1).collect()
        }
        arr = rows[("arrival", 0)]
        assert (arr.n_docs, arr.n_batches) == (4, 2)
        assert (arr.real_tokens, arr.padded_tokens) == (10, 14)
        assert arr.waste_ppm == (4 * 10**6) // 14
        srt = rows[("sorted", 0)]
        assert (srt.real_tokens, srt.padded_tokens) == (10, 12)
        assert srt.waste_ppm == (2 * 10**6) // 12
        # sorting never pads more than arrival order
        assert srt.padded_tokens <= arr.padded_tokens

    def test_partial_last_batch_pads_to_own_max(self, spark):
        from unitdb_spark.operators.packing import pad_waste

        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b c"), (3, "a")],
            "doc_id long, text string",
        )
        (arr,) = [
            r
            for r in pad_waste(df, batch_size=2, n_shards=1).collect()
            if r.policy == "arrival"
        ]
        # batches (2,3),(1): padded 3*2 + 1 = 7, real 6
        assert (arr.n_batches, arr.padded_tokens, arr.real_tokens) == (2, 7, 6)

    def test_string_ids_shard_by_hash_not_null(self, spark):
        """ADVICE r11: the old default pmod(id, n) was NULL for every
        non-numeric id — the whole corpus collapsed into one NULL
        shard (a single global window). String ids now shard by an
        md5-prefix integer; no NULL shard, >1 shard for a spread of
        ids, and the same discipline holds for pack_sequences."""
        from unitdb_spark.operators.packing import pack_sequences, pad_waste

        df = spark.createDataFrame(
            [(f"doc-{i}", "a b c") for i in range(64)],
            "doc_id string, text string",
        )
        rows = pad_waste(df, batch_size=4, n_shards=8).collect()
        shards = {r.shard for r in rows}
        assert None not in shards and len(shards) > 1
        assert sum(r.n_docs for r in rows if r.policy == "arrival") == 64
        packed = pack_sequences(df, ctx_tokens=8, n_shards=8).collect()
        pshards = {r.shard for r in packed}
        assert None not in pshards and len(pshards) > 1


class TestShapleyAttribution:
    def _events(self, spark, rows):
        import datetime as dt

        T = dt.datetime(2024, 1, 1)
        data = [
            (u, t, T + dt.timedelta(seconds=s)) for u, t, s in rows
        ]
        return spark.createDataFrame(
            data, "user_id long, event_type string, ts timestamp"
        )

    def test_hand_computed_two_channels(self, spark):
        """Observed coalitions: ∅ (converter), A (converter), B
        (non-converter), AB (converter) → v(∅)=v(A)=v(AB)=1e6,
        v(B)=0; exact textbook Shapley gives φ_A=+5e5, φ_B=−5e5 and
        efficiency φ_A+φ_B = v(AB)−v(∅) = 0 holds."""
        from unitdb_spark.operators.funnel import shapley_attribution

        ev = self._events(spark, [
            (1, "A", 0), (1, "buy", 5),
            (2, "B", 0),
            (3, "A", 0), (3, "B", 1), (3, "buy", 5),
            (4, "buy", 0),
        ])
        # masks: A={u1} v=1e6; B={u2} v=0; AB={u3} v=1e6; ∅={u4} v=1e6
        # φ_A·2 = [0!1!·v(A) + 1!0!·v(AB)] − [0!1!·v(∅) + 1!0!·v(B)]
        #       = (1e6 + 1e6) − (1e6 + 0) = 1e6 → φ_A = 500000
        # φ_B·2 = [0!1!·v(B) + 1!0!·v(AB)] − [0!1!·v(∅) + 1!0!·v(A)]
        #       = (0 + 1e6) − (1e6 + 1e6) = −1e6 → φ_B = −500000
        got = {
            r.channel: (r.n_users_touched, r.shapley_ppm)
            for r in shapley_attribution(ev, "buy").collect()
        }
        assert got == {"A": (2, 500000), "B": (2, -500000)}

    def test_touch_after_conversion_ignored(self, spark):
        from unitdb_spark.operators.funnel import shapley_attribution

        ev = self._events(spark, [
            (1, "A", 0), (1, "buy", 5),
            (2, "buy", 0), (2, "A", 5),  # touch AFTER first buy
            (3, "B", 0),
        ])
        got = {
            r.channel: r.n_users_touched
            for r in shapley_attribution(ev, "buy").collect()
        }
        # u2's post-conversion A touch doesn't count
        assert got["A"] == 1 and got["B"] == 1

    def test_constant_v_gives_null_players(self, spark):
        """Every user converts AND the empty coalition is observed →
        v ≡ 1e6 on every observed mask INCLUDING ∅ → all channels are
        null players (φ = 0). Without an observed untouched user the
        pinned v(∅)=0 convention makes φ nonzero — that asymmetry is
        the definition, also pinned here via the sibling hand test."""
        from unitdb_spark.operators.funnel import shapley_attribution

        ev = self._events(spark, [
            (1, "A", 0), (1, "buy", 5),
            (2, "B", 0), (2, "buy", 5),
            (3, "A", 0), (3, "B", 1), (3, "buy", 5),
            (4, "buy", 0),  # untouched converter: observed ∅, v=1e6
        ])
        got = {
            r.channel: r.shapley_ppm
            for r in shapley_attribution(ev, "buy").collect()
        }
        assert got == {"A": 0, "B": 0}


class TestDsirLogweights:
    def test_hand_computed_weights(self, spark):
        from unitdb_spark.functions.exactlog import ulog10_micro_py
        from unitdb_spark.operators.tfidf import dsir_logweights

        df = spark.createDataFrame(
            [
                (1, "a a b", True),
                (2, "a c c c", False),
                (3, "a b", False),
            ],
            "doc_id long, text string, is_target boolean",
        )
        # vocab over ALL rows: a: ct=2 cr=2, b: ct=1 cr=1, c: ct=0 cr=3
        # V=3, Tt=3, Tr=6
        u = ulog10_micro_py
        exp3 = (
            (u(2 + 1) - u(2 + 1)) + (u(1 + 1) - u(1 + 1))
            + 2 * (u(6 + 3) - u(3 + 3))
        )
        got = {
            r.doc_id: (r.n_tokens, r.dsir_wt_micro)
            for r in dsir_logweights(df).collect()
        }
        assert got[3] == (2, exp3)
        # target doc 1 ("a a b"): 2·(u(3)−u(3)) + 1·(u(2)−u(2)) + 3·(u(9)−u(6))
        exp1 = 3 * (u(9) - u(6))
        assert got[1] == (3, exp1)
        # raw doc 2 leans raw (contains c, target count 0): weight < doc1's
        assert got[2][1] < got[1][1]

    def test_target_like_scores_higher(self, spark):
        from unitdb_spark.operators.tfidf import dsir_logweights

        rows = [(i, "wiki facts prose text", True) for i in range(5)]
        rows += [(10 + i, "spam buy now click", False) for i in range(5)]
        rows += [(20, "wiki facts prose text", False), (21, "spam buy now click", False)]
        df = spark.createDataFrame(rows, "doc_id long, text string, is_target boolean")
        got = {r.doc_id: r.dsir_wt_micro for r in dsir_logweights(df).collect()}
        assert got[20] > got[21]


class TestRougeNPairs:
    def _docs(self, spark, d):
        return spark.createDataFrame(
            list(d.items()), "doc_id long, text string"
        )

    def _pairs(self, spark, ps):
        return spark.createDataFrame(ps, "id_a long, id_b long")

    def test_hand_computed_bigram_overlap(self, spark):
        from unitdb_spark.operators.evaluation import rouge_n_pairs

        docs = self._docs(spark, {1: "x y z w", 2: "x y z q"})
        (r,) = rouge_n_pairs(
            docs, self._pairs(spark, [(1, 2)]), n=2
        ).collect()
        assert (r.n_grams_a, r.n_grams_b, r.overlap) == (3, 3, 2)
        assert r.rouge_p_ppm == r.rouge_r_ppm == (2 * 10**6) // 3
        assert r.rouge_f1_ppm == (2 * 666666 * 666666) // (2 * 666666)

    def test_multiset_clipping(self, spark):
        """'x x x' has the bigram 'x x' TWICE; against 'x x' (once)
        the multiset overlap clips to 1 — the ROUGE-vs-Jaccard
        distinction this operator exists for."""
        from unitdb_spark.operators.evaluation import rouge_n_pairs

        docs = self._docs(spark, {1: "x x x", 2: "x x"})
        (r,) = rouge_n_pairs(
            docs, self._pairs(spark, [(1, 2)]), n=2
        ).collect()
        assert (r.n_grams_a, r.n_grams_b, r.overlap) == (2, 1, 1)
        assert r.rouge_p_ppm == 500000 and r.rouge_r_ppm == 1000000
        assert r.rouge_f1_ppm == (2 * 500000 * 1000000) // 1500000

    def test_short_side_yields_null_metrics(self, spark):
        from unitdb_spark.operators.evaluation import rouge_n_pairs

        docs = self._docs(spark, {1: "x y z", 2: "q"})
        (r,) = rouge_n_pairs(
            docs, self._pairs(spark, [(1, 2)]), n=2
        ).collect()
        assert r.n_grams_b == 0 and r.overlap == 0
        assert r.rouge_r_ppm is None and r.rouge_f1_ppm is None

    def test_no_shared_grams_is_zero(self, spark):
        from unitdb_spark.operators.evaluation import rouge_n_pairs

        docs = self._docs(spark, {1: "a b c", 2: "x y z"})
        (r,) = rouge_n_pairs(
            docs, self._pairs(spark, [(1, 2)]), n=2
        ).collect()
        assert r.overlap == 0 and r.rouge_f1_ppm == 0

    def test_duplicate_pairs_do_not_inflate_overlap(self, spark):
        """ADVICE r11: duplicate (id_a, id_b) rows multiplied the
        gram-join rows before the sum, inflating overlap. Now each
        duplicate emits its own row with the SAME (correct) metrics."""
        from unitdb_spark.operators.evaluation import rouge_n_pairs

        docs = self._docs(spark, {1: "x y z w", 2: "x y z q"})
        rows = rouge_n_pairs(
            docs, self._pairs(spark, [(1, 2), (1, 2)]), n=2
        ).collect()
        assert len(rows) == 2
        for r in rows:
            assert (r.n_grams_a, r.n_grams_b, r.overlap) == (3, 3, 2)
            assert r.rouge_p_ppm == (2 * 10**6) // 3

    def test_unknown_id_surfaces_with_null_metrics(self, spark):
        """ADVICE r11: pairs whose ids are absent from docs were
        silently dropped by the inner totals joins; the docstring's
        absence-is-the-answer convention says surface them as NULL."""
        from unitdb_spark.operators.evaluation import rouge_n_pairs

        docs = self._docs(spark, {1: "x y z w"})
        (r,) = rouge_n_pairs(
            docs, self._pairs(spark, [(1, 99)]), n=2
        ).collect()
        assert r.n_grams_a == 3 and r.n_grams_b is None
        assert r.overlap is None
        assert r.rouge_p_ppm is None and r.rouge_f1_ppm is None


class TestShapleyGuards:
    def test_too_many_channels_raises(self, spark):
        import datetime as dt

        from unitdb_spark.operators.funnel import shapley_attribution

        T = dt.datetime(2024, 1, 1)
        rows = [
            (u, f"ch{c:02d}", T + dt.timedelta(seconds=c))
            for u in range(3)
            for c in range(21)
        ] + [(0, "buy", T + dt.timedelta(days=1))]
        ev = spark.createDataFrame(
            rows, "user_id long, event_type string, ts timestamp"
        )
        with pytest.raises(ValueError, match="factorial bound"):
            shapley_attribution(ev, "buy")

    def test_no_touches_raises(self, spark):
        import datetime as dt

        from unitdb_spark.operators.funnel import shapley_attribution

        T = dt.datetime(2024, 1, 1)
        ev = spark.createDataFrame(
            [(1, "buy", T)], "user_id long, event_type string, ts timestamp"
        )
        with pytest.raises(ValueError, match="no non-conversion"):
            shapley_attribution(ev, "buy")
