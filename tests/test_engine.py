"""Engine golden tests — parity with the reference's end-to-end suite.

TestSimple  (db_test.go:35-135): write N, get with ?last=, newest-first.
TestBatch   (db_test.go:137-198): atomic batch; abort on error.
TestExpiry  (db_test.go:200-240): pre-expired entries invisible.
Delete      (db_test.go:132-134): delete then get -> absent.
Wildcards   (db_test.go:288-318): symmetric matrix through Spark.
Contracts   (db_test.go:55): isolation between tenants.
"""

from __future__ import annotations

import time

import pytest

from unitdb_spark.core.model import MASTER_CONTRACT, Entry, Query
from unitdb_spark.engine import Engine, ImmutableError

T0 = 1_700_000_000.0  # fixed test clock base


class TestSimple:
    def test_put_get_newest_first(self, engine: Engine):
        n = 10
        # golden construction: vals[i] = "msg.%2d" % (n-i-1)  (db_test.go:75)
        for i in range(n):
            engine.put_entry(
                Entry(topic="unit1.test", payload=b"msg.%2d" % i), ts=T0 + i
            )
        got = engine.get(Query("unit1.test?last=1h"), now=T0 + n)
        want = [b"msg.%2d" % (n - i - 1) for i in range(n)]
        assert got == want

    def test_last_window_cuts(self, engine: Engine):
        for i in range(10):
            engine.put_entry(Entry("unit1.test", b"m%d" % i), ts=T0 + i * 600)
        # window of 1h from now=T0+5400 covers ts >= T0+1800: i in 3..9
        got = engine.get(Query("unit1.test", last="1h"), now=T0 + 5400)
        assert got == [b"m%d" % i for i in range(9, 2, -1)]

    def test_limit(self, engine: Engine):
        for i in range(20):
            engine.put_entry(Entry("a.b", b"p%d" % i), ts=T0 + i)
        got = engine.get(Query("a.b", limit=5), now=T0 + 100)
        assert got == [b"p19", b"p18", b"p17", b"p16", b"p15"]

    def test_default_limit_and_reopen(self, engine: Engine, spark):
        for i in range(5):
            engine.put_entry(Entry("x.y", b"v%d" % i), ts=T0 + i)
        engine.flush()
        # reopen: seq continues monotonically (recovery parity)
        eng2 = Engine(spark, engine.path)
        s = eng2.put_entry(Entry("x.y", b"v5"), ts=T0 + 5)
        assert s == 6
        assert eng2.get("x.y", now=T0 + 10) == [b"v5", b"v4", b"v3", b"v2", b"v1", b"v0"]


class TestBatch:
    def test_commit(self, engine: Engine):
        with engine.batch() as b:
            for i in range(5):
                b.put_entry(Entry("ab.c", b"b%d" % i), ts=T0 + i)
        assert engine.get("ab.c", now=T0 + 10) == [b"b4", b"b3", b"b2", b"b1", b"b0"]

    def test_abort_on_error(self, engine: Engine):
        with pytest.raises(RuntimeError):
            with engine.batch() as b:
                b.put_entry(Entry("ab.c", b"x"), ts=T0)
                raise RuntimeError("boom")
        assert engine.get("ab.c", now=T0 + 10) == []

    def test_multi_topic_atomic(self, engine: Engine):
        with engine.batch() as b:
            b.put("t1.a", b"1")
            b.put("t2.b", b"2")
            b.put("t3.c", b"3")
        assert engine.count() == 3

    def test_managed_batch_fn(self, engine: Engine):
        engine.batch_fn(lambda b: [b.put("m.a", b"1"), b.put("m.b", b"2")])
        assert engine.count() == 2

        def failing(b):
            b.put("m.c", b"3")
            raise RuntimeError("boom")

        with pytest.raises(RuntimeError):
            engine.batch_fn(failing)
        assert engine.count() == 2  # aborted batch left nothing

    def test_batch_delete_staged_until_commit(self, engine: Engine):
        s1 = engine.put_entry(Entry("d.a", b"keep"), ts=T0)
        s2 = engine.put_entry(Entry("d.a", b"drop"), ts=T0 + 1)
        with engine.batch() as b:
            b.delete(s2)
            # staged: still visible before commit
            assert engine.get("d.a", now=T0 + 10) == [b"drop", b"keep"]
        assert engine.get("d.a", now=T0 + 10) == [b"keep"]
        assert s1 != s2

    def test_batch_abort_drops_deletes(self, engine: Engine):
        s = engine.put_entry(Entry("d.b", b"v"), ts=T0)
        with pytest.raises(RuntimeError):
            with engine.batch() as b:
                b.delete(s)
                raise RuntimeError("boom")
        assert engine.get("d.b", now=T0 + 10) == [b"v"]

    def test_batch_set_options_contract(self, engine: Engine):
        c = engine.new_contract()
        with engine.batch() as b:
            b.set_options(contract=c)
            b.put("ct.a", b"scoped")
        assert engine.get(Query("ct.a", contract=c), now=T0 + 10) == [b"scoped"]
        assert engine.get("ct.a", now=T0 + 10) == []  # master sees nothing

    def test_sync_and_close_flush(self, engine: Engine, spark):
        engine.put_entry(Entry("s.a", b"1"), ts=T0)
        engine.sync()
        engine.put_entry(Entry("s.a", b"2"), ts=T0 + 1)
        engine.close()
        eng2 = Engine(spark, engine.path)
        assert eng2.get("s.a", now=T0 + 10) == [b"2", b"1"]


class TestGetMany:
    def test_fused_matches_individual(self, engine: Engine):
        for i in range(12):
            engine.put_entry(Entry(f"g.{i % 3}.x", b"v%d" % i), ts=T0 + i)
        qs = [Query("g.0.x"), Query("g.*.x", limit=5), Query("g.2.x", last="1h")]
        fused = engine.get_many(qs, now=T0 + 100)
        individual = [engine.get(q, now=T0 + 100) for q in qs]
        assert fused == individual


class TestGetPredicate:
    """Get builds its predicate as one SQL string and reads its tables
    without filesystem pre-checks."""

    STORED = [
        "q'a.x", "q\\b.x", "q%c.x", "q_d.x", 'q"e.x', "q'a.*", "q\\b...",
        "q%c.y", "qxc.x", "qxd.x", "q'a.x'", "q\\'a.x", "q.x'",
        "q${x}.y", "q.${spark.app.name}", "q.${spark.sql.shuffle.partitions}", "q.$", "q\\${x}.y",
    ]
    QUERIES = [
        "q'a.x", "q\\b.x", "q%c.x", "q_d.x", 'q"e.x', "q'a.*", "q\\b...",
        "q%c...", "q_d...", "*.x", "q\\'a.x", "q'a.x'", "q.*", "*.x'",
        "q${x}.y", "q.${spark.app.name}", "q.${spark.sql.shuffle.partitions}", "q.$", "q\\${x}.y",
        "*.y", "q${x}...",
    ]

    def test_quoted_topics_match_python_matcher(self, engine: Engine):
        """``'``, ``\\``, ``%``, ``_``, ``"`` and ``${…}`` in stored and
        query topics are literal characters, in both match directions
        (``${name}`` is not a Spark variable reference)."""
        from unitdb_spark.core.topic import topic_match

        for i, t in enumerate(self.STORED):
            engine.put_entry(Entry(t, b"%d" % i), ts=T0 + i)
        want = [
            [b"%d" % i for i in reversed(range(len(self.STORED))) if topic_match(self.STORED[i], q)]
            for q in self.QUERIES
        ]
        # every stored topic is found by its own query
        assert all(want[:7]) and all(want[14:19])
        assert [engine.get(q, now=T0 + 100) for q in self.QUERIES] == want
        assert engine.get_many(self.QUERIES, now=T0 + 100) == want

    def test_missing_directories_read_as_empty(self, engine: Engine, spark):
        from unitdb_spark import fs

        assert not fs.exists(spark, engine.tombstones_path)
        assert not fs.exists(spark, engine.table.path)
        assert engine.get("a.b", now=T0) == []
        assert engine.get_many(["a.b", "a.*"], now=T0) == [[], []]
        assert engine.count(now=T0) == 0
        engine.put_entry(Entry("a.b", b"x"), ts=T0)
        assert engine.get("a.*", now=T0) == [b"x"]  # no tombstones/ dir
        assert engine.count(now=T0) == 1

    def test_missing_messages_dir_is_not_read_by_spark(self, engine: Engine, monkeypatch):
        """A store without `messages/` answers Get, get_many and count
        without a Spark read (which raises PATH_NOT_FOUND and logs a
        stack trace each time); once written, a Get makes no
        `fs.exists` call of its own."""
        from pyspark.sql import DataFrameReader

        from unitdb_spark import fs

        reads, exists_calls = [], []
        parquet, exists = DataFrameReader.parquet, fs.exists

        def spy_parquet(self, *paths, **kw):
            reads.append(paths)
            return parquet(self, *paths, **kw)

        def spy_exists(spark, path):
            exists_calls.append(path)
            return exists(spark, path)

        monkeypatch.setattr(DataFrameReader, "parquet", spy_parquet)
        monkeypatch.setattr(fs, "exists", spy_exists)
        assert engine.get("a.b", now=T0) == []
        assert engine.get_many(["a.b", "a.*"], now=T0) == [[], []]
        assert engine.count(now=T0) == 0
        assert reads == []
        engine.put_entry(Entry("a.b", b"x"), ts=T0)
        exists_calls.clear()
        assert engine.get("a.b", now=T0) == [b"x"]
        assert engine.table.path not in exists_calls

    def test_tombstone_dir_without_parquet_is_no_tombstones(self, engine: Engine, spark):
        from unitdb_spark import fs

        for i in range(3):
            engine.put_entry(Entry("d.t", b"%d" % i), ts=T0 + i)
        fs.write_text(spark, f"{engine.tombstones_path}/_SUCCESS", "")
        assert engine._tombstones_df() is None
        assert engine.get("d.t", now=T0 + 10) == [b"2", b"1", b"0"]
        assert engine.count(now=T0 + 10) == 3

    def test_fractional_now_and_subsecond_last(self, engine: Engine):
        for name, dt_s in (("old", 0.0), ("edge", 0.25), ("new", 0.6)):
            engine.put_entry(Entry("w.t", name.encode()), ts=T0 + dt_s)
        now = T0 + 0.75  # ?last=500ms starts at T0 + 0.25, inclusive
        assert engine.get("w.t?last=500ms", now=now) == [b"new", b"edge"]
        assert engine.get_many(["w.t?last=500ms", "w.t"], now=now) == [
            [b"new", b"edge"], [b"new", b"edge", b"old"]
        ]

    @pytest.mark.parametrize("now", [T0 + 0.123456789, T0 + 0.5, T0 - 86400.000001])
    def test_sql_now_is_the_instant_of_the_lit_datetime(self, spark, now):
        """The SQL clock is the instant the Column-API Get compared
        against: ``F.lit`` of ``now`` as a naive UTC datetime."""
        import datetime as dt

        from pyspark.sql import functions as F

        from unitdb_spark.table import now_sql

        naive = dt.datetime.fromtimestamp(now, dt.timezone.utc).replace(tzinfo=None)
        for v in (now, naive):
            r = spark.range(1).select(F.lit(naive).alias("a"), F.expr(now_sql(v)).alias("b")).first()
            assert r.a == r.b

    def test_get_df_starts_no_job(self, engine: Engine, spark):
        """Building a Get's plan runs nothing: the tombstone table is
        read with its schema, not inferred by a Spark job."""
        seqs = [engine.put_entry(Entry("j.t", b"%d" % i), ts=T0 + i) for i in range(4)]
        engine.flush()
        engine.delete(seqs[1])
        sc = spark.sparkContext
        sc.setJobGroup("get-df-build", "build a Get's DataFrame")
        try:
            df = engine.get_df(Query("j.t"), now=T0 + 10)
            assert list(sc.statusTracker().getJobIdsForGroup("get-df-build")) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert [r["payload"] for r in df.collect()] == [b"3", b"2", b"0"]


class TestExpiry:
    def test_pre_expired_invisible(self, engine: Engine):
        # entries whose TTL already lapsed are never returned
        # (db_test.go:217-228, 234-238)
        for i in range(5):
            engine.put_entry(Entry("e.t", b"dead%d" % i, ttl="1s"), ts=T0 + i)
        for i in range(3):
            engine.put_entry(Entry("e.t", b"live%d" % i), ts=T0 + 100 + i)
        got = engine.get("e.t", now=T0 + 3600)
        assert got == [b"live2", b"live1", b"live0"]

    def test_ttl_option_on_topic(self, engine: Engine):
        engine.put_entry(Entry("e.t?ttl=1h", b"soon"), ts=T0)
        assert engine.get("e.t", now=T0 + 60) == [b"soon"]
        assert engine.get("e.t", now=T0 + 7200) == []

    def test_purge_compaction(self, engine: Engine):
        engine.put_entry(Entry("e.t", b"dead", ttl="1s"), ts=T0)
        engine.put_entry(Entry("e.t", b"live"), ts=T0)
        engine.flush()
        engine.purge_expired(now=T0 + 100)
        assert engine.count(now=T0 + 100) == 1
        assert engine.get("e.t", now=T0 + 100) == [b"live"]

    def test_purge_rewrites_only_partitions_with_expired_rows(self, engine: Engine, spark):
        """A partition left with no live row is dropped; a partition
        with nothing expired keeps its files untouched."""
        from unitdb_spark.engine import _data_files, _partitions

        engine.put_entry(Entry("e.t", b"dead", ttl="1s"), ts=T0)
        engine.put_entry(Entry("e.t", b"live"), ts=T0 + 90_000)
        engine.flush()
        root = engine.table.path
        dead_part, live_part = sorted(_partitions(spark, root))
        live_files = _data_files(spark, f"{root}/{live_part}")
        engine.purge_expired(now=T0 + 100_000)
        assert list(_partitions(spark, root)) == [live_part]
        assert _data_files(spark, f"{root}/{live_part}") == live_files
        assert engine.get("e.t", now=T0 + 100_000) == [b"live"]

    def test_purge_crash_between_renames_loses_nothing(self, spark, tmp_path, monkeypatch):
        """A crash right after purge_expired's first rename must be
        recovered at the next open: same reads, and the seq counter
        resumes above every stored seq (a reused seq would be hidden by
        a tombstone still on disk)."""
        from unitdb_spark import fs

        path = str(tmp_path / "purgecrash")
        eng = Engine.open(spark, path)
        eng.put_entry(Entry("e.t", b"dead", ttl="1s"), ts=T0)
        seqs = [eng.put_entry(Entry("e.t", b"live%d" % i), ts=T0 + i) for i in range(3)]
        eng.flush()
        eng.delete(seqs[0])
        now = T0 + 100
        before = eng.get("e.t", now=now)
        assert before == [b"live2", b"live1"]

        real_rename = fs.rename
        done = []

        def crash_after_first_rename(sp, src, dst):
            if done:
                raise RuntimeError("crash")
            done.append((src, dst))
            return real_rename(sp, src, dst)

        monkeypatch.setattr(fs, "rename", crash_after_first_rename)
        with pytest.raises(RuntimeError, match="crash"):
            eng.purge_expired(now=now)
        monkeypatch.setattr(fs, "rename", real_rename)

        reopened = Engine(spark, path)
        assert reopened.get("e.t", now=now) == before
        assert reopened.count(now=now) == len(before)
        assert reopened.put_entry(Entry("e.t", b"next"), ts=now) > max(seqs)


class TestDelete:
    def test_delete_then_get(self, engine: Engine):
        seqs = [engine.put_entry(Entry("d.t", b"m%d" % i), ts=T0 + i) for i in range(4)]
        engine.delete(seqs[2])
        assert engine.get("d.t", now=T0 + 10) == [b"m3", b"m1", b"m0"]

    def test_immutable_forbids_delete(self, spark, tmp_path):
        eng = Engine.open(spark, str(tmp_path / "imm"), immutable=True)
        eng.put_entry(Entry("a.b", b"x"), ts=T0)
        with pytest.raises(ImmutableError):
            eng.delete(1)

    def test_delete_entry_by_id(self, engine: Engine):
        from unitdb_spark.core.model import message_id

        e = Entry("d.t", b"gone").with_id(message_id(0, MASTER_CONTRACT, T0))
        seq = engine.put_entry(Entry("d.t", b"gone"), ts=T0)
        engine.delete_entry(Entry("d.t").with_id(message_id(seq, MASTER_CONTRACT, T0)))
        assert engine.get("d.t", now=T0 + 10) == []


class TestContracts:
    def test_isolation(self, engine: Engine):
        c2 = 424242
        engine.put_entry(Entry("same.topic", b"master"), ts=T0)
        engine.put_entry(Entry("same.topic", b"tenant", contract=c2), ts=T0)
        assert engine.get(Query("same.topic"), now=T0 + 10) == [b"master"]
        assert engine.get(Query("same.topic", contract=c2), now=T0 + 10) == [b"tenant"]


class TestWildcardsThroughSpark:
    """db_test.go:288-318 through the full engine path."""

    def test_query_side_wildcards(self, engine: Engine):
        engine.put_entry(Entry("teams.alpha.ch1", b"a1"), ts=T0)
        engine.put_entry(Entry("teams.alpha.ch2", b"a2"), ts=T0 + 1)
        engine.put_entry(Entry("teams.beta.ch1", b"b1"), ts=T0 + 2)
        engine.put_entry(Entry("other.alpha.ch1", b"o1"), ts=T0 + 3)

        assert engine.get("teams.alpha.*", now=T0 + 10) == [b"a2", b"a1"]
        assert engine.get("teams...", now=T0 + 10) == [b"b1", b"a2", b"a1"]
        assert engine.get("teams.*.ch1", now=T0 + 10) == [b"b1", b"a1"]
        assert engine.get("...", now=T0 + 10) == [b"o1", b"b1", b"a2", b"a1"]

    def test_write_side_wildcards(self, engine: Engine):
        # wildcards are legal on write; a stored pattern matches later
        # static queries (db_test.go:296-317 symmetric direction)
        engine.put_entry(Entry("teams.alpha.*", b"pat1"), ts=T0)
        engine.put_entry(Entry("teams...", b"pat2"), ts=T0 + 1)
        engine.put_entry(Entry("teams.alpha.ch1", b"conc"), ts=T0 + 2)

        got = engine.get("teams.alpha.ch1", now=T0 + 10)
        assert got == [b"conc", b"pat2", b"pat1"]
        # deeper topic: only '...' pattern matches
        assert engine.get("teams.alpha.ch1.u1", now=T0 + 10) == [b"pat2"]
        # different team: only 'teams...' matches
        assert engine.get("teams.beta.ch9", now=T0 + 10) == [b"pat2"]

    def test_tail_query_matches_deeper_tail_write(self, engine: Engine):
        """Stored 'a.b...' must be visible to a 'a...' query — both
        sides carry tails; batch Get, the Python matcher and streaming
        fan-out all agree."""
        engine.put_entry(Entry("a.b...", b"deep"), ts=T0)
        engine.put_entry(Entry("z.z", b"other"), ts=T0 + 1)
        assert engine.get("a...", now=T0 + 10) == [b"deep"]
        assert engine.get("a.b.c", now=T0 + 10) == [b"deep"]  # under the tail
        assert engine.get("a.*", now=T0 + 10) == []  # depth-2 query vs depth-3 pattern
        assert engine.get("b...", now=T0 + 10) == []

    def test_deep_star_matrix(self, engine: Engine):
        deep = "unit.b.b1.b11.b111.b1111.b11111.b111111"
        engine.put_entry(Entry(deep, b"deep"), ts=T0)
        assert engine.get("unit.*.b1.b11.*.*.b11111.*", now=T0 + 10) == [b"deep"]
        assert engine.get("unit.*.b1.*.*.*.b11111.*", now=T0 + 10) == [b"deep"]
        assert engine.get("unit.b...", now=T0 + 10) == [b"deep"]
        assert engine.get("unit.b", now=T0 + 10) == []


class TestCountVarz:
    def test_count_and_varz(self, engine: Engine):
        for i in range(7):
            engine.put_entry(Entry("c.t", b"x"), ts=T0 + i)
        engine.delete(1)
        assert engine.count(now=T0 + 10) == 6
        v = engine.varz()
        assert v["puts"] == 7 and v["dels"] == 1

    def test_file_size_grows(self, engine: Engine):
        """FileSize parity (db.go:474-482): 0 before any flush, >0
        after, and monotonically growing with appended data."""
        assert engine.file_size() == 0
        engine.put_entry(Entry("c.t", b"x" * 100), ts=T0)
        engine.flush()
        s1 = engine.file_size()
        assert s1 > 0
        for i in range(50):
            engine.put_entry(Entry("c.t", b"y" * 200), ts=T0 + 1 + i)
        engine.flush()
        assert engine.file_size() > s1

    def test_varz_latency_percentiles(self, engine: Engine):
        seq = engine.put_entry(Entry("c.t", b"x"), ts=T0)
        engine.flush()
        for _ in range(3):
            engine.get("c.t", now=T0 + 10)
        engine.delete(seq)
        varz = engine.varz()
        lat = varz["get_latency"]
        assert lat["n"] == 3
        assert 0 < lat["p50"] <= lat["p95"] <= lat["p999"]
        assert lat["hmean"] > 0
        # one flushed append, one tombstone write
        for op in ("put", "del"):
            assert varz[f"{op}_latency"]["n"] == 1
            assert varz[f"{op}_latency"]["p50"] > 0


class TestEncryption:
    """Payload value-codec parity (db.go:281-294; reference uses
    chacha20-poly1305, we use JVM-side AES-GCM via aes_encrypt)."""

    def test_roundtrip_and_at_rest_ciphertext(self, spark, tmp_path):
        from unitdb_spark.engine import Engine

        key = b"0123456789abcdef"  # 16-byte AES-128 key
        eng = Engine.open(spark, str(tmp_path / "enc"), encryption_key=key)
        try:
            eng.put("unit1.sec", b"secret-payload")
            eng.put("unit1.sec", b"second")
            assert eng.get("unit1.sec") == [b"second", b"secret-payload"]
            # at rest: raw parquet holds ciphertext, not the plaintext
            raw = {bytes(r[0]) for r in eng.table.read().select("payload").collect()}
            assert b"secret-payload" not in raw and b"second" not in raw
        finally:
            eng.destroy()

    def test_per_entry_encryption_mixed_store(self, spark, tmp_path):
        """Per-entry WithEncryption (entry.go:54-95, ID bit
        db_internal.go:304-306): with encrypt_all=False only flagged
        entries are ciphertext at rest; reads decrypt selectively so
        both kinds round-trip from one store."""
        from unitdb_spark.engine import Engine

        eng = Engine.open(
            spark,
            str(tmp_path / "mixed"),
            encryption_key=b"0123456789abcdef",
            encrypt_all=False,
        )
        try:
            eng.put_entry(Entry("unit1.mix", b"plain-one"), ts=T0)
            eng.put_entry(
                Entry("unit1.mix", b"secret-two").with_encryption(), ts=T0 + 1
            )
            eng.put_entry(Entry("unit1.mix", b"plain-three"), ts=T0 + 2)
            # reads decrypt selectively: everything round-trips
            assert eng.get("unit1.mix", now=T0 + 10) == [
                b"plain-three",
                b"secret-two",
                b"plain-one",
            ]
            # at rest: only the flagged entry is ciphertext
            raw = {
                bool(r["encrypted"]): bytes(r["payload"])
                for r in eng.table.read().select("encrypted", "payload").collect()
                if r["payload"] not in (b"plain-one", b"plain-three")
            }
            assert set(raw) == {True} and raw[True] != b"secret-two"
        finally:
            eng.destroy()

    def test_entry_encryption_requires_key(self, spark, tmp_path):
        from unitdb_spark.engine import Engine

        eng = Engine.open(spark, str(tmp_path / "nokey"))
        with pytest.raises(ValueError, match="encryption_key"):
            eng.put_entry(Entry("a.b", b"x").with_encryption())

    def test_legacy_store_without_marker_column_decrypts(self, spark, tmp_path):
        """A store written before the `encrypted` marker column existed
        (round-1 behavior: key set => every payload encrypted; files
        carry no marker, so the fixed read schema yields NULL) must
        still decrypt on read — a NULL marker follows the store-wide
        setting, never 'plaintext'."""
        from unitdb_spark.engine import Engine

        import shutil

        key = b"0123456789abcdef"
        eng = Engine.open(spark, str(tmp_path / "legacy"), encryption_key=key)
        try:
            eng.put_entry(Entry("unit1.old", b"legacy-secret"), ts=T0)
            eng.flush()
            # Rewrite the table without the marker column == legacy files.
            rewrite = str(tmp_path / "legacy_rewrite")
            eng.table.read().drop("encrypted").write.partitionBy(
                "contract", "p_date"
            ).parquet(rewrite)
            shutil.rmtree(eng.table.path)
            shutil.move(rewrite, eng.table.path)

            reopened = Engine(spark, str(tmp_path / "legacy"), eng.options)
            assert reopened.get("unit1.old", now=T0 + 10) == [b"legacy-secret"]
        finally:
            eng.destroy()

    def test_wrong_key_unreadable(self, spark, tmp_path):
        from unitdb_spark.engine import Engine, EngineOptions

        path = str(tmp_path / "enc2")
        eng = Engine.open(spark, path, encryption_key=b"0123456789abcdef")
        eng.put("unit1.sec", b"secret")
        eng.flush()
        eng2 = Engine(eng.spark, path, EngineOptions(encryption_key=b"fedcba9876543210"))
        import pytest as _pytest

        with _pytest.raises(Exception):
            eng2.get("unit1.sec")
        eng.destroy()


class TestCompact:
    def test_compact_merges_fragmented_partitions_only(self, spark, tmp_path):
        """Many micro-batch appends fragment a partition; compact()
        bin-packs it back down without touching healthy partitions or
        changing any query result."""
        from unitdb_spark.engine import Engine

        eng = Engine.open(spark, str(tmp_path / "frag"))
        try:
            # 6 separate flushes -> >= 6 files in the same partition
            for i in range(6):
                eng.put_entry(Entry("frag.topic", b"m%d" % i), ts=T0 + i)
                eng.flush()
            # one healthy partition on another day (single flush)
            eng.put_entry(Entry("ok.topic", b"solo"), ts=T0 + 90_000)
            eng.flush()
            before = eng.get("frag.topic", now=T0 + 100)
            report = eng.compact(min_files=4)
            assert len(report) == 1  # only the fragmented partition
            (part, (n_before, n_after)), = report.items()
            assert n_before >= 6 and n_after == 1
            # data unchanged, newest-first order preserved
            assert eng.get("frag.topic", now=T0 + 100) == before
            assert eng.get("ok.topic", now=T0 + 100_000) == [b"solo"]
            # idempotent: nothing left to do
            assert eng.compact(min_files=4) == {}
        finally:
            eng.destroy()


class TestVacuum:
    def test_vacuum_applies_tombstones_physically_and_retires_them(
        self, spark, tmp_path
    ):
        from unitdb_spark import fs
        from unitdb_spark.engine import Engine

        eng = Engine.open(spark, str(tmp_path / "vac"))
        try:
            seqs = []
            for i in range(4):
                seqs.append(eng.put_entry(Entry("v.t", b"d%d" % i), ts=T0 + i))
            # second partition (next day)
            seqs.append(eng.put_entry(Entry("v.t", b"other-day"), ts=T0 + 90_000))
            eng.flush()
            eng.delete(seqs[1])
            eng.delete(seqs[4])
            before = eng.get("v.t", now=T0 + 100_000)
            assert len(before) == 3  # tombstones already applied at read
            report = eng.vacuum()
            assert sum(report.values()) == 2 and len(report) == 2
            # tombstone set retired; reads unchanged; lease released
            assert not fs.has_files(spark, eng.tombstones_path)
            assert not fs.exists(spark, eng.table.lease_path)
            assert eng.get("v.t", now=T0 + 100_000) == before
            # rows are PHYSICALLY gone (raw read, no anti-join)
            raw = {r["seq"] for r in eng.table.read().select("seq").collect()}
            assert raw == set(seqs) - {seqs[1], seqs[4]}
            # re-runnable no-op, and appends still work
            assert eng.vacuum() == {}
            eng.put_entry(Entry("v.t", b"after"), ts=T0 + 5)
            eng.flush()
            assert len(eng.get("v.t", now=T0 + 100_000)) == 4
        finally:
            eng.destroy()

    def test_vacuum_with_nonexistent_seq_tombstone(self, spark, tmp_path):
        """A tombstone for a seq no partition holds (deleted before
        flush, or double-deleted after a previous vacuum) must retire
        without rewriting anything."""
        from unitdb_spark import fs
        from unitdb_spark.engine import Engine

        eng = Engine.open(spark, str(tmp_path / "vac2"))
        try:
            eng.put_entry(Entry("v.t", b"keep"), ts=T0)
            eng.flush()
            eng.delete(10_000_000)  # matches nothing
            assert eng.vacuum() == {}
            assert not fs.has_files(spark, eng.tombstones_path)
            assert eng.get("v.t", now=T0 + 10) == [b"keep"]
        finally:
            eng.destroy()


class TestGetResultCap:
    def test_oversized_result_aborts_before_buffering(self, spark, tmp_path):
        """limit × payload products past the cap must raise mid-fetch,
        not OOM the driver after collecting everything."""
        import pytest as _pytest

        from unitdb_spark.engine import Engine, ResultTooLarge

        eng = Engine.open(spark, str(tmp_path / "capped"))
        try:
            big = b"x" * 100_000
            for i in range(30):
                eng.put_entry(Entry("cap.t", big), ts=T0 + i)
            eng.flush()
            # default cap (512 MB): 3 MB result passes untouched
            assert len(eng.get("cap.t", now=T0 + 100)) == 30
            # per-call cap below the result size: loud abort
            with _pytest.raises(ResultTooLarge, match="get_df"):
                eng.get("cap.t", now=T0 + 100, max_result_bytes=1_000_000)
            # explicit None disables the guard entirely
            assert len(eng.get("cap.t", now=T0 + 100, max_result_bytes=None)) == 30
            # engine-wide option applies to get_many too
            eng.options.max_get_result_bytes = 1_000_000
            with _pytest.raises(ResultTooLarge):
                eng.get_many(["cap.t"], now=T0 + 100)
        finally:
            eng.destroy()


class TestCompactSafety:
    def test_append_refuses_while_lease_held(self, spark, tmp_path):
        """Single-writer guard: any append (flush / put_df / streaming
        foreachBatch — all route through MessagesTable.append) refuses
        loudly while a compaction lease is held, instead of racing the
        partition swap and losing the new file to the trash delete."""
        import pytest as _pytest

        from unitdb_spark import fs
        from unitdb_spark.engine import Engine

        eng = Engine.open(spark, str(tmp_path / "leased"))
        try:
            eng.put_entry(Entry("a.b", b"before"), ts=T0)
            eng.flush()
            fs.write_text(spark, eng.table.lease_path, "")
            eng.put_entry(Entry("a.b", b"blocked"), ts=T0 + 1)
            with _pytest.raises(RuntimeError, match="compact"):
                eng.flush()
            fs.delete(spark, eng.table.lease_path)
            eng.flush()  # lease released -> append proceeds
            assert eng.get("a.b", now=T0 + 10) == [b"blocked", b"before"]
        finally:
            fs.delete(spark, eng.table.lease_path)
            eng.destroy()

    def test_compact_raises_when_lease_already_held(self, spark, tmp_path):
        from unitdb_spark import fs
        from unitdb_spark.engine import Engine

        import pytest as _pytest

        eng = Engine.open(spark, str(tmp_path / "held"))
        try:
            for i in range(5):
                eng.put_entry(Entry("h.t", b"m%d" % i), ts=T0 + i)
                eng.flush()
            fs.write_text(spark, eng.table.lease_path, "")
            with _pytest.raises(RuntimeError, match="lease"):
                eng.compact(min_files=4)
        finally:
            fs.delete(spark, eng.table.lease_path)
            eng.destroy()

    def test_recovery_restores_trash_when_stage_incomplete(self, spark, tmp_path):
        """Crash during the stage write (no _SUCCESS): the original
        partition must come back from trash, the partial stage dropped."""
        from unitdb_spark import fs
        from unitdb_spark.engine import Engine

        path = str(tmp_path / "crashearly")
        eng = Engine.open(spark, path)
        eng.put_entry(Entry("r.t", b"keep"), ts=T0)
        eng.flush()
        root = eng.table.path
        part = next(
            f"{c}/{d}"
            for c, _, cd in fs.list_status(spark, root)
            if cd and c.startswith("contract=")
            for d, _, dd in fs.list_status(spark, f"{root}/{c}")
            if dd and d.startswith("p_date=")
        )
        ppath = f"{root}/{part}"
        stage = f"{path}/.compact-part/stage/{part}"
        fs.mkdirs(spark, stage)
        fs.write_text(spark, f"{stage}/part-torn.parquet", "not a rewrite")
        trash = f"{path}/.compact-part/trash/{part}"
        fs.mkdirs(spark, str(__import__("pathlib").Path(trash).parent))
        fs.rename(spark, ppath, trash)
        spark.catalog.refreshByPath(root)
        reopened = Engine(spark, path)
        assert reopened.get("r.t", now=T0 + 10) == [b"keep"]
        assert not fs.exists(spark, stage)
        reopened.destroy()


class TestMaintenanceCrashPoints:
    """Crash compact, vacuum and purge_expired at each fs.rename /
    fs.delete call they make (the call raises instead of running),
    reopen the store, and compare it with the state before the job:
    the same live rows, no duplicate seq, nothing left under
    ``.compact-part/``, and a seq counter above every stored seq."""

    NOW = T0 + 200_000

    @pytest.fixture(scope="class")
    def base_store(self, spark, tmp_path_factory):
        """Day 0: four one-row files (compact's target) holding an
        expired row (purge_expired's) and a tombstoned one (vacuum's).
        Day 1: one healthy file no job touches. Day 2: only an expired
        row, so purge_expired drops the whole partition."""
        path = str(tmp_path_factory.mktemp("crash") / "base")
        eng = Engine.open(spark, path)
        eng.put_entry(Entry("k.t", b"expired", ttl="1s"), ts=T0)
        eng.flush()
        seqs = []
        for i in range(3):
            seqs.append(eng.put_entry(Entry("k.t", b"v%d" % i), ts=T0 + 1 + i))
            eng.flush()
        eng.put_entry(Entry("k.t", b"next-day"), ts=T0 + 90_000)
        eng.put_entry(Entry("k.t", b"expired-day", ttl="1s"), ts=T0 + 180_000)
        eng.flush()
        eng.delete(seqs[1])
        return path

    @staticmethod
    def _live_seqs(eng: Engine, now: float) -> list[int]:
        df = eng.get_df(Query("...", limit=1000), now=now)
        return sorted(r["seq"] for r in df.select("seq").collect())

    @pytest.mark.parametrize(
        "op",
        [
            lambda e: e.compact(min_files=4),
            lambda e: e.vacuum(),
            lambda e: e.purge_expired(now=TestMaintenanceCrashPoints.NOW),
        ],
        ids=["compact", "vacuum", "purge_expired"],
    )
    def test_crash_at_every_rename_and_delete(self, spark, base_store, tmp_path, monkeypatch, op):
        import shutil

        from unitdb_spark import fs

        real = {"rename": fs.rename, "delete": fs.delete}
        want = self._live_seqs(Engine(spark, base_store), self.NOW)
        for k in range(50):
            path = str(tmp_path / f"k{k}")
            shutil.copytree(base_store, path)
            eng = Engine(spark, path)
            calls = []

            def faulty(name):
                def call(*args, **kwargs):
                    calls.append(name)
                    if len(calls) == k + 1:
                        raise RuntimeError(f"crash at {name} #{k}")
                    return real[name](*args, **kwargs)

                return call

            for name in real:
                monkeypatch.setattr(fs, name, faulty(name))
            try:
                op(eng)
                crashed = False
            except RuntimeError as e:
                assert str(e).startswith("crash at"), e
                crashed = True
            finally:
                for name, fn in real.items():
                    monkeypatch.setattr(fs, name, fn)

            reopened = Engine(spark, path)
            assert self._live_seqs(reopened, self.NOW) == want, f"crash at call {k}"
            raw = [r["seq"] for r in reopened.table.read().select("seq").collect()]
            assert len(raw) == len(set(raw)), f"duplicate rows after crash at call {k}"
            assert not fs.has_files(spark, f"{path}/.compact-part", ""), k
            assert reopened.put_entry(Entry("k.t", b"new"), ts=self.NOW) > max(raw)
            if not crashed:
                break
        else:
            pytest.fail("the job never finished without reaching the crash point")
        assert k >= 5  # at least the swap's two deletes, two renames and trash drop


class TestCompactMixedGenerations:
    def test_compact_preserves_marker_for_legacy_files(self, spark, tmp_path):
        """A partition mixing legacy files (no `encrypted` column) with
        current files must keep the marker column through compaction —
        schema inference from the legacy file would silently drop it
        and decrypt-on-read semantics with it."""
        import shutil

        from unitdb_spark.engine import Engine

        key = b"0123456789abcdef"
        eng = Engine.open(spark, str(tmp_path / "mix"), encryption_key=key)
        try:
            for i in range(3):
                eng.put_entry(Entry("m.t", b"enc%d" % i), ts=T0 + i)
                eng.flush()
            # rewrite ONE data file without the marker column (legacy)
            part_dirs = sorted(
                p for p in (tmp_path / "mix" / "messages").rglob("*.parquet")
            )
            legacy_src = str(part_dirs[0])
            df = spark.read.parquet(legacy_src).drop("encrypted")
            tmp_out = str(tmp_path / "legacy_one")
            df.coalesce(1).write.parquet(tmp_out)
            new_file = next((tmp_path / "legacy_one").glob("*.parquet"))
            shutil.copy(new_file, legacy_src)
            # drop the stale Hadoop checksum sidecar and the session's
            # cached file status for the replaced file
            from pathlib import Path as _P

            crc = _P(legacy_src).parent / ("." + _P(legacy_src).name + ".crc")
            if crc.exists():
                crc.unlink()
            spark.catalog.refreshByPath(str(tmp_path / "mix" / "messages"))

            # pre-compact: legacy row reads marker NULL -> still decrypts
            assert eng.get("m.t", now=T0 + 10) == [b"enc2", b"enc1", b"enc0"]
            report = eng.compact(min_files=2)
            assert report, "fragmented partition should compact"
            reopened = Engine(spark, str(tmp_path / "mix"), eng.options)
            assert reopened.get("m.t", now=T0 + 10) == [b"enc2", b"enc1", b"enc0"]
            assert "encrypted" in reopened.table.read().columns
        finally:
            eng.destroy()


class TestVacuumConcurrency:
    def test_tombstone_appended_after_snapshot_survives(
        self, spark, tmp_path, monkeypatch
    ):
        """A delete() landing between vacuum's tombstone snapshot and
        the retire step must NOT be discarded (that would silently
        un-delete the row); it stays live for the next vacuum run."""
        from unitdb_spark import fs
        from unitdb_spark import engine as eng_mod
        from unitdb_spark.engine import Engine

        eng = Engine.open(spark, str(tmp_path / "vacc"))
        try:
            seqs = [eng.put_entry(Entry("v.t", b"d%d" % i), ts=T0 + i) for i in range(3)]
            eng.flush()
            eng.delete(seqs[0])

            real_ls = eng_mod.fs.list_status
            fired = {}

            def racing_ls(sp, path):
                res = real_ls(sp, path)
                if path == eng.tombstones_path and "x" not in fired:
                    fired["x"] = True
                    eng.delete(seqs[1])  # lands AFTER the snapshot
                return res

            monkeypatch.setattr(eng_mod.fs, "list_status", racing_ls)
            report = eng.vacuum()
            monkeypatch.setattr(eng_mod.fs, "list_status", real_ls)

            assert sum(report.values()) == 1  # only the snapshotted seq applied
            # the concurrent tombstone survived the retire step...
            assert fs.has_files(spark, eng.tombstones_path)
            # ...so the row stays hidden from reads
            assert len(eng.get("v.t", now=T0 + 100)) == 1
            # and the NEXT vacuum applies it physically
            report2 = eng.vacuum()
            assert sum(report2.values()) == 1
            assert not fs.has_files(spark, eng.tombstones_path)
            raw = {r["seq"] for r in eng.table.read().select("seq").collect()}
            assert raw == {seqs[2]}
        finally:
            eng.destroy()

    def test_skipped_partition_keeps_snapshot_tombstones(
        self, spark, tmp_path, monkeypatch
    ):
        """A writer that ignores the lease lands a file in the partition
        vacuum is rewriting, so the pre-swap re-check skips it. The
        snapshotted tombstones must then stay: retiring them would
        bring the skipped partition's deleted row back."""
        from unitdb_spark import fs
        from unitdb_spark import engine as eng_mod
        from unitdb_spark.engine import Engine

        eng = Engine.open(spark, str(tmp_path / "vacskip"))
        try:
            seqs = [eng.put_entry(Entry("v.t", b"d%d" % i), ts=T0 + i) for i in range(3)]
            eng.flush()
            eng.delete(seqs[0])

            real_ls = eng_mod.fs.list_status
            fired = {}

            def racing_ls(sp, path):
                res = real_ls(sp, path)
                if path.startswith(eng.table.path + "/") and "p_date=" in path and "x" not in fired:
                    fired["x"] = True
                    fs.delete(spark, eng.table.lease_path)
                    eng.put_entry(Entry("v.t", b"late"), ts=T0 + 5)
                    eng.flush()
                    fs.create_new(spark, eng.table.lease_path)
                return res

            monkeypatch.setattr(eng_mod.fs, "list_status", racing_ls)
            report = eng.vacuum()
            monkeypatch.setattr(eng_mod.fs, "list_status", real_ls)

            assert fired and report == {}  # the only affected partition was skipped
            assert fs.has_files(spark, eng.tombstones_path)
            assert not fs.exists(spark, eng.table.lease_path)
            assert eng.get("v.t", now=T0 + 100) == [b"late", b"d2", b"d1"]
            # the next run applies the kept tombstone
            assert sum(eng.vacuum().values()) == 1
            assert not fs.has_files(spark, eng.tombstones_path)
            assert eng.get("v.t", now=T0 + 100) == [b"late", b"d2", b"d1"]
        finally:
            eng.destroy()
