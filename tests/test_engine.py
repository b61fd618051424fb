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
from collections.abc import Callable
from pathlib import Path

import pytest

from unitdb_spark.core.model import MASTER_CONTRACT, Entry, Query
from unitdb_spark.engine import Engine, ImmutableError

T0 = 1_700_000_000.0  # fixed test clock base


def _parquet_files(root: str) -> list[str]:
    """The Parquet files on disk under ``root``, committed or not."""
    return sorted(str(p) for p in Path(root).rglob("*.parquet"))


def _log_entries(table) -> list[dict]:
    """Every version of a table's log, in order."""
    import json

    from unitdb_spark import fs

    return [json.loads(fs.read_text(table.spark, table._log_file(v))) for v in range(table.version + 1)]


def _before_commits(monkeypatch, actions: list) -> list[bool]:
    """Run ``actions[i]`` just before the i-th log commit that follows
    (another writer's commit landing first); returns the result of every
    commit, the actions' own included, in the order they finish."""
    from unitdb_spark import fs

    real, results, pending = fs.create_atomic, [], list(actions)

    def commit(*args, **kwargs):
        if pending:
            pending.pop(0)()
        results.append(real(*args, **kwargs))
        return results[-1]

    monkeypatch.setattr(fs, "create_atomic", commit)
    return results


def _jobs_and_writes(spark, monkeypatch, fn: Callable[[], object]) -> tuple[object, list[int], list[str]]:
    """Run ``fn``; returns its result, the Spark jobs it started and the
    ``DataFrameWriter`` methods it called."""
    import uuid

    from pyspark.sql import DataFrameWriter

    writes = []

    def spy(name):
        real = getattr(DataFrameWriter, name)

        def call(self, *args, **kwargs):
            writes.append(name)
            return real(self, *args, **kwargs)

        return call

    for name in ("parquet", "save", "saveAsTable", "insertInto"):
        monkeypatch.setattr(DataFrameWriter, name, spy(name))
    sc, group = spark.sparkContext, f"jobs-and-writes-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count what one call runs")
    try:
        out = fn()
        return out, list(sc.statusTracker().getJobIdsForGroup(group)), writes
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _with_tombstone_files(spark, path: str, keep_log: bool) -> None:
    """Rewrite a store's deletes the way older sparkmsg stored them: each
    version's deleted seqs become one Parquet file under ``tombstones/``,
    named by that version's ``add_tombstones`` (``keep_log``), or, with
    the log removed, found by the conversion's listing."""
    import json
    import shutil
    import uuid

    log = Path(path) / "messages" / "_log"
    for i, f in enumerate(sorted(log.glob("*.json"))):
        entry = json.loads(f.read_text())
        assert "retire" not in entry
        if "delete" not in entry:
            continue
        out = Path(path) / "tombstones" / f"_w{i}"
        spark.createDataFrame([(s,) for s in entry.pop("delete")], "seq long").coalesce(1).write.parquet(str(out))
        name = f"part-00000-{uuid.uuid4().hex}.parquet"
        next(out.glob("*.parquet")).rename(out.parent / name)
        shutil.rmtree(out)
        entry["add_tombstones"] = [name]
        f.write_text(json.dumps(entry))
        f.with_name(f".{f.name}.crc").unlink()  # Hadoop's checksum of the old text
    if not keep_log:
        shutil.rmtree(log)


def _at_every_crash(monkeypatch, base: str, tmp_dir: Path, run: Callable[[str], object],
                    check: Callable[[str, str], None]) -> int:
    """For k = 0, 1, …: copy store ``base``, call ``run(copy)`` with fs
    call k raising, then ``check(copy, where)``. Returns the first k at
    which ``run`` finished."""
    import shutil

    for k in range(100):
        path = str(tmp_dir / f"k{k}")
        shutil.copytree(base, path)
        calls, _, undo = _crash_fs_at(monkeypatch, k)
        try:
            run(path)
            crashed = False
        except RuntimeError as e:
            assert str(e).startswith("crash at"), e
            crashed = True
        finally:
            undo()
        check(path, f"crash at call {k}: {calls[-1]}")
        if not crashed:
            return k
    pytest.fail("the run never finished without reaching the crash point")


def _crash_fs_at(monkeypatch, k: int) -> tuple[list[str], list[int], Callable[[], None]]:
    """Make the (k+1)-th call of any public ``unitdb_spark.fs`` function
    raise instead of running. Returns the names called, a list that
    grows when a ``create_atomic`` succeeds, and the undo."""
    import inspect

    from unitdb_spark import fs

    real = {
        n: f for n, f in inspect.getmembers(fs, inspect.isfunction)
        if f.__module__ == fs.__name__ and not n.startswith("_")
    }
    calls, committed = [], []

    def faulty(name):
        def call(*args, **kwargs):
            calls.append(name)
            if len(calls) == k + 1:
                raise RuntimeError(f"crash at {name} #{k}")
            out = real[name](*args, **kwargs)
            if name == "create_atomic" and out:
                committed.append(k)
            return out

        return call

    for name in real:
        monkeypatch.setattr(fs, name, faulty(name))
    return calls, committed, lambda: [monkeypatch.setattr(fs, n, f) for n, f in real.items()]


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

    def test_puts_and_deletes_are_one_parquet_write(self, engine: Engine, spark, monkeypatch):
        """A batch writes its rows once and lists its deleted seqs in the
        version that names the new files."""
        first = engine.put_entry(Entry("d.c", b"old"), ts=T0)
        engine.flush()

        def batch():
            with engine.batch() as b:
                b.put_entry(Entry("d.c", b"new"), ts=T0 + 1)
                b.delete(first)

        _, _, writes = _jobs_and_writes(spark, monkeypatch, batch)
        assert writes == ["parquet"]
        last = _log_entries(engine.table)[-1]
        assert last["delete"] == [first] and len(last["add"]) == 1
        assert engine.get("d.c", now=T0 + 10) == [b"new"]

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

        assert not fs.exists(spark, engine.table.path)
        assert engine.get("a.b", now=T0) == []
        assert engine.get_many(["a.b", "a.*"], now=T0) == [[], []]
        assert engine.count(now=T0) == 0
        engine.delete(10**9)  # a seq no row holds
        engine.put_entry(Entry("a.b", b"x"), ts=T0)
        assert engine.get("a.*", now=T0) == [b"x"]
        assert engine.count(now=T0) == 1
        # the delete is a log record, not a file
        assert engine.table.deleted == {10**9}
        assert not fs.exists(spark, f"{engine.path}/tombstones")

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
        """A stray ``tombstones/_SUCCESS`` changes nothing: deletes are
        read from the log, and the next open removes the directory."""
        from unitdb_spark import fs

        for i in range(3):
            engine.put_entry(Entry("d.t", b"%d" % i), ts=T0 + i)
        fs.write_text(spark, f"{engine.path}/tombstones/_SUCCESS", "")
        assert engine.table.read_deleted() is None
        assert engine.get("d.t", now=T0 + 10) == [b"2", b"1", b"0"]
        assert engine.count(now=T0 + 10) == 3
        reopened = Engine(spark, engine.path)
        assert reopened.table.deleted == set()
        assert reopened.get("d.t", now=T0 + 10) == [b"2", b"1", b"0"]
        assert not fs.exists(spark, f"{engine.path}/tombstones")

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

    def test_get_df_starts_no_job(self, engine: Engine, spark, monkeypatch):
        """Building a Get's plan runs nothing: the deleted seqs are a
        local relation, and the data files are read with their schema,
        not inferred by a Spark job."""
        seqs = [engine.put_entry(Entry("j.t", b"%d" % i), ts=T0 + i) for i in range(4)]
        engine.flush()
        engine.delete(seqs[1])
        df, jobs, _ = _jobs_and_writes(spark, monkeypatch, lambda: engine.get_df(Query("j.t"), now=T0 + 10))
        assert jobs == []
        assert [r["payload"] for r in df.collect()] == [b"3", b"2", b"0"]

    def test_pending_deletes_are_a_broadcast_local_relation(self, engine: Engine):
        """A Get anti-joins the pending deleted seqs as the broadcast
        build side, a ``LocalTableScan`` (no Python job, no file); the
        only Parquet scan is of ``messages/``."""
        seqs = [engine.put_entry(Entry("j.t", b"%d" % i), ts=T0 + i) for i in range(4)]
        engine.delete(seqs[0])
        engine.delete(seqs[2])
        df = engine.get_df(Query("j.t"), now=T0 + 10)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        join = next(i for i, l in enumerate(lines) if "BroadcastHashJoin" in l)
        assert "LeftAnti, BuildRight" in lines[join]
        build = [l.strip() for l in lines[join + 1:] if "BroadcastExchange" in l or "LocalTableScan" in l]
        assert build[0].startswith("+- BroadcastExchange") and build[1].startswith("+- LocalTableScan [seq")
        assert plan.count("FileScan parquet") == 1
        assert {f.split("/messages/", 1)[1] for f in df.inputFiles()} == engine.table.files
        assert [r["payload"] for r in df.collect()] == [b"3", b"1"]


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
        engine.put_entry(Entry("e.t", b"dead", ttl="1s"), ts=T0)
        engine.put_entry(Entry("e.t", b"live"), ts=T0 + 90_000)
        engine.flush()
        dead_part, live_part = sorted(engine.table.partitions())
        live_files = engine.table.partitions()[live_part]
        engine.purge_expired(now=T0 + 100_000)
        assert engine.table.partitions() == {live_part: live_files}
        dead_dir = f"{engine.table.path}/{dead_part}"
        assert _parquet_files(dead_dir) == []  # dropped files are deleted
        assert engine.get("e.t", now=T0 + 100_000) == [b"live"]

    def test_purge_crash_between_renames_loses_nothing(self, spark, tmp_path, monkeypatch):
        """A crash right after purge_expired's first rename must be
        recovered at the next open: same reads, and the seq counter
        resumes above every stored seq (a reused seq would be hidden by
        a delete still pending in the log)."""
        from unitdb_spark import fs

        path = str(tmp_path / "purgecrash")
        eng = Engine.open(spark, path)
        eng.put_entry(Entry("e.t", b"dead", ttl="1s"), ts=T0)
        seqs = [eng.put_entry(Entry("e.t", b"live%d" % i), ts=T0 + i) for i in range(3)]
        # a second partition with an expired row: purge rewrites two
        # partitions, one rename each
        eng.put_entry(Entry("e.t", b"dead-next-day", ttl="1s"), ts=T0 + 90_000)
        seqs.append(eng.put_entry(Entry("e.t", b"next-day"), ts=T0 + 90_001))
        eng.flush()
        eng.delete(seqs[0])
        now = T0 + 100_000
        before = eng.get("e.t", now=now)
        assert before == [b"next-day", b"live2", b"live1"]

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

    def test_delete_is_one_log_commit(self, engine: Engine, spark, monkeypatch):
        """A delete starts no Spark job and writes no file: its one fs
        call publishes the log version that lists the seq."""
        seq = engine.put_entry(Entry("d.t", b"x"), ts=T0)
        engine.flush()
        calls, _, undo = _crash_fs_at(monkeypatch, 10**6)
        try:
            _, jobs, writes = _jobs_and_writes(spark, monkeypatch, lambda: engine.delete(seq))
        finally:
            undo()
        assert (jobs, writes, calls) == ([], [], ["create_atomic"])
        assert _log_entries(engine.table)[-1] == {"delete": [seq], "max_seq": seq}
        assert engine.get("d.t", now=T0 + 10) == []

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

    def test_get_reads_only_its_contracts_files(self, engine: Engine):
        c2 = 424242
        engine.put_entry(Entry("t", b"master"), ts=T0)
        engine.put_entry(Entry("t", b"tenant", contract=c2), ts=T0)
        engine.flush()
        for contracts in ([c2], [MASTER_CONTRACT, c2]):
            files = engine.table.read(contracts).inputFiles()
            assert sorted(f.split("/contract=")[1].split("/")[0] for f in files) == sorted(map(str, contracts))
        assert engine.get_many([Query("t"), Query("t", contract=c2)], now=T0 + 10) == [[b"master"], [b"tenant"]]


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
        # one flushed append, one delete commit
        for op in ("put", "del"):
            assert varz[f"{op}_latency"]["n"] == 1
            assert varz[f"{op}_latency"]["p50"] > 0


    def test_varz_reports_the_last_gets_scan(self, engine: Engine):
        """``varz()['last_get']`` is what the last fetched Get read (from
        its executed plan, through AQE's stages for ``get_many``) and
        what it returned."""
        assert "last_get" not in engine.varz()
        for day in range(3):
            for i in range(4):
                engine.put_entry(Entry("s.t" if i % 2 else "s.u", b"x"), ts=T0 + day * 86400 + i)
            engine.flush()
        size = sum(Path(f).stat().st_size for f in _parquet_files(engine.table.path))
        engine.get("s.t", now=T0 + 3 * 86400)
        assert engine.varz()["last_get"] == {
            "files": 3, "bytes": size, "rows_read": 12, "rows_returned": 6, "read_amplification": 2.0
        }
        engine.get("s.t?last=1h", now=T0 + 2 * 86400 + 100)  # one date partition
        last = engine.varz()["last_get"]
        assert (last["files"], last["rows_read"], last["rows_returned"]) == (1, 4, 2)
        engine.get_many(["s.t", "s.u"], now=T0 + 3 * 86400)
        last = engine.varz()["last_get"]
        assert (last["files"], last["rows_read"], last["rows_returned"]) == (3, 12, 12)


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

    def test_uncommitted_file_does_not_size_a_partition(self, spark, tmp_path):
        """A crashed write's file in a fragmented partition is not data:
        the partition compacts to the same file count with it as
        without it."""
        import shutil

        base = str(tmp_path / "sized")
        eng = Engine.open(spark, base)
        for i in range(6):
            eng.put_entry(Entry("frag.topic", b"m%d" % i), ts=T0 + i)
            eng.flush()
        committed = sum(Path(f).stat().st_size for f in _parquet_files(eng.table.path))
        stray_store = str(tmp_path / "stray")
        shutil.copytree(base, stray_store)
        (part,) = eng.table.partitions()
        stray = Path(stray_store) / "messages" / part / "part-00000-0123456789abcdef0123456789abcdef.parquet"
        stray.write_bytes(b"\0" * (10 * committed))
        reports = [Engine(spark, p).compact(target_file_bytes=committed + 1, min_files=4) for p in (base, stray_store)]
        assert reports[0] == reports[1] == {part: (6, 1)}
        assert stray.exists()  # not the compaction's to reclaim
        assert Engine(spark, stray_store).get("frag.topic", now=T0 + 100) == [b"m%d" % i for i in reversed(range(6))]


class TestVacuum:
    def test_vacuum_applies_tombstones_physically_and_retires_them(
        self, spark, tmp_path
    ):
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
            assert len(before) == 3  # deletes already applied at read
            report = eng.vacuum()
            assert sum(report.values()) == 2 and len(report) == 2
            # the deleted set is retired by the vacuum's version; reads unchanged
            assert eng.table.deleted == set()
            assert _log_entries(eng.table)[-1]["retire"] == sorted([seqs[1], seqs[4]])
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
        from unitdb_spark.engine import Engine

        eng = Engine.open(spark, str(tmp_path / "vac2"))
        try:
            eng.put_entry(Entry("v.t", b"keep"), ts=T0)
            eng.flush()
            eng.delete(10_000_000)  # matches nothing
            files = set(eng.table.files)
            assert eng.vacuum() == {}
            assert eng.table.deleted == set() and eng.table.files == files
            assert _log_entries(eng.table)[-1] == {"retire": [10_000_000], "max_seq": 1}
            assert eng.get("v.t", now=T0 + 10) == [b"keep"]
        finally:
            eng.destroy()


    def test_vacuum_bin_packs_the_partition(self, spark, tmp_path):
        """A partition vacuum rewrites comes back packed as compact packs
        it: two small files with one deleted row become one file."""
        eng = Engine.open(spark, str(tmp_path / "vacpack"))
        try:
            seqs = []
            for flush in range(2):
                seqs += [eng.put_entry(Entry("v.t", b"%d.%d" % (flush, i)), ts=T0 + 3 * flush + i) for i in range(3)]
                eng.flush()
            ((part, files),) = eng.table.partitions().items()
            assert len(files) == 2
            before = eng.get("v.t", now=T0 + 10)
            eng.delete(seqs[1])
            assert eng.vacuum() == {part: 1}
            assert len(eng.table.partitions()[part]) == 1
            assert eng.get("v.t", now=T0 + 10) == [p for p in before if p != b"0.1"]
            raw = sorted(r["seq"] for r in eng.table.read().select("seq").collect())
            assert raw == sorted(set(seqs) - {seqs[1]})
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


def _serving_threads(spark) -> list[str]:
    """The JVM threads serving a collected or streamed result to Python."""
    threads = spark._jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
    return [t.getName() for t in threads if t.getName() in ("serve-DataFrame", "serve toLocalIterator")]


def _no_serving_thread(spark) -> bool:
    """Whether the serving threads are gone, waiting up to 10 s."""
    deadline = time.monotonic() + 10
    while _serving_threads(spark) and time.monotonic() < deadline:
        time.sleep(0.1)
    return _serving_threads(spark) == []


class TestGetFetch:
    def test_get_is_one_job_of_one_stage(self, engine: Engine, spark, monkeypatch):
        """A Get is fetched by Spark's collect path: each scan task keeps
        its top K and the driver merges them, one job of one stage (the
        request-per-partition iterator shuffled them into one partition
        first, a second stage)."""
        for day in range(4):
            for i in range(5):
                engine.put_entry(Entry("f.t", b"%d.%d" % (day, i)), ts=T0 + day * 86400 + i)
            engine.flush()
        assert len(engine.table.files) == 4
        got, jobs, _ = _jobs_and_writes(
            spark, monkeypatch, lambda: engine.get(Query("f.t", limit=7), now=T0 + 5 * 86400)
        )
        assert got == [b"%d.%d" % (d, i) for d in (3, 2) for i in reversed(range(5))][:7]
        assert len(jobs) == 1
        assert len(spark.sparkContext.statusTracker().getJobInfo(jobs[0]).stageIds) == 1

    @staticmethod
    def _many_files(engine: Engine) -> list[bytes]:
        """16 files of 5 rows with 20 kB incompressible payloads, in one
        partition; the payloads newest first."""
        import random

        payloads = [random.Random(n).randbytes(20_000) for n in range(80)]
        for f in range(16):
            for i in range(5):
                engine.put_entry(Entry("m.t", payloads[f * 5 + i]), ts=T0 + f * 10 + i)
            engine.flush()
        assert len(engine.table.files) == 16
        return payloads[::-1]

    def test_many_scan_tasks_merge_on_the_driver(self, engine: Engine, spark, monkeypatch):
        """With a split size below a file's size every file is read by
        its own tasks: the driver merges each task's top K, still one job
        of one stage, and the answer is the newest K of the store."""
        want = self._many_files(engine)
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", "32768")
            got, jobs, _ = _jobs_and_writes(
                spark, monkeypatch, lambda: engine.get(Query("m.t", limit=33), now=T0 + 1000)
            )
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
        assert got == want[:33]
        tracker = spark.sparkContext.statusTracker()
        assert len(jobs) == 1
        (stage,) = tracker.getJobInfo(jobs[0]).stageIds
        assert tracker.getStageInfo(stage).numTasks >= 32

    def test_driver_result_limit_falls_back_to_streaming(self, engine: Engine, spark, monkeypatch):
        """When the per-task rows pass ``spark.driver.maxResultSize`` but
        the K newest fit it, Spark aborts the collect job and the Get
        streams the same plan instead (the per-task rows shuffled into one
        partition): the answer is the same, the byte cap still applies to
        it, and an abort part-way ends the stream's serving thread."""
        from unitdb_spark.engine import ResultTooLarge

        want = self._many_files(engine)
        conf = spark.sparkContext._jsc.sc().conf()
        try:
            conf.set("spark.driver.maxResultSize", "1m")  # 16 tasks: 1.6 MB; the 30 kept, pickled: about 0.9 MB
            got, jobs, _ = _jobs_and_writes(
                spark, monkeypatch, lambda: engine.get(Query("m.t", limit=30), now=T0 + 1000)
            )
            with pytest.raises(ResultTooLarge, match="get_df") as raised:
                engine.get(Query("m.t", limit=30), now=T0 + 1000, max_result_bytes=500_000)
        finally:
            conf.remove("spark.driver.maxResultSize")
        assert raised and _no_serving_thread(spark)  # the error held, the stream's thread ended
        assert got == want[:30]
        tracker = spark.sparkContext.statusTracker()
        assert [tracker.getJobInfo(j).status for j in sorted(jobs)][0] == "FAILED"
        assert engine.get(Query("m.t", limit=30), now=T0 + 1000) == want[:30]

    def test_abort_mid_stream_leaves_no_serving_thread(self, engine: Engine, spark):
        """``ResultTooLarge`` part-way closes the result socket, so the JVM
        thread writing to it ends, even while the caller still holds the
        error (and with it the fetch's frame); the next Get answers."""
        from unitdb_spark.engine import ResultTooLarge

        for i in range(24):
            engine.put_entry(Entry("big.t", b"z" * 1_000_000), ts=T0 + i)
        engine.flush()
        held = []
        for _ in range(5):
            with pytest.raises(ResultTooLarge) as raised:
                engine.get("big.t", now=T0 + 100, max_result_bytes=3_000_000)
            held.append(raised)
        assert _no_serving_thread(spark)
        assert len(engine.get("big.t", now=T0 + 100)) == 24


class TestLastPrunesDates:
    """A ``?last=`` Get reads only the date partitions its window can
    reach, and the bound loses no row of the window."""

    def test_rows_at_the_cutoff_and_one_microsecond_before(self, engine: Engine):
        import datetime as dt

        cutoff = dt.datetime(2023, 11, 15, tzinfo=dt.timezone.utc).timestamp()  # a date boundary
        for name, at in (("old", cutoff - 3 * 86400), ("before", cutoff - 1e-6), ("at", cutoff),
                         ("new", cutoff + 1800)):
            engine.put_entry(Entry("w.t", name.encode()), ts=at)
        engine.flush()
        assert len(engine.table.partitions()) == 3
        assert engine.get("w.t?last=1h", now=cutoff + 3600) == [b"new", b"at"]
        assert engine.varz()["last_get"]["files"] == 2  # the "old" date is pruned
        assert engine.get("w.t?last=1h", now=cutoff + 3600 + 1e-6) == [b"new"]

    @pytest.mark.parametrize("writer, reader", [
        ("Etc/GMT+12", "Pacific/Kiritimati"),  # UTC-12 writes, UTC+14 reads
        ("Pacific/Kiritimati", "Etc/GMT+12"),
        ("-18:00", "+18:00"),  # the widest offsets a session accepts
    ])
    def test_read_under_another_time_zone_than_the_write(self, engine: Engine, spark, writer, reader):
        """``p_date`` is the date of ``ts`` in the writer's session time
        zone: reading under another zone keeps every row of the window,
        including one dated two days before the reader's date of the
        cutoff."""
        import datetime as dt

        cutoff = dt.datetime(2023, 11, 15, 11, 30, tzinfo=dt.timezone.utc).timestamp()
        stamps = [cutoff + h * 3600 for h in range(-70, 41, 3)] + [cutoff, cutoff - 1e-6]
        try:
            spark.conf.set("spark.sql.session.timeZone", writer)
            for i, at in enumerate(stamps):
                engine.put_entry(Entry("z.t", b"%d" % i), ts=at)
            engine.flush()
            spark.conf.set("spark.sql.session.timeZone", reader)
            now = cutoff + 2 * 3600
            got = engine.get(Query("z.t?last=2h", limit=1000), now=now)
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        assert got == [b"%d" % i for i in reversed(range(len(stamps))) if stamps[i] >= cutoff]
        assert engine.varz()["last_get"]["files"] < len(engine.table.files)


class TestCommitVisibility:
    """A write's files are on disk before the version that names them
    exists, and no reader sees them until it does."""

    def test_get_between_placement_and_commit_sees_old_answer(self, spark, tmp_path, monkeypatch):
        path = str(tmp_path / "vis")
        writer = Engine.open(spark, path)
        writer.put_entry(Entry("v.t", b"old"), ts=T0)
        writer.flush()
        reader = Engine(spark, path)
        seen = []

        def get_first():
            on_disk = len(_parquet_files(writer.table.path))
            seen.append((on_disk > len(writer.table.files), reader.get("v.t", now=T0 + 10)))

        _before_commits(monkeypatch, [get_first])
        writer.put_entry(Entry("v.t", b"new"), ts=T0 + 1)
        writer.flush()
        assert seen == [(True, [b"old"])]
        assert reader.get("v.t", now=T0 + 10) == [b"new", b"old"]

    def test_batch_puts_and_deletes_become_visible_together(self, spark, tmp_path, monkeypatch):
        path = str(tmp_path / "visbatch")
        writer = Engine.open(spark, path)
        first = writer.put_entry(Entry("v.t", b"a"), ts=T0)
        writer.put_entry(Entry("v.t", b"b"), ts=T0 + 1)
        writer.flush()
        reader = Engine(spark, path)
        seen = []
        _before_commits(monkeypatch, [lambda: seen.append(reader.get("v.t", now=T0 + 10))])
        with writer.batch() as b:
            b.put_entry(Entry("v.t", b"c"), ts=T0 + 2)
            b.delete(first)
        assert seen == [[b"b", b"a"]]
        assert reader.get("v.t", now=T0 + 10) == [b"c", b"b"]

    def test_new_partition_directories_made_once_before_the_moves(self, spark, tmp_path, monkeypatch):
        """A write makes each partition directory no committed file is in,
        once, before it moves its files: every move is then a rename (a
        local disk copies a file renamed into a missing directory)."""
        eng = Engine.open(spark, str(tmp_path / "dirs"))
        calls, _, _ = _crash_fs_at(monkeypatch, 10**6)
        _put_df(eng)  # three days: three new partitions
        assert calls.count("mkdirs") == 3
        assert max(i for i, c in enumerate(calls) if c == "mkdirs") < calls.index("rename")
        calls.clear()
        _put_df(eng)
        assert calls.count("rename") == 3 and "mkdirs" not in calls


class TestTwoWriters:
    """Two Engines on one path race for log versions: exactly one commit
    wins each version, and every row survives."""

    @staticmethod
    def _fragmented(spark, path) -> Engine:
        eng = Engine.open(spark, path)
        for i in range(5):
            eng.put_entry(Entry("w.t", b"m%d" % i), ts=T0 + i)
            eng.flush()
        return eng

    def test_flush_between_compaction_read_and_commit_survives(self, spark, tmp_path, monkeypatch):
        path = str(tmp_path / "flushrace")
        a = self._fragmented(spark, path)
        b = Engine(spark, path)
        start = a.table.version

        def flush_b():
            b.put_entry(Entry("w.t", b"late"), ts=T0 + 10)  # same partition
            b.flush()

        results = _before_commits(monkeypatch, [flush_b])
        report = a.compact(min_files=4)
        # b's flush won version start+1; a lost it, read it, and since
        # the files a read were all still committed, won start+2
        assert results == [True, False, True]
        assert list(report.values()) == [(5, 1)]
        log = _log_entries(a.table)
        assert len(log) == start + 3
        assert len(log[start + 1]["add"]) == 1 and "remove" not in log[start + 1]
        assert len(log[start + 2]["remove"]) == 5
        want = [b"late"] + [b"m%d" % i for i in reversed(range(5))]
        assert a.get("w.t", now=T0 + 100) == want
        assert Engine(spark, path).get("w.t", now=T0 + 100) == want
        assert len(a.table.files) == 2

    def test_racing_compactions_one_wins(self, spark, tmp_path, monkeypatch):
        path = str(tmp_path / "compactrace")
        a = self._fragmented(spark, path)
        b = Engine(spark, path)
        start = a.table.version
        reports = []
        results = _before_commits(monkeypatch, [lambda: reports.append(b.compact(min_files=4))])
        reports.append(a.compact(min_files=4))
        # b won start+1; a lost it and skips the partition, whose files
        # b's version dropped
        assert results == [True, False]
        assert [list(r.values()) for r in reports] == [[(5, 1)], []]
        assert len(_log_entries(a.table)) == start + 2
        want = [b"m%d" % i for i in reversed(range(5))]
        reopened = Engine(spark, path)
        assert reopened.get("w.t", now=T0 + 100) == want
        raw = [r["seq"] for r in reopened.table.read().select("seq").collect()]
        assert len(raw) == len(set(raw)) == 5
        # a deleted the files it wrote for nothing
        assert len(_parquet_files(a.table.path)) == len(reopened.table.files) == 1


class TestLogConversion:
    """A store written before the log existed converts on open."""

    @staticmethod
    def _old_store(spark, tmp_path, logged: bool = False) -> tuple[str, list[bytes], int, list[int]]:
        """Without ``logged``: plain partitioned Parquet and a tombstone
        directory, as the directory-layout engine left them, with file
        names repeated across partitions. With it: a store with the log
        whose deletes are tombstone files its versions name. Returns
        (path, live payloads, max seq, deleted seqs)."""
        src = Engine.open(spark, str(tmp_path / ("src-logged" if logged else "src")))
        seqs = [src.put_entry(Entry("o.t", b"p%d" % i), ts=T0 + i * 40_000) for i in range(6)]
        src.flush()
        src.delete(seqs[2])
        src.delete(seqs[4])
        live = src.get("o.t", now=T0 + 300_000)
        if logged:
            _with_tombstone_files(spark, src.path, keep_log=True)
            return src.path, live, max(seqs), [seqs[2], seqs[4]]
        path = str(tmp_path / "old")
        src.table.read().repartition(2).write.partitionBy("contract", "p_date").parquet(
            f"{path}/messages"
        )
        spark.createDataFrame([(s,) for s in src.table.deleted], "seq long").write.parquet(f"{path}/tombstones")
        return path, live, max(seqs), [seqs[2], seqs[4]]

    def test_store_without_log_gets_version_zero(self, spark, tmp_path):
        from unitdb_spark import fs

        path, live, top, deleted = self._old_store(spark, tmp_path)
        names = [p.rsplit("/", 1)[-1] for p in _parquet_files(f"{path}/messages")]
        assert len(names) > len(set(names))  # one write repeats names
        eng = Engine(spark, path)
        # version 0 names the files found; version 1 moves the deletes
        # from the tombstone files into the log
        log = _log_entries(eng.table)
        assert len(log) == 2 and log[0]["add_tombstones"] == log[1]["remove_tombstones"]
        assert log[1]["delete"] == sorted(deleted)
        assert eng.table.deleted == set(deleted) and eng.table.tombstones == set()
        assert not fs.exists(spark, f"{path}/tombstones")
        assert eng.get("o.t", now=T0 + 300_000) == live
        names = [p.rsplit("/", 1)[-1] for p in _parquet_files(f"{path}/messages")]
        assert len(names) == len(set(names)) == len(eng.table.files)
        assert eng.put_entry(Entry("o.t", b"next"), ts=T0) > top
        eng.flush()
        assert Engine(spark, path).table.version == 2  # read, not converted again

    def test_tombstone_files_of_a_logged_store_move_into_the_log(self, spark, tmp_path):
        from unitdb_spark import fs

        path, live, _, deleted = self._old_store(spark, tmp_path, logged=True)
        assert len(_parquet_files(f"{path}/tombstones")) == 2
        eng = Engine(spark, path)
        log = _log_entries(eng.table)
        assert sum(len(e.get("add_tombstones", ())) for e in log) == len(log[-1]["remove_tombstones"]) == 2
        assert log[-1]["delete"] == sorted(deleted)
        assert eng.table.deleted == set(deleted) and eng.table.tombstones == set()
        assert not fs.exists(spark, f"{path}/tombstones")
        assert eng.get("o.t", now=T0 + 300_000) == live
        assert Engine(spark, path).table.version == eng.table.version  # not converted again

    def test_crash_at_every_fs_call_converts_again(self, spark, tmp_path, monkeypatch):
        """A conversion cut at any fs call leaves a store the next open
        converts whole: the same live rows (no deleted row comes back),
        no duplicate seq, no tombstone file. Both a store without a log
        and one whose versions name tombstone files."""
        for logged in (False, True):
            base, live, top, deleted = self._old_store(spark, tmp_path, logged)
            # the versions a finished conversion leaves: version 0 and the
            # deletes' version, or the logged store's and the deletes'
            versions = len(list(Path(base, "messages", "_log").glob("*.json"))) or 1

            def check(path, where):
                eng = Engine(spark, path)
                assert eng.table.version == versions, where
                assert eng.table.deleted == set(deleted) and eng.table.tombstones == set(), where
                assert not Path(path, "tombstones").exists(), where
                assert eng.get("o.t", now=T0 + 300_000) == live, where
                raw = [r["seq"] for r in eng.table.read().select("seq").collect()]
                assert len(raw) == len(set(raw)) and max(raw) == top, where

            k = _at_every_crash(monkeypatch, base, tmp_path / f"crash-{logged}", lambda p: Engine(spark, p), check)
            # at least: read the log, list (pre-log), commit, drop tombstones/
            assert k >= 5

    def test_leftover_partition_swap_raises(self, spark, tmp_path):
        from unitdb_spark import fs

        path, _, _, _ = self._old_store(spark, tmp_path)
        trash = f"{path}/.compact-part/trash/contract=1/p_date=2023-11-14"
        fs.mkdirs(spark, trash)
        fs.write_text(spark, f"{trash}/part-00000.parquet", "")
        with pytest.raises(RuntimeError, match=r"\.compact-part"):
            Engine(spark, path)
        assert not fs.exists(spark, f"{path}/messages/_log")

    def test_finished_partition_swap_and_other_hidden_dirs_convert(self, spark, tmp_path):
        """A finished swap of the old engine left empty stage/ and trash/
        directories: they are removed and the store converts. Other
        hidden directories are not the engine's and stay."""
        from unitdb_spark import fs

        path, live, _, _ = self._old_store(spark, tmp_path)
        for half in ("stage", "trash"):
            fs.mkdirs(spark, f"{path}/.compact-part/{half}/contract=1")
        fs.mkdirs(spark, f"{path}/.ipynb_checkpoints")
        eng = Engine(spark, path)
        assert eng.table.version == 1
        assert eng.get("o.t", now=T0 + 300_000) == live
        assert not fs.exists(spark, f"{path}/.compact-part")
        assert fs.exists(spark, f"{path}/.ipynb_checkpoints")


def _put_df(e: Engine) -> None:
    import datetime as dt

    from unitdb_spark.table import MESSAGES_SCHEMA

    rows = [
        (10_000 + i, None, MASTER_CONTRACT, "k.t", dt.datetime(2023, 11, 14 + i), None, b"bulk%d" % i, False)
        for i in range(3)
    ]
    e.put_df(e.spark.createDataFrame(rows, MESSAGES_SCHEMA))


def _batch(e: Engine, live: list[int]) -> None:
    with e.batch() as b:
        b.put_entry(Entry("k.t", b"batched"), ts=T0 + 7)
        b.put_entry(Entry("k.t", b"batched-next-day"), ts=T0 + 90_007)
        b.delete(live[0])


class TestCrashPoints:
    """Make fs call k raise, for every k, along each write path; reopen
    the store after each crash and compare its live seqs with a model of
    the acknowledged writes. The write is atomic: the store holds the
    rows before it, or once its version was created, the rows after it.
    So no row is lost, duplicated or resurrected; and the reopened seq
    counter is above every stored seq."""

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

    OPS = {
        "flush": lambda e, live: (
            e.put_entry(Entry("k.t", b"f0"), ts=T0 + 5),
            e.put_entry(Entry("k.t", b"f1"), ts=T0 + 90_005),
            e.flush(),
        ),
        "put_df": lambda e, live: _put_df(e),
        "batch": _batch,
        "delete": lambda e, live: e.delete(live[-1]),
        "compact": lambda e, live: e.compact(min_files=4),
        "vacuum": lambda e, live: e.vacuum(),
        "purge_expired": lambda e, live: e.purge_expired(now=TestCrashPoints.NOW),
    }

    @pytest.mark.parametrize("op", list(OPS))
    def test_crash_at_every_fs_call(self, spark, base_store, tmp_path, monkeypatch, op):
        import shutil

        run = self.OPS[op]
        before = self._live_seqs(Engine(spark, base_store), self.NOW)
        after_path = str(tmp_path / "after")
        shutil.copytree(base_store, after_path)
        run(Engine(spark, after_path), before)
        after = self._live_seqs(Engine(spark, after_path), self.NOW)
        for k in range(100):
            path = str(tmp_path / f"k{k}")
            shutil.copytree(base_store, path)
            eng = Engine(spark, path)
            calls, committed, undo = _crash_fs_at(monkeypatch, k)
            try:
                run(eng, before)
                crashed = False
            except RuntimeError as e:
                assert str(e).startswith("crash at"), e
                crashed = True
            finally:
                undo()

            reopened = Engine(spark, path)
            want = after if committed else before
            assert self._live_seqs(reopened, self.NOW) == want, f"crash at call {k}: {calls[-1]}"
            raw = [r["seq"] for r in reopened.table.read().select("seq").collect()]
            assert len(raw) == len(set(raw)), f"duplicate rows after crash at call {k}"
            assert reopened.put_entry(Entry("k.t", b"new"), ts=self.NOW) > max(raw)
            if not crashed:
                break
        else:
            pytest.fail("the write never finished without reaching the crash point")
        # a delete is one commit; a data write at least lists the stage,
        # moves a file, drops the stage and commits
        assert (k == 1) if op == "delete" else (k >= 3)

    @pytest.mark.parametrize("logged", [False, True], ids=["pre_log", "logged"])
    def test_crash_at_every_fs_call_of_the_tombstone_conversion(
        self, spark, base_store, tmp_path, monkeypatch, logged
    ):
        """The base store's deletes as tombstone files of an older
        sparkmsg, without a log or named by its versions: opening it is
        cut at every fs call, and each reopened store has the live seqs
        of the base (no deleted row comes back) and no tombstone file."""
        import shutil

        before = self._live_seqs(Engine(spark, base_store), self.NOW)
        old = str(tmp_path / "old")
        shutil.copytree(base_store, old)
        _with_tombstone_files(spark, old, keep_log=logged)
        assert _parquet_files(f"{old}/tombstones")

        def check(path, where):
            reopened = Engine(spark, path)
            assert self._live_seqs(reopened, self.NOW) == before, where
            assert reopened.table.tombstones == set() and not Path(path, "tombstones").exists(), where
            raw = [r["seq"] for r in reopened.table.read().select("seq").collect()]
            assert len(raw) == len(set(raw)), where
            assert reopened.put_entry(Entry("k.t", b"new"), ts=self.NOW) > max(raw)

        assert _at_every_crash(monkeypatch, old, tmp_path, lambda p: Engine(spark, p), check) >= 3


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
        """A delete() committed by another writer between vacuum's
        tombstone read and its commit must NOT be retired (that would
        silently un-delete the row); it stays live for the next run."""
        path = str(tmp_path / "vacc")
        eng = Engine.open(spark, path)
        seqs = [eng.put_entry(Entry("v.t", b"d%d" % i), ts=T0 + i) for i in range(3)]
        eng.flush()
        eng.delete(seqs[0])
        other = Engine(spark, path)

        results = _before_commits(monkeypatch, [lambda: other.delete(seqs[1])])
        report = eng.vacuum()
        assert results == [True, False, True]  # vacuum lost a version, then won
        assert sum(report.values()) == 1  # only the tombstone it read applied
        # the concurrent delete survived the retire step...
        assert eng.table.deleted == {seqs[1]}
        # ...so the row stays hidden from reads
        assert len(eng.get("v.t", now=T0 + 100)) == 1
        # and the NEXT vacuum applies it physically
        report2 = eng.vacuum()
        assert sum(report2.values()) == 1
        assert eng.table.deleted == set()
        raw = {r["seq"] for r in eng.table.read().select("seq").collect()}
        assert raw == {seqs[2]}

    def test_skipped_partition_keeps_snapshot_tombstones(
        self, spark, tmp_path, monkeypatch
    ):
        """Another writer compacts the partition vacuum is rewriting and
        commits first, dropping the files vacuum read, so vacuum skips
        it. The tombstones it read must then stay: retiring them would
        bring the skipped partition's deleted row back."""
        path = str(tmp_path / "vacskip")
        eng = Engine.open(spark, path)
        seqs = []
        for i in range(3):
            seqs.append(eng.put_entry(Entry("v.t", b"d%d" % i), ts=T0 + i))
            eng.flush()
        eng.delete(seqs[0])
        other = Engine(spark, path)

        results = _before_commits(monkeypatch, [lambda: other.compact(min_files=2)])
        report = eng.vacuum()
        # the compaction won; vacuum skipped its only partition and had
        # nothing left to commit
        assert results == [True, False]
        assert report == {}
        assert eng.table.deleted == {seqs[0]}
        assert eng.get("v.t", now=T0 + 100) == [b"d2", b"d1"]
        # the next run applies the kept tombstone
        assert sum(eng.vacuum().values()) == 1
        assert eng.table.deleted == set()
        assert eng.get("v.t", now=T0 + 100) == [b"d2", b"d1"]
