"""Applied-batch commit log for foreachBatch sinks, and the versioned
snapshot sink built on it.

Round 1 kept a single marker file beside the output table holding a
bare batch_id. Two failure modes:

- restarting a pipeline with a FRESH checkpoint resets batch ids to 0,
  so ``batch_id <= marker`` silently skipped every real batch until
  the old high-water id was passed — silent data loss;
- two streams writing one table clobbered each other's marker.

The commit log replaces the marker with one empty file per applied
batch, keyed by the streaming query's stable id:

    <log_root>/_applied/<query_id>/<batch_id>

The query id comes from ``<checkpoint>/metadata`` — Spark keeps it
constant across restarts of the same checkpoint and generates a new
one for a fresh checkpoint, so a new checkpoint can never match a
stale log, and concurrent writers (distinct checkpoints) never
collide. File creation is the commit point: no read-modify-write, no
rename, safe on object stores. All I/O is Hadoop-FS based (fs.py), so
any Spark-readable scheme works.

Replay semantics: a batch whose id is logged is skipped (exactly-once
within a checkpoint generation, closing Spark's replay-after-crash
window — same discipline as the reference's WAL release after sync,
db_sync.go). Restarting against an existing table with a *fresh*
checkpoint replays the whole source and appends again — at-least-once,
the honest answer for a non-transactional sink; true exactly-once
across generations needs a transactional table format.

Versioned snapshots (``snapshot_sink`` / ``read_snapshot``): Spark's
state store does the fold and the sink only publishes. Each rolling
state is a streaming aggregation run in complete mode; the state store
keeps it versioned per batch in the checkpoint, so a crashed batch
re-runs from the last committed state version and recomputes the same
output (Structured Streaming's stateful-operator recovery). Each
micro-batch's output is the whole state, and the sink publishes it:

  skip b if its commit-log entry exists -> write the state as snapshot
  v(b) -> create the commit-log entry for b -> prune the rest

(the skip is ``CommitLog.skip_replayed``, shared with every other
foreachBatch sink on a commit log).

A crash before the entry exists leaves readers on the previous
snapshot; the replayed batch writes v(b) again. Snapshots live at
``<state_path>/v_<query_id>_<batch_id>``, keyed by (query generation,
batch), so a pipeline restarted with a FRESH checkpoint — which
replays the whole source from batch 0 — rebuilds its own snapshot
line instead of matching a stale high-water mark. One maintainer
stream per state table; other generations and superseded snapshots
are pruned after each commit. A fold that is not a Spark aggregate
(the skyline frontier) passes ``merge`` instead: the sink reads the
committed snapshot and writes ``merge(snapshot ∪ batch)``.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from unitdb_spark import fs

#: commit entries kept per generation: Spark only ever replays the
#: trailing uncommitted batch, so a short tail is ample
KEEP = 16


class CommitLog:
    def __init__(self, spark: SparkSession, checkpoint: str, log_root: str) -> None:
        self.spark = spark
        self.checkpoint = checkpoint.rstrip("/")
        self.log_root = log_root.rstrip("/")
        self._qid: str | None = None
        # Round 1 wrote a plain marker FILE at log_root; the log needs a
        # directory tree there. Clear the stale file so restarting an
        # existing round-1 pipeline doesn't fail on mkdir-under-a-file —
        # but ONLY if it actually looks like a round-1 marker (a bare
        # batch id). Deleting anything else would destroy an unrelated
        # data file behind a misconfigured log_root.
        if fs.exists(spark, self.log_root) and not fs.is_dir(spark, self.log_root):
            content = fs.read_text(spark, self.log_root)
            body = (content or "").strip()
            if body.isdigit() and len(body) <= 19:  # bare int64 batch id
                fs.delete(spark, self.log_root)
            else:
                raise ValueError(
                    f"commit-log root {self.log_root} is an existing file that "
                    "is not a round-1 batch marker; refusing to delete it — "
                    "point log_root at a directory (or remove the file yourself)"
                )

    @property
    def query_id(self) -> str:
        """Stable id from the checkpoint metadata (lazy: the metadata
        file exists by the time the first micro-batch runs)."""
        if self._qid is None:
            meta = fs.read_text(self.spark, self.checkpoint + "/metadata")
            self._qid = json.loads(meta)["id"] if meta else "no-checkpoint"
        return self._qid

    def _dir(self, query_id: str) -> str:
        return f"{self.log_root}/_applied/{query_id}"

    def _ids(self, query_id: str) -> list[int]:
        return sorted(
            int(name)
            for name, _, _ in fs.list_status(self.spark, self._dir(query_id))
            if name.isdigit()
        )

    def applied(self, batch_id: int) -> bool:
        return self.applied_for(self.query_id, batch_id)

    def skip_replayed(self, batch_df: DataFrame, batch_id: int) -> bool:
        """True when ``batch_id`` is already applied: the caller's
        foreachBatch sink then applies nothing. The replayed batch still
        runs, into a ``noop`` write, so that a stateful query commits its
        state-store version: PySpark 4.1 fails a stateful batch whose
        partitions were not all run (STATE_STORE_COMMIT_VALIDATION_FAILED)."""
        if not self.applied(batch_id):
            return False
        batch_df.write.format("noop").mode("overwrite").save()
        return True

    def last(self) -> int | None:
        """Highest applied batch id for THIS query generation."""
        return self.last_for(self.query_id)

    def record(self, batch_id: int) -> None:
        """Commit point: create the batch's file, then prune the log to
        its last ``KEEP`` entries."""
        self.record_for(self.query_id, batch_id)
        for old in self._ids(self.query_id)[:-KEEP]:
            fs.delete(self.spark, f"{self._dir(self.query_id)}/{old}")

    def applied_for(self, query_id: str, batch_id: int) -> bool:
        """`applied` for an EXPLICIT generation (resume paths touch
        other generations' entries — e.g. redelivering a crashed
        subscriber's in-flight batches, streaming.pubsub.ReliableSink)."""
        return fs.exists(self.spark, f"{self._dir(query_id)}/{int(batch_id)}")

    def last_for(self, query_id: str) -> int | None:
        """`last` for an explicit generation (resume paths use it as
        the ack high-water mark when an old marker has been pruned)."""
        ids = self._ids(query_id)
        return ids[-1] if ids else None

    def record_for(self, query_id: str, batch_id: int) -> None:
        """`record` for an explicit generation (no pruning: the foreign
        generation's tail is not ours to manage)."""
        fs.write_text(self.spark, f"{self._dir(query_id)}/{int(batch_id)}", "")

    def prune_other_generations(self) -> None:
        """Drop OTHER query generations' commit entries.

        For single-writer versioned-snapshot sinks (``snapshot_sink``)
        that already prune other generations' snapshot dirs: without
        this, a stale generation's entry can win latest_commit's mtime
        tie-break on a coarse-mtime filesystem and point readers at a
        just-deleted snapshot. Do NOT call this for multi-writer logs
        (e.g. the ingest table log) — there, sibling generations belong
        to live concurrent writers."""
        base = f"{self.log_root}/_applied"
        for qid, _, is_dir in fs.list_status(self.spark, base):
            if is_dir and qid != self.query_id:
                fs.delete(self.spark, f"{base}/{qid}")


def latest_commit(spark: SparkSession, log_root: str) -> tuple[str, int] | None:
    """(query_id, batch_id) of the newest commit across generations —
    newest by file mtime, ties broken by batch id. Readers use this to
    find the current snapshot without knowing the checkpoint path."""
    base = f"{log_root.rstrip('/')}/_applied"
    best: tuple[int, int, str] | None = None
    for qid, _, is_dir in fs.list_status(spark, base):
        if not is_dir:
            continue
        for name, mtime, _ in fs.list_status(spark, f"{base}/{qid}"):
            if name.isdigit():
                cand = (mtime, int(name), qid)
                if best is None or cand > best:
                    best = cand
    return (best[2], best[1]) if best else None


def _snap_path(state_path: str, qid: str, batch_id: int) -> str:
    return f"{state_path.rstrip('/')}/v_{qid}_{batch_id}"


def read_snapshot(spark: SparkSession, state_path: str, what: str) -> DataFrame:
    """The committed snapshot under ``state_path`` (latest commit-log
    entry across query generations); ``what`` names the state in the
    error raised when nothing is committed yet."""
    cur = latest_commit(spark, state_path)
    if cur is None:
        raise FileNotFoundError(f"no committed {what} under {state_path}")
    return spark.read.parquet(_snap_path(state_path, *cur))


def _refuse_stateless_checkpoint(spark: SparkSession, checkpoint: str) -> None:
    """A checkpoint that has committed batches but no ``state/`` was
    written by a stateless query (the sink before the state store did
    the fold). Spark would fail to restart it under a stateful query
    with an opaque missing-delta-file error, so say what happened."""
    cp = checkpoint.rstrip("/")
    if fs.list_status(spark, f"{cp}/commits") and not fs.exists(spark, f"{cp}/state"):
        raise ValueError(
            f"checkpoint {checkpoint} has committed batches but no state "
            "store: it was written by a stateless snapshot sink and cannot "
            "resume a streaming aggregation — restart with a fresh checkpoint "
            "(the state table rebuilds from batch 0 as a new generation)"
        )


def snapshot_sink(
    state: DataFrame,
    state_path: str,
    checkpoint: str,
    merge: Callable[[DataFrame], DataFrame] | None = None,
    trigger_available_now: bool = True,
):
    """Start the streaming query that publishes a versioned state table
    under ``state_path`` (read it with ``read_snapshot``); returns the
    StreamingQuery.

    ``state`` is a streaming aggregation. It runs in complete mode, so
    each micro-batch's output is the whole folded state, and the sink
    writes it as that batch's snapshot. The number of state partitions
    (``spark.sql.shuffle.partitions``) is fixed at the checkpoint's
    first run. A checkpoint written by a stateless query cannot be
    resumed here: that raises ``ValueError`` before the query starts.

    ``merge`` is for a fold that is not a Spark aggregate (the skyline
    frontier): ``state`` is then the raw row stream, run in append
    mode, and each snapshot is ``merge(committed ∪ batch)``."""
    spark = state.sparkSession
    if merge is None:
        _refuse_stateless_checkpoint(spark, checkpoint)
    fs.mkdirs(spark, state_path)
    log = CommitLog(spark, checkpoint, state_path)
    root = state_path.rstrip("/")

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        if log.skip_replayed(batch_df, batch_id):
            return
        out = batch_df
        if merge is not None:
            applied = log.last()
            if applied is not None:
                prev = spark.read.parquet(_snap_path(root, log.query_id, applied))
                out = prev.unionByName(out)
            out = merge(out)
        snap = _snap_path(root, log.query_id, batch_id)
        out.write.mode("overwrite").parquet(snap)
        log.record(batch_id)  # commit point
        # retire stale generations' commit entries BEFORE deleting any
        # snapshot: a reader between the two steps (or after a crash
        # here) must never resolve latest_commit to a generation whose
        # snapshot is already gone
        log.prune_other_generations()
        # prune superseded snapshots (best-effort; never the current one)
        for name, _, is_dir in fs.list_status(spark, root):
            if is_dir and name.startswith("v_") and f"{root}/{name}" != snap:
                fs.delete(spark, f"{root}/{name}")

    writer = (
        state.writeStream.foreachBatch(publish)
        .outputMode("complete" if merge is None else "append")
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
