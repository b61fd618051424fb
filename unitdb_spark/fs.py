"""Hadoop FileSystem helpers — ONE path-scheme story for the engine.

Every existence check, rename, delete, and marker read/write in the
engine goes through these, so any Spark-readable scheme (file:,
hdfs://, s3a://, gs://) behaves identically. Mixing local pathlib with
Hadoop-FS reads (the round-1 state) silently broke object-store paths:
deletes were ignored, markers vanished, compaction renamed nothing.

All calls ride the live JVM gateway of the provided SparkSession — no
extra process, no Python I/O; the FS instances are cached by Hadoop per
(scheme, authority), so per-call overhead is a method hop.

Commit caveat (the messages table's log, `table.py`): `create_atomic`
is Spark's `CheckpointFileManager.createAtomic` without overwrite, a
temp file renamed to the version's name only if that name is free. On
HDFS the rename is one namenode operation: of two writers racing for a
version exactly one wins. A local disk checks the name, then renames,
so two commits in the same instant could both succeed, the later
replacing the earlier; so could an object store without an atomic
create-if-absent (S3A before conditional writes). Run one writer per
store there, or serialize commits outside the store.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = _fs(spark, path)
    fs.mkdirs(p)


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p)) and bool(fs.getFileStatus(p).isDirectory())


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Remove path (no-op, False if absent)."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def create_atomic(spark: SparkSession, path: str, text: str) -> bool:
    """Publish ``text`` at ``path`` unless the name is taken; True iff
    this call created it. Readers see the whole file or none: Spark's
    ``CheckpointFileManager.createAtomic`` writes a temp file and
    close() renames it without overwrite. A loser's temp file is deleted
    here: ``cancel()`` does nothing once close() has failed."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        p.getParent(), spark._jsc.hadoopConfiguration()
    )
    cfm.mkdirs(p.getParent())
    if cfm.exists(p):  # a stale writer: no temp file, no WARN stack trace
        return False
    out = cfm.createAtomic(p, False)
    try:
        out.write(bytearray(text.encode("utf-8")))
        out.close()
        return True
    except Py4JJavaError:  # the name was taken in the meantime, or an I/O error
        out.cancel()
        if not cfm.exists(p):
            raise
    # once the name exists, every temp file for it is a loser's
    tmp = f".{p.getName()}."
    for st in cfm.list(p.getParent()):
        name = st.getPath().getName()
        if name.startswith(tmp) and name.endswith(".tmp"):
            cfm.delete(st.getPath())
    return False


def rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, p_src = _fs(spark, src)
    _, p_dst = _fs(spark, dst)
    if not fs.rename(p_src, p_dst):
        raise OSError(f"could not rename {src} to {dst}")


def tree_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes of all files under path (0 if absent) — the
    `DB.FileSize()` primitive (reference: db.go:474-482 sums its
    index + data + log file sizes; here the store IS its files)."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return 0
    # getContentSummary is a single namenode/listing call (recursive
    # server-side on HDFS), cheaper than client-side iteration
    return int(fs.getContentSummary(p).getLength())


def list_files(spark: SparkSession, pattern: str) -> list[str]:
    """The paths matching the Hadoop glob ``pattern`` (``*`` stops at
    ``/``), fully qualified: one listing call, two JVM round trips per
    match."""
    fs, p = _fs(spark, pattern)
    return [str(st.getPath().toString()) for st in fs.globStatus(p) or []]


def list_status(spark: SparkSession, path: str) -> list[tuple[str, int, bool]]:
    """Immediate children as (name, mtime_ms, is_dir); [] if absent."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    return [
        (st.getPath().getName(), int(st.getModificationTime()), bool(st.isDirectory()))
        for st in fs.listStatus(p)
    ]


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Atomic-enough small-marker write: create-overwrite + close.

    On HDFS/local, create(overwrite=True) + close is effectively
    atomic for readers using read_text (they see old or new, never a
    torn prefix, because close() is the visibility point)."""
    fs, p = _fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str | None:
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # commons-io ships with Spark; reading via a py4j-passed buffer
        # would NOT work (py4j copies arrays — Java-side writes into a
        # Python bytearray are lost)
        return str(
            spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        )
    finally:
        stream.close()
