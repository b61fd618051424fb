"""Hadoop FileSystem helpers — ONE path-scheme story for the engine.

Every existence check, rename, delete, and marker read/write in the
engine goes through these, so any Spark-readable scheme (file:,
hdfs://, s3a://, gs://) behaves identically. Mixing local pathlib with
Hadoop-FS reads (the round-1 state) silently broke object-store paths:
deletes were ignored, markers vanished, compaction renamed nothing.

All calls ride the live JVM gateway of the provided SparkSession — no
extra process, no Python I/O; the FS instances are cached by Hadoop per
(scheme, authority), so per-call overhead is a method hop.

Rename caveat (matters for the partition swap that compact, vacuum and
purge_expired share, `Engine._swap_partition`): HDFS/local renames are
atomic directory moves, so a crash between its two renames leaves a
complete stage that the next open promotes. S3A "rename" is
copy+delete and not atomic; on an object store prefer a catalog
pointer swap.
"""

from __future__ import annotations

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


def create_new(spark: SparkSession, path: str) -> bool:
    """Atomic create-if-absent (lock/lease primitive): True iff this
    call created the file. Rides HDFS/local `createNewFile` — an atomic
    namenode op; on S3A it is best-effort (no atomic create-exclusive),
    which is the same caveat every file-lock on S3 carries."""
    fs, p = _fs(spark, path)
    parent = p.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    return bool(fs.createNewFile(p))


def mtime(spark: SparkSession, path: str) -> int | None:
    """Modification time (ms since epoch) of path, None if absent."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return None
    return int(fs.getFileStatus(p).getModificationTime())


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    fs, p_src = _fs(spark, src)
    _, p_dst = _fs(spark, dst)
    return bool(fs.rename(p_src, p_dst))


def has_files(spark: SparkSession, path: str, suffix: str = ".parquet") -> bool:
    """True when the directory exists and holds at least one data file."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return False
    it = fs.listFiles(p, True)  # recursive
    while it.hasNext():
        if it.next().getPath().getName().endswith(suffix):
            return True
    return False


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
