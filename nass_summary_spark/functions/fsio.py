"""Filesystem-agnostic directory maintenance via Hadoop's FS API.

Index and table maintenance (compaction, index rebalance/retrain)
ends with a validated-rewrite + two-rename swap; a persisted index is
rebuilt whole into a sibling and swapped in as ONE directory. Doing
the swap with ``os.rename``/``shutil.rmtree`` silently limits
maintenance to local-filesystem paths: an index at an ``hdfs://`` or
``s3a://`` location would build and probe fine (those go through
Spark readers/writers) but fail at the swap. Every mutation here goes
through the same ``org.apache.hadoop.fs.FileSystem`` the session's
readers use, so the swap works wherever the data does — as do the
shard listings and replay markers of ``streaming.sink``.

Object-store note: ``FileSystem.rename`` on S3A is a copy-and-delete
(not atomic); the swap window widens from sub-millisecond to
seconds. The contract (run maintenance in a quiet window, or use a
table format with an atomic manifest commit) is unchanged — see
``sources.writers.compact_table``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM gateway."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursive ``(path, size)`` of data files under ``path`` —
    parquet parts only, skipping ``_SUCCESS``/checksum/hidden files
    (the same filter Spark's own scan applies)."""
    fs, jpath = hadoop_fs(spark, path)
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            out.append((st.getPath().toString(), int(st.getLen())))
    return out


def remove_dir(spark: SparkSession, path: str) -> None:
    """Recursive delete through the path's own filesystem."""
    fs, jpath = hadoop_fs(spark, path)
    fs.delete(jpath, True)


def swap_in(
    spark: SparkSession,
    live_path: str,
    tmp_path: str,
    backup_suffix: str,
) -> str:
    """Replace ``live_path`` with ``tmp_path`` via two renames,
    parking the old directory at ``live_path + backup_suffix`` and
    removing it once both renames succeed. Returns the backup path.
    The caller must have VALIDATED ``tmp_path`` already — a failed
    second rename restores the live directory, and a crash between
    the renames leaves the old data intact under the backup sibling
    for manual recovery."""
    live = live_path.rstrip("/")
    backup = live + backup_suffix
    fs, jlive = hadoop_fs(spark, live)
    jvm = spark._jvm
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp_path)
    jbackup = jvm.org.apache.hadoop.fs.Path(backup)
    if not fs.rename(jlive, jbackup):
        raise RuntimeError(
            f"swap_in: rename {live} -> {backup} failed; live data "
            "untouched"
        )
    if not fs.rename(jtmp, jlive):
        # restore the live directory before surfacing the failure
        fs.rename(jbackup, jlive)
        raise RuntimeError(
            f"swap_in: rename {tmp_path} -> {live} failed; original "
            "directory restored"
        )
    fs.delete(jbackup, True)
    return backup
