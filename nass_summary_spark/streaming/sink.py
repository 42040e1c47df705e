"""Streaming sinks: checkpointed, exactly-once incremental ingest.

The reference's ingest is batch truncate-and-reload driven by Make
(`nass.mk:17`, re-running `\\COPY` loads). The streaming-native form
is a file-source → clean → parquet-sink pipeline with a checkpoint:
new input files are picked up incrementally, each exactly once, and
a restart resumes from the checkpoint instead of reprocessing — the
100 TB posture for continuously-arriving drops (no reload, no
duplicates, bounded work per trigger).

Per-batch shard tables. Every ``foreachBatch`` stage of the package
(keyed summaries, sketch/counter ingests, dedup pairs, ANN
neighbors, linkage matches, the domain gate) persists its output as
a SHARD TABLE, and this module is the only place that knows its
layout and replay rule:

* layout — one directory ``{table}/batch_id=N`` per micro-batch
  (:func:`write_shard`); readers see ``batch_id`` as a column
  (:func:`read_shards` reads with ``basePath``); :func:`shard_ids`
  lists the ids through the table's own Hadoop filesystem, so
  ``file://``, ``hdfs://`` and ``s3a://`` tables list alike;
* replay — Structured Streaming replays a failed batch under the
  SAME id, so overwriting ``batch_id=N`` makes a replay rewrite its
  own shard instead of appending beside it; readers that need only
  EARLIER state (a cross-batch cap) select ids < N, so a replay sees
  exactly what the first attempt saw;
* side effects outside the shard table (appending a batch to a
  persisted index) are not overwrites, so they run through
  :func:`apply_once`, which records applied ids under
  ``{table}/_applied/batch_id=N`` and skips a replayed batch. Its
  one unguarded window — a crash after the append and before the
  marker — duplicates that batch's rows; a transactional table
  format closes it with a real commit protocol;
* :func:`start_batches` starts the checkpointed ``availableNow``
  stream that drives one function per micro-batch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nass_summary_spark.functions.fsio import hadoop_fs


def stream_to_parquet(
    sdf: DataFrame,
    out_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Append a streaming DataFrame to a parquet directory with
    exactly-once semantics.

    The checkpoint (source offsets + file-sink transaction log in
    ``_spark_metadata``) makes both the source and the sink
    idempotent across restarts: a file already committed is never
    re-read, a batch already written is never re-appended.
    ``availableNow`` drains everything pending then stops — the
    incremental-batch trigger (cron-style re-runs process only new
    files, Make-like but without reloads). A watermarked append-mode
    aggregate (``events.windowed_agg`` on a stream) lands each
    finalized window here exactly once.
    """
    return (
        sdf.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_batches(
    sdf: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_path: str,
) -> StreamingQuery:
    """Run ``fn(batch_df, batch_id)`` on every pending micro-batch of
    ``sdf`` and stop (``availableNow``); the checkpoint makes a
    re-run resume after the last committed batch."""
    return (
        sdf.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def shard_path(table_path: str, batch_id: int) -> str:
    """Directory of shard ``batch_id`` (for maintenance that swaps or
    removes whole shards)."""
    return f"{table_path}/batch_id={int(batch_id)}"


def write_shard(df: DataFrame, table_path: str, batch_id: int) -> None:
    """Overwrite shard ``batch_id`` of the table (replay-idempotent)."""
    df.write.mode("overwrite").parquet(shard_path(table_path, batch_id))


def shard_ids(spark: SparkSession, table_path: str) -> list[int]:
    """Sorted ids of the shards present under ``table_path`` ([] when
    the table does not exist yet)."""
    fs, jpath = hadoop_fs(spark, table_path)
    if not fs.exists(jpath):
        return []
    ids = []
    for st in fs.listStatus(jpath):
        key, _, val = st.getPath().getName().partition("=")
        if st.isDirectory() and key == "batch_id" and val.isdigit():
            ids.append(int(val))
    return sorted(ids)


def read_shards(
    spark: SparkSession, table_path: str, ids: list[int] | None = None
) -> DataFrame:
    """The shard table (all shards, or only ``ids``) with ``batch_id``
    as a column."""
    reader = spark.read.option("basePath", table_path)
    if ids is None:
        return reader.parquet(f"{table_path}/batch_id=*")
    return reader.parquet(*[shard_path(table_path, i) for i in ids])


def apply_once(
    spark: SparkSession, table_path: str, batch_id: int, fn: Callable[[], None]
) -> None:
    """Run ``fn()`` unless batch ``batch_id`` was already applied to
    ``table_path``, then record it as applied."""
    fs, marker = hadoop_fs(spark, shard_path(f"{table_path}/_applied", batch_id))
    if not fs.exists(marker):
        fn()
        fs.mkdirs(marker)


def write_partial_summary(
    batch_df: DataFrame, batch_id: int, table_path: str, key_col: str = "event_type"
) -> None:
    """Merge one micro-batch into a keyed summary table: the batch
    reduces to one row of PARTIAL aggregates per key, written as its
    own shard. Totals are additive partials (count + decimal sum), so
    the read side re-aggregates losslessly in any order. A real
    deployment compacts old partials with an ACID table format."""
    partial = batch_df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
    )
    write_shard(partial, table_path, batch_id)


def upsert_keyed_summary(
    sdf: DataFrame,
    table_path: str,
    checkpoint_path: str,
    key_col: str = "event_type",
) -> StreamingQuery:
    """foreachBatch upsert sink (C9): continuously maintain per-key
    running totals in a plain-parquet table with exactly-once merge
    semantics (see ``write_partial_summary``). This is the
    incremental replacement for the reference's rebuild-the-summary
    Make targets when the summary is keyed rather than windowed."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        write_partial_summary(batch_df, batch_id, table_path, key_col)

    return start_batches(sdf, merge, checkpoint_path)


def read_keyed_summary(spark, table_path: str, key_col: str = "event_type") -> DataFrame:
    """Current totals = re-aggregation of the additive partials."""
    return (
        read_shards(spark, table_path)
        .groupBy(key_col)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").cast("double").alias("sum_value"),
        )
    )
