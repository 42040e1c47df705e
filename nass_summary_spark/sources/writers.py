"""Sinks.

Reference exports every summary view with
``\\COPY (select …) to file.csv with csv header`` (`nass.mk:54-60`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_csv(df: DataFrame, path: str, single_file: bool = False, mode: str = "overwrite") -> None:
    """CSV-with-header export. ``single_file`` coalesces to one part
    for small summary exports (the reference's use case); large
    outputs keep their partitioning."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", True).csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet sink — partition columns chosen by the
    caller to line up with downstream partition pruning (e.g. year /
    state for NASS summaries)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
) -> None:
    """Incremental partition replacement: overwrite ONLY the
    partitions present in ``df``, leaving sibling partitions intact
    (``partitionOverwriteMode=dynamic``).

    This is the Spark-idiomatic twin of the reference's Make-driven
    re-ingest (`nass.mk:17-33`): re-loading one census year replaces
    that year's slice of the table instead of truncate-and-reload.
    At 100 TB the difference is re-writing one day's partition vs the
    whole table. Scoped via the writer option so the session default
    (static) is untouched for other writers."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink (the other columnar interchange format big warehouses
    standardize on). Same partition-pruning contract as parquet."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_parquet_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-clustered sorted parquet layout: ``repartitionByRange``
    gives each output file a DISJOINT key range and
    ``sortWithinPartitions`` orders rows inside it — so parquet
    row-group min/max statistics prune point/range reads down to one
    file (the poor-man's Z-order, exactly what a 100 TB fact table
    wants for its dominant filter column). One range-exchange (sampled
    boundaries), no global sort."""
    from pyspark.sql import functions as F

    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode(mode)
        .parquet(path)
    )


def compact_table(
    spark,
    path: str,
    partition_by: Sequence[str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-files compaction — the table-maintenance pass every
    long-lived ingest needs (streaming sinks, incremental partition
    overwrites, and per-micro-batch appends all accrete KB-sized
    part files; at 100 TB the resulting listing/footer overhead and
    lost row-group statistics dominate scan cost long before data
    volume does).

    Rewrites the parquet table at ``path`` so each partition carries
    ~``target_file_bytes`` files: reads the current bytes-per-
    partition from the file listing (driver-side metadata, never
    data), computes the target file count, and rewrites via
    ``repartition`` (hash on the partition columns keeps each output
    task writing into exactly one Hive partition — no cross-partition
    shuffle amplification).  The rewrite lands in a sibling directory,
    is VALIDATED (row count re-read from the rewritten files must
    equal the source count — a bad rewrite aborts with the original
    table untouched), and is then swapped in with two renames.
    Readers never see a MIX of old and new files, but there IS a
    sub-millisecond window between the two renames in which ``path``
    does not exist — single-directory POSIX renames cannot close it;
    run maintenance in a quiet window, or use an object-store /
    lakehouse table format whose commit protocol swaps a manifest
    pointer atomically (the reference's truncate-and-reload
    ``nass.mk:17`` is this same swap done inside a SQL transaction).
    A crash between the renames leaves the data intact under the
    ``__pre_compact`` sibling for manual recovery; a successful swap
    removes it.

    Returns {"files_before", "files_after", "rows"} for the caller's
    audit log.  Listing and the swap go through Hadoop's FileSystem
    API (``functions.fsio``), so a table at an ``hdfs://``/``s3a://``
    path compacts the same way a local one does.
    """
    import math

    from nass_summary_spark.functions.fsio import (
        list_data_files,
        remove_dir,
        swap_in,
    )

    before = list_data_files(spark, path)
    total_bytes = sum(sz for _, sz in before)
    n_target = max(1, math.ceil(total_bytes / target_file_bytes))

    df = spark.read.parquet(path)
    rows = df.count()
    if partition_by:
        out = df.repartition(n_target, *partition_by)
    else:
        out = df.repartition(n_target)
    tmp = path.rstrip("/") + "__compacting"
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)

    # validate BEFORE touching the live table: a bad rewrite (row loss
    # from a codec bug, partial task commit, etc.) must abort with the
    # original directory untouched
    rewritten = spark.read.parquet(tmp).count()
    if rewritten != rows:
        remove_dir(spark, tmp)
        raise RuntimeError(
            f"compact_table validation failed for {path}: rewrote "
            f"{rewritten} rows, expected {rows}; original left untouched"
        )

    swap_in(spark, path, tmp, "__pre_compact")
    return {
        "files_before": len(before),
        "files_after": len(list_data_files(spark, path)),
        "rows": rows,
    }


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
    partition_by: Sequence[str] | None = None,
) -> None:
    """JSON-Lines sink (one object per line per row) — the export
    format downstream tokenizer/training pipelines ingest. Defaults
    to gzip part files (jsonl compresses ~10x; the reader decodes
    transparently); keep partitions moderate so each gzip member
    stays a reasonable, parallel-scannable shard."""
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def write_parquet_zorder(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustered parquet layout: interleave the
    bit representations of TWO rank-normalized columns and range-
    partition + sort on the result — so parquet row-group min/max
    statistics prune selective reads on EITHER column (the
    single-column clustered sink only serves its one sort key; a
    100 TB fact table queried by both time AND key wants this).

    Coordinates normalize by the columns' min/max (ONE tiny aggregate
    broadcast back — a global percent_rank window would serialize the
    table through one sort task, exactly what a sink must not do;
    heavy skew can pre-bucket with ntile upstream if needed),
    quantize to ``bits`` levels, and interleave with a fixed unrolled
    shift-or expression (literal shift counts — JVM codegen).  One
    range exchange with sampled boundaries, no global sort.
    """
    from pyspark.sql import functions as F

    levels = (1 << bits) - 1
    bounds = df.agg(
        F.min(F.col(x_col).cast("double")).alias("__xmin"),
        F.max(F.col(x_col).cast("double")).alias("__xmax"),
        F.min(F.col(y_col).cast("double")).alias("__ymin"),
        F.max(F.col(y_col).cast("double")).alias("__ymax"),
    )

    def norm(c, lo, hi):
        span = F.col(hi) - F.col(lo)
        frac = F.when(span > 0, (F.col(c).cast("double") - F.col(lo)) / span).otherwise(
            F.lit(0.0)
        )
        return (frac * levels).cast("long")

    staged = (
        df.join(F.broadcast(bounds))
        .withColumn("__zx", norm(x_col, "__xmin", "__xmax"))
        .withColumn("__zy", norm(y_col, "__ymin", "__ymax"))
        .drop("__xmin", "__xmax", "__ymin", "__ymax")
    )
    z = F.lit(0).cast("long")
    for b in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftrightunsigned(F.col("__zx"), b) % 2, 2 * b
            ).cast("long")
        ).bitwiseOR(
            F.shiftleft(
                F.shiftrightunsigned(F.col("__zy"), b) % 2, 2 * b + 1
            ).cast("long")
        )
    (
        staged.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__zx", "__zy", "__z")
        .write.mode(mode)
        .parquet(path)
    )
