"""Sorted-neighborhood blocking (Hernández–Stolfo merge/purge).

The third member of the blocking family: B102/B108 block on equality
keys (hash blocking), which misses near-misses that no exact key
captures; sorted-neighborhood sorts the corpus by a similarity-
bearing key and pairs every record with its w−1 successors — records
need only be CLOSE in the sort order, not equal on any key. The
classic recall lever when attribute noise breaks equality blocking
(Hernández & Stolfo, SIGMOD'95 — public).

Scale design — the naive form is a scale killer and is NOT used:
``row_number() OVER (ORDER BY key)`` with no PARTITION BY pulls the
whole corpus into ONE task. Instead ``global_rank`` computes the
total order in two phases, both distributed:

1. ``repartitionByRange`` on the sort key (Spark's distributed range
   sort: samples boundaries, scatters once) and a ``row_number``
   window PARTITIONED BY the physical partition id — every partition
   ranks independently;
2. per-partition row counts (a #partitions-sized relation) get a
   running-sum window (tiny, single column) and broadcast-join back
   as offsets: ``rank = offset[pid] + local_rn``.

The resulting rank is a pure function of the (key, id) total order —
partition boundaries affect WHERE a row ranks, never WHAT rank it
gets — so the DuckDB oracle replays it as a plain ROW_NUMBER. The
neighborhood join is an EQUI-join on ``rank + d`` for d ∈ [1, w−1]
(explode of a w-sized sequence), never a range join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def global_rank(
    df: DataFrame, order_cols: list[str], out_col: str = "rank"
) -> DataFrame:
    """Dense global ROW_NUMBER by ``order_cols`` without a
    single-partition window. ``order_cols`` must be a deterministic
    total order (include a unique id as the last tiebreak)."""
    cols = [F.col(c) for c in order_cols]
    d = df.repartitionByRange(*cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    local = Window.partitionBy("__pid").orderBy(*cols)
    d = d.withColumn("__rn", F.row_number().over(local))
    counts = d.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    running = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(running), F.lit(0))
    ).select("__pid", "__off")
    return (
        d.join(broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__off") + F.col("__rn")).cast("bigint"))
        .drop("__pid", "__rn", "__off")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    order_cols: list[str],
    window: int = 4,
) -> DataFrame:
    """Candidate pairs within ``window`` positions of the sort order.

    Output: one row per (a, b) with a ranked before b and
    ``dist = rank_b − rank_a ∈ [1, window−1]``, carrying both ids.
    Each record pairs with exactly min(window−1, records after it)
    successors — candidate volume is exactly (w−1)·n − (w−1)·w/2,
    linear in the corpus.

    ``window`` must be ≥ 2: with window=1 the candidate set is empty
    by definition, but ``F.sequence(rank+1, rank+0)`` would count
    DOWN and emit a self-pair plus a dist=1 pair — so reject loudly
    instead of silently misbehaving.
    """
    if window < 2:
        raise ValueError(
            f"sorted_neighborhood_pairs: window must be >= 2, got {window}"
            " (window=1 means zero candidates; F.sequence would emit a"
            " descending range and fabricate self-pairs)"
        )
    ranked = global_rank(df, order_cols + [id_col]).select(
        F.col(id_col).alias("id"), "rank"
    )
    probes = ranked.select(
        F.col("id").alias("id_a"),
        F.col("rank").alias("rank_a"),
        F.explode(
            F.sequence(F.col("rank") + 1, F.col("rank") + (window - 1))
        ).alias("rank"),
    )
    return probes.join(ranked, "rank").select(
        F.col("id_a"),
        F.col("id").alias("id_b"),
        (F.col("rank") - F.col("rank_a")).cast("bigint").alias("dist"),
    )
