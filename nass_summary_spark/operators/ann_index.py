"""Persisted IVF ANN index (SURVEY.md §2 B101) — the similarity twin
of operators/dedup_index.py, closing the other half of the
"recomputed per run" gap: the coarse quantizer (B31's distributed
Lloyd) and the cell-assigned corpus are trained/encoded ONCE and
persisted, then every query batch probes the index from disk.

Layout at ``index_path``:

* ``centroids/`` — (cell, pos, value): the k×dim model, driver-small.
* ``codes/`` — (id, cell, vec) parquet PARTITIONED BY cell. The
  probe joins query cells against this table on the partition
  column under a broadcast, so Spark's dynamic partition pruning
  reads ONLY the probed cells' files — at 100 TB a nprobe/k_cells
  probe touches that fraction of the corpus bytes, which is the
  entire point of an inverted file, here realized by the STORAGE
  layout instead of executor memory.

Evidence (tests/test_ann_index.py): probing ALL cells equals exact
brute-force top-k row-for-row (the sound completeness check for an
IVF: with nprobe = k the candidate set is the whole corpus); a
partial disk probe matches an INDEPENDENT numpy replay that ranks
probe cells by L2 distance to the stored centroids (the same metric
``assign_cells``/Lloyd use); the extend cycle assigns new vectors
with the STORED quantizer so tomorrow's queries see them; a drifted
ingest measurably unbalances the cells and ``rebalance_ann_index``
(the compaction analog for distribution drift: rebuild the whole
index from its own codes into a sibling directory, validate, and
publish it with one directory swap) restores both the balance and
the probe-pruning/parity properties.  Note:
``similarity.knn_ivf`` ranks probe cells by DOT PRODUCT, so at
``nprobe < k_cells`` it may probe different cells than this index
and return different neighbors — the two agree only at full probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark.sql.functions import broadcast

from nass_summary_spark.functions.lits import ident, nearest_rank_sql
from nass_summary_spark.functions.smalldf import local_struct_df
from nass_summary_spark.functions.vectors import cosine_similarity
from nass_summary_spark.operators.similarity import (
    assign_cells,
    kmeans_train,
)


def build_ann_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    k_cells: int = 8,
    n_iter: int = 5,
    train_rows: int = 4096,
) -> None:
    """Train the coarse quantizer (distributed Lloyd, k×dim to the
    driver only) and persist centroids + cell-assigned vectors.

    The quantizer trains on a deterministic ``train_rows`` sample —
    the smallest ``xxhash64(id)`` rows, the same stable pseudo-sample
    kmeans_train uses for init — because a coarse quantizer needs
    thousands of representative vectors, not the corpus: at 100 TB,
    Lloyd iterations over every vector would dominate build cost for
    zero recall gain. ENCODING still covers the full corpus (one
    assignment map stage + the partitioned write)."""
    train = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(train_rows)
    )
    centroids, _ = kmeans_train(train, id_col, vec_col, k=k_cells, n_iter=n_iter)
    _write_centroids(df.sparkSession, index_path, centroids)
    (
        assign_cells(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
            "vec",
            centroids,
        )
        .select("id", "vec", "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_path}/codes")
    )


def _write_centroids(
    spark: SparkSession, index_path: str, centroids: list[list[float]]
) -> None:
    """Persist the k×dim coarse quantizer as ``centroids/`` (shared
    with the IVFADC index, which stores its coarse quantizer the
    same way)."""
    local_struct_df(
        spark,
        "cell int, pos int, value double",
        [
            (int(c), int(p), float(v))
            for c, vec in enumerate(centroids)
            for p, v in enumerate(vec)
        ],
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/centroids")


def load_centroids(spark: SparkSession, index_path: str) -> list[list[float]]:
    """Read the k×dim quantizer back (model-sized collect)."""
    rows = spark.read.parquet(f"{index_path}/centroids").collect()
    k = max(r["cell"] for r in rows) + 1
    dim = max(r["pos"] for r in rows) + 1
    out = [[0.0] * dim for _ in range(k)]
    for r in rows:
        out[r["cell"]][r["pos"]] = r["value"]
    return out


def extend_ann_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
) -> None:
    """Append new vectors, assigned with the STORED quantizer (the
    cells must stay consistent with what queries probe). Like any
    appending sink, periodic compaction restores file sizes.

    Fails loudly when the batch's vector element type differs from
    the stored relation's (e.g. array<double> into an array<float>
    index): parquet files with mixed element types in one directory
    make reads fail nondeterministically by file order, and a silent
    cast would change stored values invisibly — the caller must cast
    explicitly."""
    stored_vec = (
        df.sparkSession.read.parquet(f"{index_path}/codes")
        .schema["vec"].dataType
    )
    new_vec = df.select(F.col(vec_col).alias("vec")).schema["vec"].dataType
    if new_vec != stored_vec:
        raise ValueError(
            f"ann_index vector type mismatch at {index_path}: stored "
            f"codes hold {stored_vec.simpleString()} but the batch has "
            f"{new_vec.simpleString()} — mixed element types corrupt "
            "the parquet directory; cast the batch to the stored type "
            "first"
        )
    centroids = load_centroids(df.sparkSession, index_path)
    (
        assign_cells(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
            "vec",
            centroids,
        )
        .select("id", "vec", "cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{index_path}/codes")
    )


def cell_balance_audit(spark: SparkSession, index_path: str) -> dict:
    """Occupancy audit of the inverted file — the drift detector for
    the maintenance cycle (VERDICT r6 item 2 of "What's missing").

    ``extend_ann_index`` assigns forever with the STORED quantizer;
    under distribution drift new vectors pile into few cells, the
    partition layout skews (one hot cell → one huge partition), and
    probe pruning degrades toward a full scan. This audit is the
    cheap signal: one map-side-combinable count per cell (k rows to
    the driver — model-sized, like the centroids themselves).

    Returns ``{"cells": {cell: n}, "k_cells", "total", "max_cell",
    "mean_cell", "imbalance"}`` where ``imbalance`` = max/mean
    occupancy (1.0 = perfectly balanced; ≳3 means the hot cell costs
    3× its fair share of every probe that touches it — re-balance)."""
    k = len(load_centroids(spark, index_path))
    rows = (
        spark.read.parquet(f"{index_path}/codes")
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    counts = {int(r["cell"]): int(r["n"]) for r in rows}
    total = sum(counts.values())
    mean = total / k if k else 0.0
    mx = max(counts.values(), default=0)
    return {
        "cells": counts,
        "k_cells": k,
        "total": total,
        "max_cell": mx,
        "mean_cell": mean,
        "imbalance": (mx / mean) if mean else 0.0,
    }


def rebalance_ann_index(
    spark: SparkSession,
    index_path: str,
    k_cells: int | None = None,
    n_iter: int = 5,
    train_rows: int = 4096,
) -> dict:
    """Re-train the quantizer on the CURRENT stored vectors and
    re-encode every code — the compaction analog for distribution
    drift, completing the index family's maintenance pair (the band
    table has ``compact_table``; this is its ANN twin).

    Reads only the codes table (never the corpus source) and rebuilds
    the WHOLE index from it with :func:`build_ann_index` (same
    xxhash64 ``train_rows`` sample rule, stored ``k_cells`` unless
    given) into the empty sibling ``<index_path>__rebalancing``.
    The new generation is VALIDATED (its codes row count must equal
    the source count — a bad rewrite removes the sibling and aborts
    with the live index untouched), then published with ONE
    ``swap_in`` of the index directory: centroids and codes change
    together, so no reader can pair new codes with old centroids.
    During the swap's two renames the index path is briefly absent,
    so a concurrent probe fails loudly rather than scoring a mixed
    index — run in a quiet window, or put the index behind a
    manifest-pointer table format.  A crash between the renames
    leaves the previous generation whole under
    ``<index_path>__pre_rebalance`` for manual recovery.  All
    directory mutations go through Hadoop's FileSystem API
    (``functions.fsio``) so an index at an ``hdfs://``/``s3a://``
    path rebalances the same way it builds and probes.

    Returns ``{"rows", "imbalance_before", "imbalance_after"}`` for
    the caller's audit log."""
    from nass_summary_spark.functions.fsio import remove_dir, swap_in

    before = cell_balance_audit(spark, index_path)
    codes = spark.read.parquet(f"{index_path}/codes").select("id", "vec")
    rows = codes.count()
    tmp = index_path.rstrip("/") + "__rebalancing"
    remove_dir(spark, tmp)
    build_ann_index(
        codes, "id", "vec", tmp,
        k_cells=before["k_cells"] if k_cells is None else k_cells,
        n_iter=n_iter, train_rows=train_rows,
    )
    rewritten = spark.read.parquet(f"{tmp}/codes").count()
    if rewritten != rows:
        remove_dir(spark, tmp)
        raise RuntimeError(
            f"rebalance_ann_index validation failed for {index_path}: "
            f"re-encoded {rewritten} rows, expected {rows}; live index "
            "left untouched"
        )
    swap_in(spark, index_path, tmp, "__pre_rebalance")
    after = cell_balance_audit(spark, index_path)
    return {
        "rows": rows,
        "imbalance_before": before["imbalance"],
        "imbalance_after": after["imbalance"],
    }


def ann_index_probe(
    spark: SparkSession,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    k: int = 5,
    nprobe: int = 2,
    round_to: int = 6,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """Top-k cosine neighbors of each query against the persisted
    index: rank the stored cells per query (literal centroid
    arithmetic — one map stage over the query relation), broadcast
    the (query, cell) probe list, and join it against the codes table
    on the PARTITION column — dynamic partition pruning keeps the
    scan to the probed cells. Scoring and ranking follow knn_ivf
    (rounded cosine desc, id asc tie-break), so a full probe
    (nprobe = k_cells) reproduces exact brute force.

    ``exclude_ids`` (single ``id`` column, batch-sized broadcast)
    removes those stored vectors from the CANDIDATE side before
    ranking — the streaming twin passes the arriving batch's own ids
    so a crash-replayed batch (already appended to the index) probes
    identically to its first run; a post-rank filter would instead
    shift rank numbers and drop rows below k."""
    centroids = load_centroids(spark, index_path)
    # nearest-by-L2 cell ordering, same rule as assign_cells
    probed = F.expr(
        f"slice({nearest_rank_sql(ident(vec_col), centroids)}, 1, {int(nprobe)})"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.explode(F.transform(probed, lambda s: s["cell"])).alias("cell"),
    )
    codes = spark.read.parquet(f"{index_path}/codes")
    if exclude_ids is not None:
        codes = codes.join(
            broadcast(exclude_ids.select("id")), "id", "left_anti"
        )
    cand = (
        codes.join(broadcast(q), on="cell")
        .where(F.col("id") != F.col("query_id"))
        .dropDuplicates(["query_id", "id"])
    )
    scored = cand.withColumn(
        "cosine", F.round(cosine_similarity("__qvec", "vec"), round_to)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", F.col("id").alias("neighbor_id"), "cosine", "rank"
        )
    )
