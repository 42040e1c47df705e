"""Persisted IVFADC index (SURVEY.md §2 B105) — the two certified
index halves composed into the full FAISS architecture (Jégou, Douze
& Schmid, TPAMI 2011 §IV): the coarse quantizer prunes WHICH vectors
are scanned (B101's cell-partitioned storage layout; the probe
pushes the probed cell set as a static partition filter — see
``ivfpq_index_probe``), PQ compresses WHAT is read per vector
(B103's 8-byte codes). A probe therefore reads nprobe/k_cells of the corpus
FILES and 8 bytes per vector inside them — at 100 TB of raw vectors
that is ~3 TB of codes total, of which one probe touches a few
percent.

Layout at ``index_path``:

* ``centroids/`` — (cell, pos, value): the coarse quantizer.
* ``codebooks/`` — (subspace, code, pos, value): the residual PQ
  model (codebooks are trained on x − centroid[cell], so they are
  NOT interchangeable with B103's plain-PQ codebooks).
* ``params/`` — one row (dim, m, ksub, k_cells): the geometry
  sidecar; a probe against an index built under different geometry
  fails loudly instead of scoring with misaligned tables.
* ``codes/`` — (id, code0..code{m-1}) parquet PARTITIONED BY cell:
  the inverted file realized as storage layout.

Training follows :func:`~nass_summary_spark.operators.pq.
_ivfpq_train` — the SAME deterministic sample + driver-side Lloyd the
in-memory ``ann_topk_ivfpq`` uses — so a disk probe is row-identical
to the in-memory operator given the same corpus and nprobe
(pytest-pinned in tests/test_ivfpq_index.py, together with the
extend/geometry-guard contracts). Like the IVF index, drift
maintenance is re-train + re-encode: extend assigns and encodes with
the STORED model so codes stay comparable, a ``fitness/`` sidecar
records the build-time residual quantization error,
:func:`ivfpq_codebook_audit` re-measures it on the current corpus,
and :func:`retrain_ivfpq_index` repairs drift the
``rebalance_ann_index`` way: rebuild the whole index with
:func:`build_ivfpq_index` into a sibling directory, validate, and
publish it with one directory swap, so no reader ever pairs new
centroids or codebooks with old codes.

No reference counterpart (the reference is a SQL summary pipeline);
method from public literature (Jégou TPAMI'11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nass_summary_spark.functions.smalldf import local_struct_df

from nass_summary_spark.operators.ann_index import _write_centroids
from nass_summary_spark.operators.pq import (
    _ivfpq_encode,
    _ivfpq_rank,
    _ivfpq_train,
)
from nass_summary_spark.operators.pq_index import (
    FITNESS_SAMPLE,
    _fitness_audit,
    _pq_mse,
    _read_fitness,
    _write_codebooks,
    _write_fitness,
)


def build_ivfpq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    dim: int,
    k_cells: int = 8,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 4,
    sample_size: int = 65536,
) -> None:
    """Train coarse quantizer + residual codebooks on the
    deterministic sample, then persist the model, the encoded corpus
    (cell-partitioned) and the fitness sidecar. Training is
    sample-bounded; ENCODING covers the full corpus (one Arrow map
    stage + the partitioned write)."""
    if dim % m:
        raise ValueError("dim must be divisible by m")
    spark = df.sparkSession
    coarse_l, books_l = _ivfpq_train(
        df, id_col, vec_col, dim, n_cells=k_cells, m=m, ksub=ksub,
        n_iter=n_iter, sample_size=sample_size,
    )
    _write_centroids(spark, index_path, coarse_l)
    _write_codebooks(spark, index_path, books_l)
    local_struct_df(
        spark,
        "dim int, m int, ksub int, k_cells int",
        [(int(dim), int(m), int(ksub), int(k_cells))],
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/params")
    (
        _ivfpq_encode(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
            "id", "vec", coarse_l, books_l,
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_path}/codes")
    )
    _write_fitness(
        spark, index_path,
        _pq_mse(df, id_col, vec_col, books_l, FITNESS_SAMPLE, coarse=coarse_l),
    )


def ivfpq_codebook_audit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    sample_size: int = 4096,
) -> dict:
    """Model-fitness drift audit for the persisted IVFADC index:
    re-measure the stored coarse-quantizer + residual-codebook mean
    quantization error on a deterministic sample of the CURRENT
    corpus and compare against the build-time fitness sidecar.
    ``drift_ratio`` well above 1 means the residual codebooks no
    longer fit the ingest distribution (silent ADC recall decay) —
    :func:`retrain_ivfpq_index` is due. Needs the raw corpus; cost
    is one sample-bounded job."""
    coarse_l, books_l, _params = load_ivfpq_model(df.sparkSession, index_path)
    return _fitness_audit(
        df, id_col, vec_col, index_path, books_l, sample_size, coarse=coarse_l
    )


def retrain_ivfpq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    n_iter: int = 4,
    sample_size: int = 65536,
) -> dict:
    """Re-train the full IVFADC model (coarse quantizer AND residual
    codebooks) on the CURRENT corpus and re-encode — the drift repair
    for this index, combining what ``rebalance_ann_index`` does for
    cells with what ``retrain_pq_index`` does for codebooks. The
    WHOLE index is rebuilt by :func:`build_ivfpq_index` under the
    STORED geometry into the empty sibling
    ``<index_path>__retraining``, VALIDATED (codes row count must
    equal the corpus count — a bad rewrite removes the sibling and
    aborts with the live index untouched), and published with ONE
    ``swap_in`` of the index directory via ``functions.fsio``.
    Centroids, codebooks, codes and fitness therefore change
    together; during the two renames the index path is briefly
    absent, so a concurrent probe fails loudly instead of scoring a
    mixed index. A crash between the renames leaves the previous
    generation whole under ``<index_path>__pre_retrain``. Needs the
    raw corpus ``df`` — codes cannot be decoded back to vectors.

    Returns ``{"rows", "mse_before", "mse_after"}``; ``mse_after`` is
    the new generation's fitness sidecar."""
    from nass_summary_spark.functions.fsio import remove_dir, swap_in

    spark = df.sparkSession
    old_coarse, old_books, params = load_ivfpq_model(spark, index_path)
    mse_before = _pq_mse(
        df, id_col, vec_col, old_books, FITNESS_SAMPLE, coarse=old_coarse
    )
    tmp = index_path.rstrip("/") + "__retraining"
    remove_dir(spark, tmp)
    build_ivfpq_index(
        df, id_col, vec_col, tmp, params["dim"], k_cells=params["k_cells"],
        m=params["m"], ksub=params["ksub"], n_iter=n_iter,
        sample_size=sample_size,
    )
    rows = df.count()
    rewritten = spark.read.parquet(f"{tmp}/codes").count()
    if rewritten != rows:
        remove_dir(spark, tmp)
        raise RuntimeError(
            f"retrain_ivfpq_index validation failed for {index_path}: "
            f"re-encoded {rewritten} rows, expected {rows}; live index "
            "left untouched"
        )
    mse_after = _read_fitness(spark, tmp)
    swap_in(spark, index_path, tmp, "__pre_retrain")
    return {
        "rows": rows,
        "mse_before": mse_before,
        "mse_after": mse_after,
    }


def load_ivfpq_model(
    spark: SparkSession, index_path: str
) -> tuple[list[list[float]], list[list[list[float]]], dict]:
    """Read the model back (model-sized collects): ``(coarse_l,
    books_l, params)``. Fails loudly when the stored relations'
    geometry disagrees with the params sidecar — a mixed-generation
    index would otherwise score with misaligned tables."""
    p = spark.read.parquet(f"{index_path}/params").collect()[0]
    params = {
        "dim": p["dim"], "m": p["m"], "ksub": p["ksub"],
        "k_cells": p["k_cells"],
    }
    dsub = params["dim"] // params["m"]
    crows = spark.read.parquet(f"{index_path}/centroids").collect()
    brows = spark.read.parquet(f"{index_path}/codebooks").collect()
    if (
        len(crows) != params["k_cells"] * params["dim"]
        or len(brows) != params["m"] * params["ksub"] * dsub
        or any(r["cell"] >= params["k_cells"] for r in crows)
        or any(
            r["subspace"] >= params["m"]
            or r["code"] >= params["ksub"]
            or r["pos"] >= dsub
            for r in brows
        )
    ):
        raise ValueError(
            f"ivfpq_index geometry mismatch at {index_path}: params say "
            f"(dim={params['dim']}, m={params['m']}, ksub={params['ksub']},"
            f" k_cells={params['k_cells']}) but centroids/codebooks have "
            f"{len(crows)}/{len(brows)} entries — the index mixes "
            "generations; rebuild it"
        )
    coarse_l = [[0.0] * params["dim"] for _ in range(params["k_cells"])]
    for r in crows:
        coarse_l[r["cell"]][r["pos"]] = r["value"]
    books_l = [
        [[0.0] * dsub for _ in range(params["ksub"])]
        for _ in range(params["m"])
    ]
    for r in brows:
        books_l[r["subspace"]][r["code"]][r["pos"]] = r["value"]
    return coarse_l, books_l, params


def _check_codes_geometry(codes: DataFrame, params: dict, index_path: str) -> None:
    want = {f"code{s}" for s in range(params["m"])}
    have = {c for c in codes.columns if c.startswith("code")}
    if have != want or "cell" not in codes.columns:
        raise ValueError(
            f"ivfpq_index geometry mismatch at {index_path}: params say "
            f"m={params['m']} but the codes table has columns "
            f"{sorted(have)} (cell {'present' if 'cell' in codes.columns else 'MISSING'})"
            " — the index mixes generations; rebuild it"
        )


def extend_ivfpq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
) -> None:
    """Append new vectors, assigned and residual-encoded with the
    STORED model (codes must stay comparable to what queries
    ADC-score against). Under drift, re-train with
    :func:`retrain_ivfpq_index` — the IVF rebalance analog."""
    coarse_l, books_l, _params = load_ivfpq_model(
        df.sparkSession, index_path
    )
    (
        _ivfpq_encode(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
            "id", "vec", coarse_l, books_l,
        )
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{index_path}/codes")
    )


def ivfpq_index_probe(
    spark: SparkSession,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    k: int = 5,
    nprobe: int = 3,
    collect_queries: bool | str = "auto",
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """IVFADC top-k of each query against the persisted index: the
    (query, cell) probe list equi-joins the codes table on its
    PARTITION column, and only probed cells' files are read — on the
    default collect path the probed cell set is pushed as a STATIC
    ``cell IN (...)`` PartitionFilter at planning time (plan-asserted;
    runtime DPP would skip a filterless local build side), while the
    distributed path (``collect_queries=False``) leaves pruning to
    DPP against the filtered query relation. ADC lookup tables score
    the 8-byte codes. Row-identical to ``ann_topk_ivfpq(rerank=0)``
    trained on the same corpus. Returns (query_id, neighbor_id,
    approx_dist2, rnk).

    ``exclude_ids`` (single ``id`` column, batch-sized broadcast)
    removes stored codes BEFORE ranking — the crash-replay contract
    of the index family."""
    coarse_l, books_l, params = load_ivfpq_model(spark, index_path)
    codes = spark.read.parquet(f"{index_path}/codes")
    _check_codes_geometry(codes, params, index_path)
    if exclude_ids is not None:
        codes = codes.join(
            F.broadcast(exclude_ids.select("id")), "id", "left_anti"
        )
    ranked = _ivfpq_rank(
        spark, codes, queries, id_col, vec_col, coarse_l, books_l,
        nprobe=nprobe, collect_queries=collect_queries, code_id_col="id",
    )
    return ranked.where(F.col("rnk") <= k)
