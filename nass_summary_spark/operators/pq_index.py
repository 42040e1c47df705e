"""Persisted product-quantization index (SURVEY.md §2 B103) —
completing the index family's other half: B101 persisted the IVF
coarse quantizer, but B52/B60's PQ codebooks were still recomputed
per run. Here the codebooks are trained ONCE (``pq_train``'s
deterministic sample-then-Lloyd, the FAISS recipe) and persisted
with the encoded corpus, then every query batch ADC-probes the index
from disk.

Layout at ``index_path``:

* ``codebooks/`` — (subspace, code, pos, value): the m×ksub×dsub
  model, driver-small like the IVF centroids.
* ``params/`` — one row (dim, m, ksub): the geometry sidecar. Like
  dedup_index's params file it makes a mismatched probe (an index
  built under different PQ geometry) fail loudly instead of
  returning silently wrong distances.
* ``codes/`` — (id, code0..code{m-1}) parquet: 8 bytes/vector
  replaces 256 — THE relation a production pipeline rescans. At
  100 TB of raw vectors the codes table is ~3 TB; an ADC probe
  scans codes only and never touches raw vectors.
* ``fitness/`` — one row (mse, sample_n): the mean quantization
  error of the stored codebooks at BUILD time, measured on the
  training-rule sample. The drift reference: ``extend`` encodes with
  the stored codebooks forever, so as the corpus distribution moves
  the reconstruction error — and with it ADC recall — decays with
  no loud signal. :func:`pq_codebook_audit` re-measures against this
  row; :func:`retrain_pq_index` is the repair (rebuild the whole
  index with :func:`build_pq_index` into a sibling directory,
  validate, publish with one directory swap — the
  ``rebalance_ann_index`` pattern, so no reader ever pairs new
  codebooks with old codes).

Evidence (tests/test_pq_index.py): a disk probe is row-identical to
the in-memory ``ann_topk_pq`` (both train on the same deterministic
sample, so the codebooks agree bit-for-bit); the extend cycle
encodes with the STORED codebooks; params mismatch raises; a
drifted corpus degrades the audit and ``retrain_pq_index`` restores
it with in-memory parity intact.

No reference counterpart (the reference is a SQL summary pipeline);
method from Jégou, Douze & Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011 — public literature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nass_summary_spark.functions.smalldf import local_struct_df

from nass_summary_spark.operators.pq import pq_encode, pq_train


def build_pq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 4,
    sample_size: int = 65536,
) -> None:
    """Train codebooks on the deterministic sample and persist
    codebooks + params + the encoded corpus + the fitness sidecar.
    Training cost is sample-bounded; ENCODING covers the full corpus
    (one Arrow map stage + the write)."""
    spark = df.sparkSession
    books = pq_train(
        df, id_col, vec_col, dim, m=m, ksub=ksub, n_iter=n_iter,
        sample_size=sample_size,
    )
    _write_codebooks(spark, index_path, books)
    local_struct_df(
        spark, "dim int, m int, ksub int", [(int(dim), int(m), int(ksub))]
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/params")
    (
        pq_encode(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
                  "id", "vec", books)
        .write.mode("overwrite")
        .parquet(f"{index_path}/codes")
    )
    _write_fitness(
        spark, index_path, _pq_mse(df, id_col, vec_col, books, FITNESS_SAMPLE)
    )


#: fitness sample bound — decoupled from the (larger) train sample:
#: an MSE reference needs a few thousand vectors, and the fitness job
#: runs inside every build, so it must stay cheap (the first cut ran
#: the interpreted-HOF distance tables over the train-sized sample
#: and doubled the toy-scale build; Arrow + 4096 rows is ~100×
#: lighter and statistically identical)
FITNESS_SAMPLE = 4096


def _write_codebooks(
    spark: SparkSession, index_path: str, books: list[list[list[float]]]
) -> None:
    """Persist the m×ksub×dsub codebooks as ``codebooks/`` (shared
    with the IVFADC index, whose residual codebooks have the same
    layout)."""
    local_struct_df(
        spark,
        "subspace int, code int, pos int, value double",
        [
            (int(s), int(c), int(p), float(v))
            for s, book in enumerate(books)
            for c, cent in enumerate(book)
            for p, v in enumerate(cent)
        ],
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/codebooks")


def _pq_mse(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
    sample_size: int = FITNESS_SAMPLE,
    coarse: list[list[float]] | None = None,
) -> float:
    """Mean quantization error of ``books`` over the deterministic
    training-rule sample of ``df`` (``orderBy(xxhash64(id)).limit``)
    — per vector, the summed per-subspace distance to the NEAREST
    centroid, i.e. ||v − reconstruction(encode(v))||². With a
    ``coarse`` quantizer (the IVFADC index) each vector is first
    replaced by its residual against the nearest coarse centroid, so
    the error is ||v − (centroid[cell] + reconstruction)||².
    Evaluated as one Arrow-batched numpy pass (the same batch×ksub
    distance matrix shape ``pq_encode`` uses — Spark HOFs run
    interpreted and measured ~100× slower here); one sample-bounded
    job, never the full corpus. Per-row errors are order-independent
    (fixed numpy reduction order per row), so build-time and
    audit-time calls on the same corpus return the identical
    double."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    dsub = len(books[0][0])
    bks = [[list(map(float, c)) for c in b] for b in books]
    cents = None if coarse is None else [list(map(float, c)) for c in coarse]

    def _err(vs: pd.Series) -> pd.Series:
        import numpy as np

        cbs = [np.asarray(b) for b in bks]
        x = np.vstack(vs.to_numpy()).astype("float64")
        if cents is not None:
            cc = np.asarray(cents)
            cells = ((x[:, None, :] - cc[None]) ** 2).sum(axis=2).argmin(axis=1)
            x = x - cc[cells]
        out = np.zeros(len(x))
        for s, cb in enumerate(cbs):
            sub = x[:, s * dsub : (s + 1) * dsub]
            d2 = ((sub[:, None, :] - cb[None]) ** 2).sum(axis=2)
            out += d2.min(axis=1)
        return pd.Series(out)

    _err.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    udf = pandas_udf(_err, "double").asNondeterministic()
    sample = (
        df.select(
            F.col(vec_col).alias("__v"),
            F.xxhash64(F.col(id_col)).alias("__h"),
        )
        .orderBy("__h")
        .limit(int(sample_size))
    )
    row = (
        sample.select(udf(F.col("__v")).alias("__e"))
        .agg(F.avg("__e").alias("mse"))
        .collect()[0]
    )
    return float(row["mse"]) if row["mse"] is not None else 0.0


def _write_fitness(spark: SparkSession, index_path: str, mse: float) -> None:
    local_struct_df(
        spark, "mse double, sample_n bigint",
        [(float(mse), int(FITNESS_SAMPLE))],
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/fitness")


def _read_fitness(spark: SparkSession, index_path: str) -> float:
    """The build-time mse recorded in ``index_path``'s fitness sidecar."""
    try:
        r = spark.read.parquet(f"{index_path}/fitness").collect()[0]
    except Exception as exc:
        raise ValueError(
            f"index at {index_path} has no fitness sidecar (built "
            "before drift auditing existed) — retrain or rebuild it to "
            "establish the reference"
        ) from exc
    return float(r["mse"])


def _fitness_audit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    books: list[list[list[float]]],
    sample_size: int,
    coarse: list[list[float]] | None = None,
) -> dict:
    """Re-measure the stored model's error on the current corpus
    against the build-time fitness sidecar (both persisted PQ-family
    audits)."""
    ref = _read_fitness(df.sparkSession, index_path)
    now = _pq_mse(df, id_col, vec_col, books, sample_size, coarse)
    return {
        "mse_now": now,
        "mse_build": ref,
        "drift_ratio": (now / ref) if ref > 0.0 else 1.0,
    }


def pq_codebook_audit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    sample_size: int = 4096,
) -> dict:
    """Codebook-fitness drift audit — the PQ analog of
    ``cell_balance_audit``: re-measure the stored codebooks' mean
    quantization error on a deterministic sample of the CURRENT
    corpus ``df`` and compare against the build-time reference in the
    fitness sidecar. ``drift_ratio`` ≈ 1 means the codebooks still
    fit the distribution; a ratio well above 1 (drifted ingest) means
    ADC distances — and recall — have silently degraded and
    :func:`retrain_pq_index` is due. Needs the corpus because the
    index stores only 8-byte codes; cost is one sample-bounded job."""
    books, _params = load_pq_codebooks(df.sparkSession, index_path)
    return _fitness_audit(df, id_col, vec_col, index_path, books, sample_size)


def retrain_pq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    n_iter: int = 4,
    sample_size: int = 65536,
) -> dict:
    """Re-train the codebooks on the CURRENT corpus and re-encode —
    the drift repair completing the maintenance pair
    (``compact_table`` restores file sizes; this restores codebook
    fitness). Same contract as ``rebalance_ann_index``: the WHOLE
    index is rebuilt by :func:`build_pq_index` under the STORED
    geometry into the empty sibling ``<index_path>__retraining``,
    VALIDATED (its codes row count must equal the corpus count — a
    bad rewrite removes the sibling and aborts with the live index
    untouched), and published with ONE ``swap_in`` of the index
    directory via ``functions.fsio`` (works on hdfs://s3a:// paths).
    Codebooks, codes and fitness therefore change together; during
    the two renames the index path is briefly absent, so a
    concurrent probe fails loudly instead of scoring a mixed index.
    A crash between the renames leaves the previous generation whole
    under ``<index_path>__pre_retrain``. Unlike the IVF rebalance
    this needs the raw corpus ``df`` — the codes table cannot be
    decoded back to vectors.

    Returns ``{"rows", "mse_before", "mse_after"}``; ``mse_after`` is
    the new generation's fitness sidecar."""
    from nass_summary_spark.functions.fsio import remove_dir, swap_in

    spark = df.sparkSession
    old_books, params = load_pq_codebooks(spark, index_path)
    mse_before = _pq_mse(df, id_col, vec_col, old_books, FITNESS_SAMPLE)
    tmp = index_path.rstrip("/") + "__retraining"
    remove_dir(spark, tmp)
    build_pq_index(
        df, id_col, vec_col, tmp, params["dim"], m=params["m"],
        ksub=params["ksub"], n_iter=n_iter, sample_size=sample_size,
    )
    rows = df.count()
    rewritten = spark.read.parquet(f"{tmp}/codes").count()
    if rewritten != rows:
        remove_dir(spark, tmp)
        raise RuntimeError(
            f"retrain_pq_index validation failed for {index_path}: "
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


def load_pq_codebooks(
    spark: SparkSession, index_path: str
) -> tuple[list[list[list[float]]], dict]:
    """Read the model back (model-sized collect): (codebooks,
    {"dim", "m", "ksub"})."""
    p = spark.read.parquet(f"{index_path}/params").collect()[0]
    params = {"dim": p["dim"], "m": p["m"], "ksub": p["ksub"]}
    dsub = params["dim"] // params["m"]
    books = [
        [[0.0] * dsub for _ in range(params["ksub"])]
        for _ in range(params["m"])
    ]
    rows = spark.read.parquet(f"{index_path}/codebooks").collect()
    # a codebooks relation whose geometry disagrees with the params
    # sidecar means the index mixes generations — fail loudly here,
    # before any probe can score with misaligned tables
    if len(rows) != params["m"] * params["ksub"] * dsub or any(
        r["subspace"] >= params["m"]
        or r["code"] >= params["ksub"]
        or r["pos"] >= dsub
        for r in rows
    ):
        raise ValueError(
            f"pq_index geometry mismatch at {index_path}: params say "
            f"(dim={params['dim']}, m={params['m']}, "
            f"ksub={params['ksub']}) but the codebooks table has "
            f"{len(rows)} entries — the index mixes generations; "
            "rebuild it"
        )
    for r in rows:
        books[r["subspace"]][r["code"]][r["pos"]] = r["value"]
    return books, params


def _check_codes_geometry(codes: DataFrame, params: dict, index_path: str) -> None:
    """Loud-fail on a mixed-generation index: the codes table's
    columns must match the params sidecar's ``m`` (code0..code{m-1}).
    A codes relation written under a different PQ geometry would
    otherwise score with misaligned LUT indices — silently wrong
    distances, the exact failure dedup_index's params guard exists
    to prevent."""
    want = {f"code{s}" for s in range(params["m"])}
    have = {c for c in codes.columns if c.startswith("code")}
    if have != want:
        raise ValueError(
            f"pq_index geometry mismatch at {index_path}: params say "
            f"m={params['m']} but codes table has columns "
            f"{sorted(have)} — the index mixes generations; rebuild it"
        )


def extend_pq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
) -> None:
    """Append new vectors encoded with the STORED codebooks (codes
    must stay comparable to what queries ADC-score against). Like
    any appending sink, periodic compaction restores file sizes;
    under distribution drift the quantization error grows — re-train
    with :func:`retrain_pq_index`, the PQ analog of
    ``rebalance_ann_index``."""
    books, _params = load_pq_codebooks(df.sparkSession, index_path)
    (
        pq_encode(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
                  "id", "vec", books)
        .write.mode("append")
        .parquet(f"{index_path}/codes")
    )


def pq_index_probe(
    spark: SparkSession,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    k: int = 5,
    collect_queries: bool | str = "auto",
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k of each query against the persisted codes — the
    disk twin of ``ann_topk_pq(rerank=0)``, scoring 8-byte codes via
    per-query lookup tables without ever reading raw vectors.
    Returns (query_id, neighbor_id, approx_dist2, rnk), identical
    ranking rules (dist asc, id asc).

    ``exclude_ids`` (single ``id`` column, batch-sized broadcast)
    removes stored codes from the candidate side BEFORE ranking —
    the same crash-replay contract as ``ann_index_probe``."""
    from nass_summary_spark.operators.pq import _adc_rank

    books, params = load_pq_codebooks(spark, index_path)
    codes = spark.read.parquet(f"{index_path}/codes")
    _check_codes_geometry(codes, params, index_path)
    if exclude_ids is not None:
        codes = codes.join(
            F.broadcast(exclude_ids.select("id")), "id", "left_anti"
        )
    ranked = _adc_rank(
        spark,
        codes,
        queries,
        id_col,
        vec_col,
        books,
        params["dim"],
        collect_queries=collect_queries,
        code_id_col="id",
    )
    return ranked.where(F.col("rnk") <= k)
