"""Product-quantization ANN (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011): the compression-side scale
path that complements the bucketing paths (LSH ``similarity.knn_lsh``,
IVF ``similarity.knn_ivf``).

Why this matters at 100 TB: brute-force cosine reads d floats per
corpus vector per query (64 dims → 256 bytes/vector).  PQ splits the
vector into m subspaces, trains a tiny k-means codebook per subspace
(on a sample — model-sized), and stores each vector as m one-byte
codes (64 dims, m=8 → 8 bytes/vector, a 32× scan-bytes reduction).
Query scoring is **asymmetric distance computation (ADC)**: for each
query, the m×ksub table of (query-subvector → centroid) squared
distances is computed once on the driver (model-sized numpy) and
shipped as literal arrays; the per-vector approximate distance is m
array lookups + adds — a pure Catalyst map stage over the *codes*,
never the raw vectors.  Top-k finishes with the same partial
WindowGroupLimit ranking every other top-k in the repo uses.

Training runs on a bounded deterministic sample collected once
(the FAISS shape — PQ codebooks need a representative sample, not
the corpus).  Codes are computed once per corpus (in a real
deployment: written to the clustered parquet sink and reused across
queries; the demo query encodes inline).

Approximation is verified in tests by recall@k against the exact
:func:`similarity.knn_bruteforce` — same harness as LSH/IVF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nass_summary_spark.functions.lits import (
    double_array2d,
    double_array2d_sql,
    ident,
    nearest_rank_sql,
    sqdist_lit_sql,
)
from nass_summary_spark.functions.smalldf import local_struct_df



#: Query-set size above which ``collect_queries="auto"`` switches to
#: the distributed-LUT plan.  Below it, nq × m × ksub LUT floats are
#: comfortably literal/broadcast material (4096 × 8 × 16 × 8 B = 4 MB)
#: and the collect path wins on job count; above it the query relation
#: may exceed driver memory and must stay distributed.
AUTO_COLLECT_MAX_QUERIES = 4096


def _small_df(spark, schema: str, rows):
    """Model-sized driver-local relation: one JVM expression when the
    types allow (every job over a pickled createDataFrame relation
    pays a multi-second Python-runner tax — see functions/smalldf),
    createDataFrame otherwise."""
    try:
        return local_struct_df(spark, schema, rows)
    except ValueError:
        return spark.createDataFrame(rows, schema)


def _id_type(df, id_col: str) -> str:
    return df.select(id_col).schema.fields[0].dataType.simpleString()


def _resolve_collect(queries: DataFrame, collect_queries) -> bool:
    """Resolve the ``collect_queries`` tri-state (True/False/"auto").

    "auto" (the default) makes the SCALE path the default behavior
    rather than an opt-in flag: a bounded ``limit(n+1).count()`` —
    never a full count of an unboundedly large query relation —
    decides whether the query set is small enough to collect.
    """
    if collect_queries == "auto":
        cap = AUTO_COLLECT_MAX_QUERIES
        return queries.limit(cap + 1).count() <= cap
    return bool(collect_queries)


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 4,
    sample_size: int = 65536,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: returns ``m`` lists of ``ksub``
    centroids of length ``dim // m`` each.

    Codebooks are trained on a bounded deterministic sample
    (``orderBy(xxhash64(id)).limit(n)`` — hash order ≈ uniform,
    stable across partitionings), collected ONCE, with the Lloyd
    iterations running vectorized on the driver.  This is exactly how
    FAISS trains PQ codebooks (sample-then-train): the model needs a
    representative sample, not the corpus, so the corpus-scale work
    stays where it belongs — the encode pass.  One Spark job total
    instead of m × n_iter assignment/aggregation rounds.
    """
    import numpy as np

    if dim % m:
        raise ValueError("dim must be divisible by m")
    dsub = dim // m
    rows = (
        df.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([[float(v) for v in r["v"]] for r in rows])
    books = [_lloyd(x[:, s * dsub : (s + 1) * dsub], ksub, n_iter) for s in range(m)]
    return [[[float(v) for v in row] for row in c] for c in books]


def _lloyd(data, k: int, iters: int):
    """Driver-side numpy Lloyd's k-means over the rows of ``data``:
    deterministic init from the first ``k`` rows, ``iters`` rounds of
    nearest-centroid assignment and mean update; an empty cell keeps
    its centroid. Returns the ``k × dim`` centroid array."""
    c = data[:k].copy()
    for _ in range(iters):
        d2 = ((data[:, None, :] - c[None]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for j in range(k):
            mask = a == j
            if mask.any():
                c[j] = data[mask].mean(axis=0)
    return c


def _lut_columns(vec_sql: str, books: list[list[list[float]]], prefix: str = "lut"):
    """Per-subspace ADC lookup tables as COLUMN expressions over a
    (residual) vector column given as SQL TEXT:
    ``lut{s}[j] = ||sub_s(vec) − book[s][j]||²``.
    This is the distributed twin of the driver-side LUT build — no
    collect, the tables materialize inside the scan of the query
    relation, so the query set can be arbitrarily large. Each
    subspace table renders to ONE parsed expression — the Column-API
    form cost 2 py4j lambda builds per (subspace, code) pair, i.e.
    m×ksub ≈ 128 round-trip bundles per query construction (r10
    profile; lits.sqdist_lit_sql). Fold arithmetic is unchanged."""
    dsub = len(books[0][0])
    return [
        F.expr(
            "array("
            + ",".join(
                sqdist_lit_sql(f"slice({vec_sql},{s * dsub + 1},{dsub})", c)
                for c in books[s]
            )
            + ")"
        ).alias(f"{prefix}{s}")
        for s in range(len(books))
    ]


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    arrow: bool = True,
) -> DataFrame:
    """Encode each vector to ``m`` small-int codes (columns
    ``code0..code{m-1}``) — a map stage; codebooks ride with the task
    closure exactly like a broadcast model.  8 bytes/vector replaces
    256: this is the relation a production pipeline persists
    (clustered parquet) and rescans.

    Default path is Arrow-batched numpy (one argmin over a
    batch×ksub distance matrix per subspace — the SIMD shape FAISS
    uses); ``arrow=False`` keeps the pure-Catalyst HOF expression,
    which is semantically identical (tests pin the two equal) but
    interpreted per-row, the same trade documented for the geometry
    clip (SCALING.md)."""
    dsub = len(codebooks[0][0])
    m = len(codebooks)
    if not arrow:
        out = df.select(F.col(id_col), F.col(vec_col))
        for s, book in enumerate(codebooks):
            sub = f"slice({ident(vec_col)},{s * dsub + 1},{dsub})"
            out = out.withColumn(
                f"code{s}",
                F.expr(f"element_at({nearest_rank_sql(sub, book)}, 1).cell"),
            )
        return out.drop(vec_col)

    from typing import Iterator

    from pyspark.sql.types import IntegerType, StructField, StructType

    id_field = df.select(id_col).schema.fields[0]
    schema = StructType(
        [id_field] + [StructField(f"code{s}", IntegerType(), False) for s in range(m)]
    )
    books = [[list(map(float, c)) for c in b] for b in codebooks]

    def encode(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        cbs = [np.asarray(b) for b in books]
        for b in batches:
            if not len(b):
                continue
            x = np.vstack(b[vec_col].to_numpy()).astype("float64")
            data = {id_col: b[id_col].to_numpy()}
            for s in range(m):
                sub = x[:, s * dsub : (s + 1) * dsub]
                d2 = ((sub[:, None, :] - cbs[s][None]) ** 2).sum(axis=2)
                data[f"code{s}"] = d2.argmin(axis=1).astype("int32")
            yield pd.DataFrame(data)

    return df.select(id_col, vec_col).mapInPandas(encode, schema)


def _adc_rank(
    spark: SparkSession,
    codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
    dim: int,
    collect_queries: bool | str = "auto",
    code_id_col: str | None = None,
) -> DataFrame:
    """Rank every (query, code-row) pair by ADC approximate squared
    L2 — the scoring core shared by :func:`ann_topk_pq` (in-memory
    codes) and ``pq_index_probe`` (persisted codes). ``codes`` must
    carry ``code_id_col`` (default ``id_col``) plus code0..code{m-1}.
    Returns the UNFILTERED ranking (query_id, neighbor_id,
    approx_dist2, rnk) — callers keep rnk ≤ k (or a rerank
    shortlist). Both LUT paths (driver literals vs Catalyst
    expressions) are value-identical; see ann_topk_pq's docstring
    for the trade."""
    import numpy as np

    code_id_col = code_id_col or id_col
    m = len(books)
    dsub = len(books[0][0])
    collect_queries = _resolve_collect(queries, collect_queries)
    if collect_queries:
        qrows = queries.select(id_col, vec_col).collect()
        qids = [r[id_col] for r in qrows]
        # luts[s] is an nq×ksub table; shipped as one nested literal
        # array per subspace, indexed (qpos, code) in the corpus scan
        luts: list[list[list[float]]] = []
        for s, book in enumerate(books):
            cb = np.asarray(book)
            tbl = []
            for r in qrows:
                qv = np.asarray([float(x) for x in r[vec_col]])
                qs = qv[s * dsub : (s + 1) * dsub]
                tbl.append([float(x) for x in ((cb - qs) ** 2).sum(axis=1)])
            luts.append(tbl)

        qindex = _small_df(
            spark,
            f"qpos int, query_id {_id_type(queries, id_col)}",
            [(i, q) for i, q in enumerate(qids)],
        )
        dist = None
        for s, tbl in enumerate(luts):
            nested = double_array2d(tbl)
            term = F.element_at(
                F.element_at(nested, (F.col("qpos") + 1).cast("int")),
                (F.col(f"code{s}") + 1).cast("int"),
            )
            dist = term if dist is None else dist + term
        lut_side = F.broadcast(qindex)
    else:
        # distributed LUT build: one row per query carrying its m
        # ksub-length tables; the codebooks are the only literals
        lut_rel = queries.select(
            F.col(id_col).alias("query_id"), *_lut_columns(ident(vec_col), books)
        )
        dist = None
        for s in range(m):
            term = F.element_at(
                F.col(f"lut{s}"), (F.col(f"code{s}") + 1).cast("int")
            )
            dist = term if dist is None else dist + term
        lut_side = lut_rel

    scored = (
        codes.crossJoin(lut_side)
        .where(F.col(code_id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(code_id_col).alias("neighbor_id"),
            F.round(dist, 6).alias("approx_dist2"),
        )
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy(F.col("approx_dist2").asc(), F.col("neighbor_id").asc())
    )
    return scored.withColumn("rnk", F.row_number().over(w))


def ann_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 4,
    rerank: int = 0,
    collect_queries: bool | str = "auto",
) -> DataFrame:
    """ADC top-k: approximate squared-L2 via per-query lookup tables
    over the PQ codes.  Returns (query_id, neighbor_id, approx_dist2,
    rnk).  Default: the LUTs (one m×ksub float table per query) are
    computed driver-side from the *collected query set* — queries are
    the broadcast-sized side here, identical to knn_bruteforce's
    contract — and enter the plan as literal arrays indexed by code.

    ``collect_queries=False`` is the beyond-driver-memory path: the
    LUTs are computed as Catalyst expressions INSIDE the scan of the
    query relation (:func:`_lut_columns` — the codebooks are the only
    literals) and scoring joins codes × query-LUT rows, so the query
    set is never collected and can exceed driver memory; the engine
    picks broadcast vs shuffle for the join from its size.  Both
    paths produce identical results (tested).

    ``rerank > 0`` enables the production IVFADC-refine shape: the
    cheap 8-byte/vector ADC scan keeps a shortlist of ``rerank``
    candidates per query, then ONLY those (nq × R rows — broadcast-
    sized) are joined back to the raw vectors for exact cosine, and
    the final top-k is exact-within-shortlist.  Output switches to
    (query_id, neighbor_id, cosine, rnk).  Note the worst case for
    PQ is exactly isotropic random data (no low-dim structure to
    quantize); real embedding corpora concentrate near manifolds
    where the same codebook budget buys far higher recall — the
    recall bar in tests is set on the worst case.
    """
    books = pq_train(corpus, id_col, vec_col, dim, m=m, ksub=ksub, n_iter=n_iter)
    codes = pq_encode(corpus, id_col, vec_col, books)
    spark = corpus.sparkSession
    ranked = _adc_rank(
        spark, codes, queries, id_col, vec_col, books, dim,
        collect_queries=collect_queries, code_id_col=id_col,
    )
    if not rerank:
        return ranked.where(F.col("rnk") <= k)

    from nass_summary_spark.functions.vectors import cosine_similarity

    shortlist = ranked.where(F.col("rnk") <= rerank).select(
        "query_id", "neighbor_id"
    )
    collect_queries = _resolve_collect(queries, collect_queries)
    if collect_queries:
        qrows = queries.select(id_col, vec_col).collect()
        qvecs = _small_df(
            spark,
            f"query_id {_id_type(queries, id_col)}, __qv array<double>",
            [(r[id_col], [float(x) for x in r[vec_col]]) for r in qrows],
        )
        # shortlist is nq×R rows — broadcast it against the corpus so
        # the raw-vector fetch is a map-side hash join, not a shuffle
        shortlist = F.broadcast(shortlist)
        qvecs = F.broadcast(qvecs)
    else:
        # beyond-broadcast query sets: plain shuffle joins on the ids
        qvecs = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        )
    refined = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        )
        .join(shortlist, "neighbor_id")
        .join(qvecs, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("__qv", "__cv"), 6).alias("cosine"),
        )
    )
    w2 = (
        Window.partitionBy("query_id")
        .orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    )
    return (
        refined.withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= k)
    )


def _ivfpq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_cells: int,
    m: int,
    ksub: int,
    n_iter: int,
    sample_size: int,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the IVFADC model on the deterministic xxhash64-ordered
    sample (driver-side numpy Lloyd — the FAISS shape): coarse
    centroids, then per-subspace codebooks on the RESIDUALS
    (x − centroid[cell]). Returns ``(coarse_l, books_l)`` as plain
    lists — the model shared by :func:`ann_topk_ivfpq` (in-memory)
    and the persisted ``ivfpq_index`` (disk) so their probes stay
    row-identical."""
    import numpy as np

    dsub = dim // m
    rows = (
        corpus.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([[float(v) for v in r["v"]] for r in rows])

    coarse = _lloyd(x, n_cells, n_iter)
    resid = x - coarse[((x[:, None, :] - coarse[None]) ** 2).sum(axis=2).argmin(axis=1)]
    books = [
        _lloyd(resid[:, s * dsub : (s + 1) * dsub], ksub, n_iter) for s in range(m)
    ]
    return (
        [[float(v) for v in c] for c in coarse],
        [[[float(v) for v in c] for c in b] for b in books],
    )


def _ivfpq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    coarse_l: list[list[float]],
    books_l: list[list[list[float]]],
) -> DataFrame:
    """Assign each vector to its nearest coarse cell and PQ-code the
    residual — one Arrow-batched map stage producing
    ``(id_col, cell, code0..code{m-1})``."""
    from typing import Iterator

    from pyspark.sql.types import IntegerType, StructField, StructType

    m = len(books_l)
    dsub = len(books_l[0][0])
    id_field = corpus.select(id_col).schema.fields[0]
    schema = StructType(
        [id_field, StructField("cell", IntegerType(), False)]
        + [StructField(f"code{s}", IntegerType(), False) for s in range(m)]
    )

    def encode(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        cc = np.asarray(coarse_l)
        bb = [np.asarray(b) for b in books_l]
        for b in batches:
            if not len(b):
                continue
            xv = np.vstack(b[vec_col].to_numpy()).astype("float64")
            cells = ((xv[:, None, :] - cc[None]) ** 2).sum(axis=2).argmin(axis=1)
            rv = xv - cc[cells]
            data = {id_col: b[id_col].to_numpy(), "cell": cells.astype("int32")}
            for s in range(m):
                sub = rv[:, s * dsub : (s + 1) * dsub]
                d2 = ((sub[:, None, :] - bb[s][None]) ** 2).sum(axis=2)
                data[f"code{s}"] = d2.argmin(axis=1).astype("int32")
            yield pd.DataFrame(data)

    return corpus.select(id_col, vec_col).mapInPandas(encode, schema)


def _ivfpq_rank(
    spark: SparkSession,
    codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    coarse_l: list[list[float]],
    books_l: list[list[list[float]]],
    nprobe: int,
    collect_queries: bool | str = "auto",
    code_id_col: str | None = None,
) -> DataFrame:
    """IVFADC scoring core shared by :func:`ann_topk_ivfpq`
    (in-memory codes) and ``ivfpq_index_probe`` (persisted codes):
    each query probes its ``nprobe`` L2-nearest coarse cells,
    candidates are met by an EQUI-JOIN on the cell id (only probed
    cells scan), and ADC lookup tables are per-(query, probed cell)
    because the residual shifts with the cell. Returns the
    UNFILTERED ranking (query_id, neighbor_id, approx_dist2, rnk)."""
    import numpy as np

    code_id_col = code_id_col or id_col
    m = len(books_l)
    dsub = len(books_l[0][0])
    coarse = np.asarray(coarse_l)
    collect_queries = _resolve_collect(queries, collect_queries)

    if collect_queries:
        qrows = queries.select(id_col, vec_col).collect()
        probes = []  # (probe_idx, query_id, cell) with per-probe LUTs
        luts: list[list[list[float]]] = [[] for _ in range(m)]
        for r in qrows:
            qv = np.asarray([float(v) for v in r[vec_col]])
            order = np.argsort(((coarse - qv) ** 2).sum(axis=1))[:nprobe]
            for cell in order:
                qres = qv - coarse[cell]
                for s in range(m):
                    qs = qres[s * dsub : (s + 1) * dsub]
                    luts[s].append(
                        [float(v) for v in ((np.asarray(books_l[s]) - qs) ** 2).sum(axis=1)]
                    )
                probes.append((len(probes), r[id_col], int(cell)))

        probe_df = _small_df(
            spark,
            f"pidx int, query_id {_id_type(queries, id_col)}, cell int",
            probes,
        )
        # the probed cell set is KNOWN here (queries were collected),
        # so prune the codes side statically — on a cell-PARTITIONED
        # codes relation (ivfpq_index) this lands in the scan's
        # PartitionFilters at planning time, strictly stronger than
        # waiting for runtime DPP (which skips a filterless
        # LocalRelation build side)
        codes = codes.where(
            F.col("cell").isin(sorted({p[2] for p in probes}))
        )
        dist = None
        for s in range(m):
            nested = double_array2d(luts[s])
            term = F.element_at(
                F.element_at(nested, (F.col("pidx") + 1).cast("int")),
                (F.col(f"code{s}") + 1).cast("int"),
            )
            dist = term if dist is None else dist + term
        lut_side = F.broadcast(probe_df)
    else:
        # distributed probe assignment + LUT build: nearest-nprobe
        # cells (lits.nearest_rank_sql), the per-probe residual via
        # the coarse-centroid literal, and the m ksub-length tables as
        # expressions in the query scan
        cd = F.expr(nearest_rank_sql(ident(vec_col), coarse_l))
        probes_rel = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.explode(F.slice(cd, 1, nprobe)).alias("p"),
        ).select("query_id", "__qv", F.col("p.cell").alias("cell"))
        resid_sql = (
            f"zip_with(`__qv`,element_at({double_array2d_sql(coarse_l)},"
            "`cell` + 1),(a,b)->CAST(a AS DOUBLE)-b)"
        )
        lut_rel = probes_rel.select(
            "query_id", "cell", *_lut_columns(resid_sql, books_l)
        )
        dist = None
        for s in range(m):
            term = F.element_at(
                F.col(f"lut{s}"), (F.col(f"code{s}") + 1).cast("int")
            )
            dist = term if dist is None else dist + term
        lut_side = lut_rel

    scored = (
        codes.join(lut_side, "cell")  # ONLY probed cells scan on
        .where(F.col(code_id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(code_id_col).alias("neighbor_id"),
            F.round(dist, 6).alias("approx_dist2"),
        )
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy(F.col("approx_dist2").asc(), F.col("neighbor_id").asc())
    )
    return scored.withColumn("rnk", F.row_number().over(w))


def ann_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 3,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 4,
    rerank: int = 0,
    sample_size: int = 65536,
    collect_queries: bool | str = "auto",
) -> DataFrame:
    """Full IVFADC (Jégou TPAMI'11 §IV): the coarse quantizer prunes
    WHICH vectors are scanned, PQ compresses WHAT is read per vector.

    ``collect_queries=False``: probe assignment, residuals, and ADC
    lookup tables are all computed as Catalyst expressions over the
    query relation (coarse centroids + codebooks are the only
    literals) and scoring is an equi-join on the cell id — the query
    set is never collected, so it can exceed driver memory; results
    are identical to the collect path (tested).

    * Coarse centroids + per-subspace codebooks train on one bounded
      deterministic sample (single collect; numpy Lloyd on the
      driver — the FAISS shape).
    * The corpus is assigned to its nearest coarse cell and PQ-coded
      on the RESIDUAL (x − centroid[cell]) — one Arrow-batched map
      stage; the persisted relation is (id, cell, 8 codes).
    * Each query probes its ``nprobe`` nearest cells; candidates are
      met by an EQUI-JOIN on the cell id against the broadcast probe
      list — only nprobe/n_cells of the codes relation is scanned,
      and the scan reads 8 bytes/vector.  ADC lookup tables are
      per-(query, probed-cell) because the residual shifts with the
      cell; they ship as one nested literal array indexed by the
      probe row.
    * Optional exact-cosine re-rank of the shortlist, as in
      :func:`ann_topk_pq`.

    Recall vs the exact baseline is pinned in tests (worst-case
    isotropic data, same harness as LSH/IVF/PQ).
    """
    if dim % m:
        raise ValueError("dim must be divisible by m")
    coarse_l, books_l = _ivfpq_train(
        corpus, id_col, vec_col, dim, n_cells=n_cells, m=m, ksub=ksub,
        n_iter=n_iter, sample_size=sample_size,
    )
    codes = _ivfpq_encode(corpus, id_col, vec_col, coarse_l, books_l)
    spark = corpus.sparkSession
    ranked = _ivfpq_rank(
        spark, codes, queries, id_col, vec_col, coarse_l, books_l,
        nprobe=nprobe, collect_queries=collect_queries,
        code_id_col=id_col,
    )
    if not rerank:
        return ranked.where(F.col("rnk") <= k)
    collect_queries = _resolve_collect(queries, collect_queries)

    from nass_summary_spark.functions.vectors import cosine_similarity

    shortlist = ranked.where(F.col("rnk") <= rerank).select("query_id", "neighbor_id")
    if collect_queries:
        qrows = queries.select(id_col, vec_col).collect()
        qvecs = _small_df(
            spark,
            f"query_id {_id_type(queries, id_col)}, __qv array<double>",
            [(r[id_col], [float(v) for v in r[vec_col]]) for r in qrows],
        )
        shortlist = F.broadcast(shortlist)
        qvecs = F.broadcast(qvecs)
    else:
        qvecs = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        )
    refined = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
        .join(shortlist, "neighbor_id")
        .join(qvecs, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("__qv", "__cv"), 6).alias("cosine"),
        )
    )
    w2 = (
        Window.partitionBy("query_id")
        .orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    )
    return refined.withColumn("rnk", F.row_number().over(w2)).where(F.col("rnk") <= k)
