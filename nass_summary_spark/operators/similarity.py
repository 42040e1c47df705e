"""Similarity search over embedding columns (SURVEY.md §2 B5–B7).

- ``knn_bruteforce``: exact top-k. The query set is broadcast (it is
  the small side by construction); the corpus streams through a
  map-only stage scoring against every query, then ONE shuffle for
  the per-query top-k window. Corpus never self-shuffles.
- ``knn_lsh``: random-hyperplane LSH — corpus and queries are
  bucketed by sign patterns; only same-bucket pairs are scored. The
  scale path when the corpus is too large for full cross-scoring.
- ``cosine_dedup_pairs``: pairwise near-duplicate detection by
  cosine ≥ τ, LSH-bucketed the same way.

Vector math uses ``zip_with``/``aggregate`` (JVM) — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from nass_summary_spark.functions.lits import (
    bigint_sql,
    dot_lit_sql,
    ident,
    nearest_rank_sql,
)
from nass_summary_spark.functions.vectors import cosine_similarity


def _lcg(seed: int):
    state = seed
    while True:
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        yield state


def random_hyperplanes(dim: int, n_planes: int, seed: int = 1234567) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (sign-only
    LSH needs no normalization). Box-Muller-free: centered uniform
    from a fixed LCG, reproducible everywhere."""
    gen = _lcg(seed)
    return [
        [((next(gen) >> 11) / float(1 << 52)) - 0.5 for _ in range(dim)]
        for _ in range(n_planes)
    ]


def _sign_bucket(vec_sql: str, planes: list[list[float]]):
    """Bit-pack the sign of <v, p_i> into a bigint bucket id.

    Takes the vector column as SQL TEXT and renders the whole
    n_planes-dot-product expression into ONE ``F.expr`` parse: the
    Column-API form cost 2 higher-order-function builds per plane
    (~10ms of py4j each), i.e. planes x tables x 2 sides round-trips
    per query construction — the dominant cost of knn_lsh's build
    (r10 profile). The parsed tree computes the identical fold
    (dot_lit_sql), so bucket values are unchanged."""
    terms = " + ".join(
        f"(CASE WHEN {dot_lit_sql(vec_sql, plane)} >= 0 "
        f"THEN {bigint_sql(1 << i)} ELSE 0L END)"
        for i, plane in enumerate(planes)
    )
    return F.expr(f"CAST(0 AS BIGINT) + {terms}")


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str | None = None,
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows for each query row.

    Self-matches (same id) are excluded when both frames share the id
    column name. Ties at equal similarity break by corpus id ascending
    so results are deterministic.
    """
    qid = query_id_col or id_col
    q = broadcast(
        queries.select(F.col(qid).alias("query_id"), F.col(vec_col).alias("__qvec"))
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
    scored = (
        c.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine", F.round(cosine_similarity("__qvec", "__cvec"), round_to)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    query_id_col: str | None = None,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: score only (query, corpus) pairs that share
    an LSH bucket in at least one of ``n_tables`` hash tables.

    Recall grows with n_tables; cost is bounded by bucket collision
    counts instead of |corpus|×|queries|.
    """
    qid = query_id_col or id_col
    tables = [
        random_hyperplanes(dim, n_planes, seed=1234567 + 97 * t) for t in range(n_tables)
    ]

    def bucketize(df: DataFrame, idc: str, out_id: str) -> DataFrame:
        buckets = F.array(
            *[
                F.struct(F.lit(t).alias("table"), _sign_bucket(ident(vec_col), planes).alias("bucket"))
                for t, planes in enumerate(tables)
            ]
        )
        return df.select(
            F.col(idc).alias(out_id), F.col(vec_col).alias(f"__{out_id}_vec"),
            F.explode(buckets).alias("tb"),
        ).select(out_id, f"__{out_id}_vec", "tb.table", "tb.bucket")

    cb = bucketize(corpus, id_col, "neighbor_id")
    qb = broadcast(bucketize(queries, qid, "query_id"))
    cand = (
        cb.join(qb, on=["table", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__query_id_vec", "__neighbor_id_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn(
        "cosine",
        F.round(cosine_similarity("__query_id_vec", "__neighbor_id_vec"), round_to),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int = 6,
    exact: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """Embedding near-duplicate pairs with cosine ≥ threshold.

    exact=True compares all id_a < id_b pairs (the oracle-checkable
    baseline); exact=False restricts to LSH-bucket collisions — at
    corpus scale the bucketed variant is the only viable plan, and a
    high threshold keeps its recall near 1 (near-identical vectors
    rarely straddle a hyperplane).
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if exact:
        a = base.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
        b = base.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        assert dim is not None, "dim required for LSH bucketing"
        planes = random_hyperplanes(dim, n_planes, seed=7654321)
        bucketed = base.withColumn("bucket", _sign_bucket("`vec`", planes))
        a = bucketed.select("bucket", F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
        b = bucketed.select("bucket", F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
        pairs = a.join(b, on="bucket").where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cosine", F.round(cosine_similarity("vec_a", "vec_b"), round_to))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    query_id_col: str | None = None,
    k: int = 5,
    nprobe: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """IVF-style ANN: assign corpus vectors to their nearest coarse
    centroid (the inverted file's cell), probe each query's
    ``nprobe`` closest cells, score only within probed cells.

    ``centroids`` is a small driver-side list (e.g. per-label means
    from a centroid aggregation, or a trained coarse quantizer) —
    broadcast as literal expressions; the corpus partitioning by cell
    bounds scored pairs by cell occupancy instead of |corpus|.
    """
    qid = query_id_col or id_col

    def best_cells(df: DataFrame, idc: str, out_id: str, n_cells: int) -> DataFrame:
        # the (neg-score, cell) struct array over all centroid
        # literals in ONE parse — the per-centroid HOF build cost
        # 2 py4j lambda creations per cell (see lits.dot_lit_sql)
        scored = F.expr(
            "array("
            + ",".join(
                f"named_struct('neg',-({dot_lit_sql(ident(vec_col), c)}),"
                f"'cell',CAST({i} AS INT))"
                for i, c in enumerate(centroids)
            )
            + ")"
        )
        top = F.slice(F.array_sort(scored), 1, n_cells)
        return df.select(
            F.col(idc).alias(out_id),
            F.col(vec_col).alias(f"__{out_id}_vec"),
            F.explode(F.transform(top, lambda s: s["cell"])).alias("cell"),
        )

    c_cells = best_cells(corpus, id_col, "neighbor_id", 1)
    q_cells = broadcast(best_cells(queries, qid, "query_id", nprobe))
    cand = (
        c_cells.join(q_cells, on="cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn(
        "cosine",
        F.round(cosine_similarity("__query_id_vec", "__neighbor_id_vec"), round_to),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def assign_cells(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Nearest-centroid assignment: adds ``cell`` (int) and ``dist2``
    (double) columns. Centroids are one literal SQL expression —
    broadcast with the plan itself, so assignment is a pure map
    stage (and the plan builds in milliseconds at any k·dim). Ties
    go to the lower cell (lits.nearest_rank_sql)."""
    best = F.expr(
        f"element_at({nearest_rank_sql(ident(vec_col), centroids)}, 1)"
    )
    return (
        df.withColumn("__best", best)
        .withColumn("cell", F.col("__best.cell"))
        .withColumn("dist2", F.col("__best.d"))
        .drop("__best")
    )


def kmeans_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 5,
) -> tuple[list[list[float]], list[float]]:
    """Distributed Lloyd's k-means over an embedding column — trains
    the IVF coarse quantizer (:func:`knn_ivf`) from data instead of
    relying on provided labels.

    Per iteration: ONE map stage (nearest-centroid assignment against
    literal centroids) + ONE shuffle (posexplode → per-(cell, pos)
    partial-aggregated mean). Only the k×dim model parameters are
    collected to the driver each round — never data rows — so the
    pattern holds at any corpus size. Iteration count is fixed and
    small (Lloyd converges fast for coarse quantizers; IVF needs
    rough cells, not optimal ones).

    Init is deterministic: the k rows with the smallest
    ``xxhash64(id)`` (hash order ≈ uniform sample, stable across
    runs/partitionings).

    Returns (centroids, per-iteration inertia). Empty cells keep
    their previous centroid.
    """
    seeds = (
        df.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(k)
        .collect()
    )
    centroids = [[float(x) for x in r["v"]] for r in seeds]
    dim = len(centroids[0])
    history: list[float] = []
    # pin the training relation: each Lloyd round re-reads it, and
    # without the persist an upstream sample/sort-limit chain (the
    # IVF build trains on a deterministic sample of the corpus) would
    # re-scan its SOURCE once per iteration
    base = df.select(F.col(vec_col).alias("__v")).persist()
    try:
        for _ in range(n_iter):
            assigned = assign_cells(base, "__v", centroids)
            stats = (
                assigned.select("cell", "dist2", F.posexplode("__v").alias("pos", "x"))
                .groupBy("cell", "pos")
                .agg(
                    F.avg(F.col("x").cast("double")).alias("c"),
                    F.sum("dist2").alias("s"),
                )
                .collect()
            )
            new = {(r["cell"], r["pos"]): r["c"] for r in stats}
            # each row's dist2 is replicated dim times by the explode
            history.append(sum(r["s"] for r in stats if r["pos"] == 0))
            centroids = [
                [new.get((i, p), centroids[i][p]) for p in range(dim)]
                for i in range(k)
            ]
    finally:
        base.unpersist()
    return centroids, history


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.3,
    probes: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup-style cluster-bounded cosine pairs.

    Every vector is assigned to its ``probes`` nearest coarse cells
    (multi-probe, the index-side analogue of IVF's nprobe: boundary
    vectors land in both adjacent cells, which is what recovers the
    pairs single-assignment loses across a cell edge). Pairs are
    scored ONLY within a shared cell, so candidate volume is
    sum-of-cell-sizes² instead of corpus² — the published recipe for
    embedding-level dedup at scale. Returns a SUBSET of the exact
    pairs (never invents one); recall is measured in tests.
    """
    scored = F.expr(nearest_rank_sql(ident(vec_col), centroids))
    assigned = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.explode(F.slice(scored, 1, probes)["cell"]).alias("cell"),
    )
    a = assigned.select("cell", F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    b = assigned.select("cell", F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity("vec_a", "vec_b"), round_to).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def maxsim_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_group: str,
    query_group: str,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Late-interaction (ColBERT-style) MaxSim retrieval: documents
    and queries are BAGS of token vectors; the score of document D
    for query Q is Σ_{q∈Q} max_{d∈D} cos(q, d) — each query token
    finds its best match in the document, so a long document isn't
    rewarded for bulk the way pooled-vector cosine (B6) is. The
    public multi-vector retrieval model (Khattab & Zaharia,
    SIGIR'20).

    Scale shape: the query token bag is the small side by
    construction and BROADCASTS; the corpus streams through one
    map-only scoring stage (every corpus vector × every query
    token), then TWO map-side-combinable aggregations (max per
    (query, token, doc), sum per (query, doc)) and one per-query
    top-k window over #docs rows. The corpus never self-joins.

    Determinism: cosines are quantized to integer micro-units
    (``floor(cos·1e6 + 0.5)``) BEFORE the max/sum, so document
    scores are exact integer sums — engine- and order-independent;
    ranking breaks ties by document group ascending.
    """
    q = broadcast(
        queries.select(
            F.col(query_group).alias("query_id"),
            F.col(id_col).alias("__qtok"),
            F.col(vec_col).alias("__qvec"),
        )
    )
    c = corpus.select(
        F.col(corpus_group).alias("doc_group"), F.col(vec_col).alias("__cvec")
    )
    cos_q = F.floor(
        cosine_similarity("__qvec", "__cvec") * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    best = (
        c.crossJoin(q)
        .select("query_id", "__qtok", "doc_group", cos_q.alias("__cq"))
        .groupBy("query_id", "__qtok", "doc_group")
        .agg(F.max("__cq").alias("__m"))
    )
    scores = best.groupBy("query_id", "doc_group").agg(
        F.count(F.lit(1)).alias("n_qtokens"),
        F.sum("__m").alias("__s"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__s").desc(), F.col("doc_group").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_group",
            "n_qtokens",
            F.round(F.col("__s").cast("double") / F.lit(1e6), 6).alias("maxsim"),
            "rank",
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each
    anchor, the ``k`` most-similar corpus vectors carrying a
    DIFFERENT label — the negatives that actually teach (a random
    negative is trivially separable and contributes ~zero gradient;
    the near-boundary ones define it). Anchors broadcast like
    :func:`knn_bruteforce`; the label inequality rides the same
    crossJoin filter, so the plan is the exact top-k scan with one
    extra predicate — and the per-anchor window partitions by
    anchor, never globally. At scale the corpus side swaps to the
    IVF/LSH-bucketed variants unchanged (label filter is still a
    post-candidate predicate). Ties break by corpus id.

    Output: ``anchor_id, anchor_label, neighbor_id, neighbor_label,
    cosine, rank``.
    """
    q = broadcast(
        queries.select(
            F.col(id_col).alias("anchor_id"),
            F.col(label_col).alias("anchor_label"),
            F.col(vec_col).alias("__qvec"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("__cvec"),
    )
    scored = (
        c.crossJoin(q)
        .where(F.col("neighbor_label") != F.col("anchor_label"))
        .withColumn(
            "cosine",
            F.round(cosine_similarity("__qvec", "__cvec"), round_to),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "anchor_id",
            "anchor_label",
            "neighbor_id",
            "neighbor_label",
            "cosine",
            "rank",
        )
    )
