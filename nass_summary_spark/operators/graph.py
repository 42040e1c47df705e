"""Link-graph analytics: PageRank by synchronous power iteration.

Web-scale curation pipelines use link-graph centrality as a document
quality prior (the Common Crawl lineage: harmonic centrality /
PageRank over the host graph decides crawl priority and feeds
quality filtering).  This is the distributed operator for it,
expressed as pure relational algebra per round:

    rank_{k+1}(v) = (1−d)/N + d · Σ_{(u,v)∈E} rank_k(u) / odeg(u)

Per iteration: ONE equi-join (edges ⋈ ranks on src — the edge
relation is pre-joined with out-degrees once) + ONE partial-
aggregated sum shuffle on dst.  The rank vector is node-sized, never
edge-sized; at 100 TB of edges the joins shuffle (node, double)
pairs.  Iteration count is fixed and small (power iteration
converges geometrically at rate d).

Lineage control: like :func:`dedup.connected_components`, each round
references the previous round's frame, so eager ``localCheckpoint``
truncates the logical plan per round — analysis stays O(1) per
iteration and a default-heap driver survives (the hostile-session
lesson recorded in SURVEY.md §5).

Determinism: every quantity is IEEE double arithmetic identical on
any engine; only the summation order differs between engines, which
after ``n_iter`` rounds leaves ~1e-12 relative noise — the demo
query rounds to 9 dp, far above that floor.  The DuckDB oracle
replays the same fixed number of iterations as chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nass_summary_spark.functions.fixpoint import semi_naive, until_stable


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    broadcast_ranks: bool = True,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Synchronous PageRank over a directed edge list (assumed
    deduplicated).  Dangling nodes (out-degree 0) keep only the
    teleport share — the simple "leaky" variant, replayed identically
    by the oracle.  Returns (id, rank) for every node that appears as
    a source or destination.

    ``broadcast_ranks`` (default): each iteration broadcasts the
    node-sized rank vector into a map-side hash join against the
    checkpointed edge relation — the edges NEVER shuffle; the only
    exchange per round is the partially-aggregated contribution sum.
    For graphs whose node set itself exceeds broadcast size (full
    web graphs), set False to fall back to a shuffle join on src —
    then pre-partitioning ``edges`` by src lets every round reuse
    the same exchange.

    ``checkpoint_every``: unlike connected_components (whose rounds
    reference the previous frame TWICE, doubling the plan), each
    PageRank round references the previous ranks exactly once — the
    lineage grows LINEARLY, so short runs need no materialization at
    all and the whole power iteration compiles into one Catalyst job
    (measured 2.4× faster than per-round localCheckpoint at 6
    rounds).  Long chains still amortize a truncation every
    ``checkpoint_every`` rounds to keep analysis cost flat; 0
    disables it entirely.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    if not broadcast_ranks:
        # fallback mode: every round's ranks update is a shuffle join
        # on id — pre-partition nodes by id ONCE so each round's join
        # reuses this exchange instead of re-shuffling the node set
        nodes = nodes.repartition("id")
    nodes = nodes.localCheckpoint()
    n = nodes.count()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("odeg"))
    # pre-join degrees once: the per-iteration join then touches only
    # (src, dst, odeg) — no repeated degree aggregation
    ew = e.join(deg, "src").localCheckpoint()

    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for i in range(n_iter):
        r = ranks.withColumnRenamed("id", "src")
        if broadcast_ranks:
            r = F.broadcast(r)
        contrib = (
            ew.join(r, "src")
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("odeg")).alias("m"))
            .groupBy("id")
            .agg(F.sum("m").alias("m"))
        )
        # contrib is node-sized: broadcast it only in broadcast mode —
        # the documented beyond-broadcast fallback must use a plain
        # shuffle join here or it would OOM on the very graphs it
        # targets (nodes is pre-partitioned by id for exchange reuse)
        if broadcast_ranks:
            contrib = F.broadcast(contrib)
        ranks = nodes.join(contrib, "id", "left").select(
            "id",
            (F.lit(base) + F.lit(damping) * F.coalesce(F.col("m"), F.lit(0.0))).alias(
                "rank"
            ),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
    return ranks


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over
    an undirected graph given as an edge list (self-loops dropped,
    duplicates collapsed).  Returns (id, degree, n_tri,
    clustering_coeff) for every node.

    Scale shape — DEGREE-ORDERED ORIENTATION (the MapReduce triangle
    scheme of Suri & Vassilvitskii, WWW'11): every edge is oriented
    from its lower-(degree, id) endpoint to the higher one, and
    wedges are enumerated only at each node's OUT-edges.  A node's
    wedge count is then out-degree², and out-degrees are bounded by
    O(√m) on any graph — a web-scale hub with degree 10⁷ generates
    no wedges at all (every incident edge points INTO it), where the
    naive id-ordered join would build 10¹⁴ pairs on one reducer.
    Each triangle has exactly one all-out vertex under a total
    order, so it is counted exactly once, then credited to all three
    corners.  Joins are hash equi-joins on node ids; the closing-
    edge membership join uses the id-canonical edge set.
    """
    e = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .where(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("cu"), F.greatest("x", "y").alias("cv")
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("cu").alias("id"))
        .unionByName(e.select(F.col("cv").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # orient each edge by the (degree, id) total order
    du = deg.select(F.col("id").alias("cu"), F.col("degree").alias("du"))
    dv = deg.select(F.col("id").alias("cv"), F.col("degree").alias("dv"))
    ranked = e.join(du, "cu").join(dv, "cv")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("cu") < F.col("cv"))
    )
    o = ranked.select(
        F.when(u_first, F.col("cu")).otherwise(F.col("cv")).alias("lo"),
        F.when(u_first, F.col("cv")).otherwise(F.col("cu")).alias("hi"),
    )
    # wedges at the low end; the pair (hi1 < hi2 by id) closes a
    # triangle iff it is an edge — membership via the canonical set
    w = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.lo") == F.col("e2.lo"))
        .where(F.col("e1.hi") < F.col("e2.hi"))
        .select(
            F.col("e1.lo").alias("a"),
            F.col("e1.hi").alias("b"),
            F.col("e2.hi").alias("c"),
        )
    )
    tri = w.join(
        e, (F.col("b") == F.col("cu")) & (F.col("c") == F.col("cv"))
    ).select("a", "b", "c")
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return deg.join(per_node, "id", "left").select(
        "id",
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_tri"),
        F.round(
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.coalesce(F.col("n_tri"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - F.lit(1.0))),
            ).otherwise(F.lit(0.0)),
            8,
        ).alias("clustering_coeff"),
    )


def pagerank_oracle_sql(
    edges_sql: str,
    damping: float = 0.85,
    n_iter: int = 10,
    round_dp: int = 9,
) -> str:
    """Build the chained-CTE DuckDB oracle replaying :func:`pagerank`
    iteration-for-iteration over ``edges_sql`` (a query producing
    (src, dst))."""
    ctes = [
        f"edges AS ({edges_sql})",
        "nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS odeg FROM edges GROUP BY src)",
        "r0 AS (SELECT id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)",
    ]
    for k in range(1, n_iter + 1):
        ctes.append(
            f"""r{k} AS (
      SELECT nodes.id,
             (1.0 - {damping}) / nn.n
               + {damping} * COALESCE(s.m, 0.0) AS rank
      FROM nodes CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS id, SUM(r.rank / d.odeg) AS m
        FROM edges e
        JOIN r{k - 1} r ON r.id = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
      ) s ON s.id = nodes.id
    )"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, ROUND(rank, {round_dp}) AS rank FROM r{n_iter}"
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    node_col: str = "node",
    max_hops: int = 4,
    broadcast_frontier: bool = True,
) -> DataFrame:
    """Level-synchronous multi-source BFS: minimum hop distance from
    any seed, out to ``max_hops`` — the blast-radius primitive
    (contamination spread over a near-dup graph, link distance from
    known-bad domains, entity-resolution cluster diameter probes).

    Per round ONE equi-join of the fixed-width frontier against the
    (persisted) edge relation + ONE anti-join against the settled
    set, run by :func:`~nass_summary_spark.functions.fixpoint.semi_naive`
    (one job per round; the settled set is the lazy union of the
    per-level checkpoints). The frontier is (node, hops) rows only —
    never paths, so no path-count explosion; work per round is
    bounded by the frontier × average degree. Early-exits when a
    frontier empties.

    ``broadcast_frontier=True`` (default, the same shape as
    PageRank's broadcast rank vector): frontier and settled sets are
    NODE-sized, so broadcasting them means the EDGES NEVER SHUFFLE —
    the checkpointed frontier's unknown stats otherwise push the
    planner to sort-merge joins that re-exchange the edge relation
    every round (measured 65 → 9 MB total at sf0.1, 4 rounds).
    Set False for graphs whose reachable node set itself exceeds
    broadcast size; the rounds then run as shuffle joins on src.

    ``edges`` must have (src, dst) columns (direct the graph before
    calling; union both directions for undirected semantics).
    Returns (node, hops) with hops = the level each node was FIRST
    reached at (0 for seeds) — min-distance by construction.
    """
    from pyspark import StorageLevel

    # NOT spread_narrow_scan here (r10 A/B): the broadcast-frontier
    # rounds over the cached relation are cheap per-row, so widening
    # a narrow cache only added per-round task/scheduling overhead
    # (+0.7-1s at sf0.1); at corpus scale the scan is already wide.
    e = edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    bc = F.broadcast if broadcast_frontier else (lambda d: d)

    def hop(frontier: DataFrame, dist: DataFrame, h: int) -> DataFrame:
        return (
            bc(frontier).join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(bc(dist), "node", "left_anti")
            .withColumn("hops", F.lit(h))
        )

    seed = (
        seeds.select(F.col(node_col).cast("bigint").alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
    )
    # the result reads only the per-level checkpoints, never the
    # cached edges; release them in a finally (an exception mid-round
    # would otherwise leak one cached edge copy per failed call)
    try:
        return semi_naive(seed, hop, max_rounds=max_hops)
    finally:
        e.unpersist()


def label_propagation(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    n_iter: int = 4,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (the
    deterministic variant of Raghavan et al. 2007): every node starts
    as its own label; each round every node adopts the most frequent
    label among its neighbours, ties broken by the SMALLEST label.
    A FIXED iteration count plus the min-label tie-break makes the
    result exactly reproducible on any engine and any partitioning —
    no RNG, no visit order — so the DuckDB oracle replays the same
    rounds as chained CTEs (:func:`label_propagation_oracle_ctes`).

    Scale shape per round: ONE equi-join of the edge list against
    the node-sized label vector (the edge relation is hash-
    partitioned by the join key ONCE before its checkpoint, so
    rounds exchange only the label side) + ONE (node, label) count
    shuffle + ONE ``max_by`` argmax aggregation (hash aggregate, no
    per-node sort; the (cnt, −label) struct order reproduces the
    most-frequent/min-label tie-break exactly). Labels are
    node-sized, never edge-sized. Rounds reference the previous
    frame ONCE, so lineage grows linearly and truncation is
    DEFERRED — the whole fixed-round loop compiles into one Catalyst
    job (the pagerank regime; eager per-round checkpoints are for
    doubled-reference rounds like connected_components/k-core, see
    module docstring).

    Completes the graph family: B56 centrality (pagerank), B63
    closure (triangles), B85 reach (bfs), B13 components (CC) —
    this adds cohesion (communities, a finer partition than CC).
    Output: (id, community) for every node with at least one edge.
    """
    width = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e2 = (
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .where(F.col("s") != F.col("d"))
        .unionByName(
            pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d"))
            .where(F.col("s") != F.col("d"))
        )
        .distinct()
        .repartition(width, "d")
        .localCheckpoint()
    )
    labels = (
        e2.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(int(n_iter)):
        neigh = e2.join(
            labels.select(F.col("id").alias("d"), "label"), "d"
        ).select(F.col("s").alias("id"), "label")
        counted = neigh.groupBy("id", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        labels = counted.groupBy("id").agg(
            F.max_by(
                "label", F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
            ).alias("label")
        )
    return labels.select("id", F.col("label").alias("community"))


def label_propagation_oracle_ctes(
    pairs_cte: str = "pairs",
    id_a: str = "id_a",
    id_b: str = "id_b",
    n_iter: int = 4,
) -> str:
    """CTE suffix + final SELECT replaying
    :func:`label_propagation` round-for-round in DuckDB: callers
    prepend their own ``WITH <pair-generation CTEs>,`` and append
    this string.  ``pairs_cte`` must expose (``id_a``, ``id_b``)."""
    parts = [
        f"""lp_e2 AS (
      SELECT {id_a} AS s, {id_b} AS d FROM {pairs_cte} WHERE {id_a} <> {id_b}
      UNION
      SELECT {id_b} AS s, {id_a} AS d FROM {pairs_cte} WHERE {id_a} <> {id_b}
    )""",
        "lp_l0 AS (SELECT DISTINCT s AS id, s AS label FROM lp_e2)",
    ]
    for k in range(1, int(n_iter) + 1):
        parts.append(
            f"""lp_l{k} AS (
      SELECT id, label FROM (
        SELECT id, label,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM (
          SELECT e.s AS id, p.label AS label, COUNT(*) AS cnt
          FROM lp_e2 e JOIN lp_l{k - 1} p ON e.d = p.id
          GROUP BY e.s, p.label
        )
      ) WHERE rn = 1
    )"""
        )
    return (
        ",\n".join(parts)
        + f"\n    SELECT id, label AS community FROM lp_l{int(n_iter)}"
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hub_degree: int = 1000,
    top_k: int = 20,
    aa_scale: int = 1_000_000,
) -> DataFrame:
    """Common-neighbors + Adamic-Adar link prediction over an
    undirected graph: score NON-adjacent node pairs by their shared
    neighborhood — the classic "which entities are probably the same
    / probably connected" signal (Liben-Nowell & Kleinberg 2003)
    that feeds record-linkage candidate generation and knowledge-
    graph completion.

    Adamic-Adar down-weights promiscuous common neighbors:
    ``AA(u,v) = Σ_z 1/ln(deg z)`` over common neighbors z. The
    transcendental ``ln`` is quantized to fixed point
    (``floor(1/ln(deg)·scale + 0.5)`` as BIGINT, the PLANS.md r8
    device) so per-pair sums are exact integers and the score is
    engine-identical.

    Scale shape: wedges enumerate through the COMMON NEIGHBOR —
    cost Σ_z deg(z)², so one web-scale hub would dominate the whole
    job. ``max_hub_degree`` drops hub pivots BEFORE the self-join
    (standard at scale: a neighbor shared with everyone carries ~no
    evidence, and its AA weight → 0 anyway). Known edges leave via
    one anti-join; top-k orders by the exact integer score with a
    pair tie-break.
    """
    und = (
        edges.where(F.col(src) != F.col(dst))
        .select(
            F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v")
        )
        .distinct()
    )
    adj = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # a deg-1 node can never be a common neighbor, and ln(1) = 0
    # would trip the ANSI division — filter before weighting
    wdeg = deg.where(
        (F.col("deg") >= 2) & (F.col("deg") <= max_hub_degree)
    ).select(
        F.col("u").alias("z"),
        F.floor(
            F.lit(1.0) / F.log(F.col("deg").cast("double"))
            * F.lit(float(aa_scale))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("w"),
    )
    half = adj.select(F.col("v").alias("z"), F.col("u").alias("n"))
    wedges = (
        half.alias("a")
        .join(half.alias("b"), "z")
        .where(F.col("a.n") < F.col("b.n"))
        .join(F.broadcast(wdeg), "z")
        .select(
            F.col("a.n").alias("u"), F.col("b.n").alias("v"), F.col("w")
        )
    )
    cand = (
        wedges.groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum("w").cast("bigint").alias("__aa_fp"),
        )
        .join(und, ["u", "v"], "left_anti")
    )
    return (
        cand.select(
            "u",
            "v",
            "common_neighbors",
            "__aa_fp",
            (F.col("__aa_fp").cast("double") / F.lit(float(aa_scale))).alias(
                "adamic_adar"
            ),
        )
        .orderBy(
            F.col("__aa_fp").desc(), F.col("u").asc(), F.col("v").asc()
        )
        .limit(top_k)
        .drop("__aa_fp")
    )


def kcore_members(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    k: int = 3,
    n_rounds: int = 8,
) -> DataFrame:
    """Fixed-k CORE extraction by iterated peeling: repeatedly drop
    nodes whose degree in the surviving subgraph is < k until the
    subgraph is stable — the dense-subgraph filter of the graph
    family (B56 centrality / B63 closure / B13 components / B111
    cohesion): entity clusters that survive a 3-core are
    mutually-corroborated; tendrils and chains are not.

    Convergence: the peel runs under
    :func:`~nass_summary_spark.functions.fixpoint.until_stable` on the
    surviving-node count. A peel only ever removes nodes, so an
    unchanged count is an unchanged set — the fixpoint — and the loop
    stops there; it raises ``RuntimeError`` if ``n_rounds`` peels do
    not reach it. Rounds past the fixpoint are no-ops, so the SQL
    replay (:func:`kcore_oracle_ctes`), which applies all ``n_rounds``
    peels, gives the same core.

    Scale shape: per round ONE degree aggregation over the edges of
    surviving nodes (two semi-joins that ride the edge partitioning)
    with node-sized state, checkpointed every round: each round
    references the node frame twice, and each broadcast build of an
    un-truncated node frame would re-execute the whole peel chain
    below it (k un-checkpointed rounds replay ~2^k degree
    aggregations), while a per-round checkpoint is a node-sized job.

    Output: ``(id, core_degree)`` for members of the k-core, with
    their degree inside it.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    # EAGER localCheckpoint, not a lazy persist: round 1 references
    # the node set twice through broadcast semi-joins, and concurrent
    # broadcast-future jobs racing on a not-yet-materialized cache
    # each re-execute the whole upstream pair-generation pipeline
    # (profiled: two extra full MinHash runs before the cache
    # existed). One eager job materializes the edges once; it also
    # truncates the upstream lineage for every later round.
    e2 = (
        edges.where(F.col(src) != F.col(dst))
        .select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(
            edges.where(F.col(src) != F.col(dst)).select(
                F.col(dst).alias("s"), F.col(src).alias("d")
            )
        )
        .distinct()
        .localCheckpoint()
    )

    def peel(nodes: DataFrame) -> DataFrame:
        # the surviving-node set is node-sized — broadcast both
        # semi-join sides so each round is one map stage + one
        # combinable aggregation over the cached edges, not two
        # shuffle joins (halves the stage count per round)
        deg = (
            e2.join(F.broadcast(nodes.withColumnRenamed("id", "s")), "s")
            .join(F.broadcast(nodes.select(F.col("id").alias("d"))), "d")
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("__deg"))
        )
        return deg.where(F.col("__deg") >= k).select(F.col("s").alias("id"))

    nodes = until_stable(
        e2.select(F.col("s").alias("id")).distinct(),
        peel,
        F.count(F.lit(1)),
        int(n_rounds),
    )
    out = (
        e2.join(F.broadcast(nodes.withColumnRenamed("id", "s")), "s")
        .join(F.broadcast(nodes.select(F.col("id").alias("d"))), "d")
        .groupBy(F.col("s").alias("id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
    )
    return out.orderBy("id")


def kcore_oracle_ctes(
    pairs_cte: str = "pairs",
    id_a: str = "id_a",
    id_b: str = "id_b",
    k: int = 3,
    n_rounds: int = 8,
) -> str:
    """CTE suffix + final SELECT replaying :func:`kcore_members`
    round-for-round in DuckDB; callers prepend their pair-generation
    CTEs (the label_propagation_oracle_ctes calling convention).
    Rounds are MATERIALIZED — each is referenced twice per level
    (the 2^n-inlining fd-exhaustion lesson from the BPE chain)."""
    parts = [
        f"""kc_e2 AS MATERIALIZED (
      SELECT {id_a} AS s, {id_b} AS d FROM {pairs_cte}
        WHERE {id_a} <> {id_b}
      UNION
      SELECT {id_b} AS s, {id_a} AS d FROM {pairs_cte}
        WHERE {id_a} <> {id_b}
    )""",
        "kc_n0 AS (SELECT DISTINCT s AS id FROM kc_e2)",
    ]
    for r in range(1, int(n_rounds) + 1):
        parts.append(
            f"""kc_n{r} AS MATERIALIZED (
      SELECT e.s AS id FROM kc_e2 e
      JOIN kc_n{r - 1} a ON e.s = a.id
      JOIN kc_n{r - 1} b ON e.d = b.id
      GROUP BY e.s HAVING COUNT(*) >= {int(k)}
    )"""
        )
    n = int(n_rounds)
    return (
        ",\n".join(parts)
        + f"""
    SELECT e.s AS id, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM kc_e2 e
    JOIN kc_n{n} a ON e.s = a.id
    JOIN kc_n{n} b ON e.d = b.id
    GROUP BY e.s ORDER BY e.s"""
    )
