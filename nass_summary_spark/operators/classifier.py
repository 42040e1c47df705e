"""Linear text-classifier inference AND training at corpus scale
(B50 inference; B106 distributed logistic-regression fit).

Web-scale curation pipelines (CCNet-style) score every document with
a linear model over hashed n-gram features — fastText's
architecture: bucket each unigram/bigram into a fixed-width hashed
feature space, sum the bucket weights, squash. This operator runs
that INFERENCE step Spark-first:

- featurize with built-ins only: `ngrams_from_words` + `explode` +
  the portable md5 bucket hash (`token_hash64 % n_buckets`) — the
  explode stays map-side and the weight sum partial-aggregates
  before the one shuffle per scoring pass, so the plan is a linear
  scan whatever the corpus size;
- the model is a WEIGHT LOOKUP, not data: here weights come from a
  deterministic integer formula (replayable in the DuckDB oracle);
  swapping in trained weights means broadcasting a
  (bucket → weight) map or generating a `CASE`/array literal —
  either way model-sized, never a per-row UDF;
- FP discipline: per-gram weights are INTEGER numerators summed
  exactly as BIGINT (order-independent), converted to double once
  per document for the sigmoid, and the probability is rounded so
  cross-engine `exp()` ULP noise cannot flip a value hash (the
  same convention as the BM25/PMI scorers).

TRAINING (:func:`logreg_train`) closes the "bring your own model"
seam: full-batch gradient-descent logistic regression over the SAME
hashed unigram+bigram buckets the scorer uses, as pure DataFrame
arithmetic — per iteration ONE broadcast join of the (model-sized,
driver-literal) weight relation against the persisted feature
relation, one combinable per-doc aggregation, one combinable
per-bucket aggregation whose model-sized result is collected, and a
driver-side quantized weight update — the B104-EM / B56-PageRank
chained-iteration shape, so a fixed iteration count with
per-iteration quantization replays EXACTLY as a chained CTE in the
DuckDB oracle. Bit-reproducibility discipline (the EM template,
tightened): every SUM is exact — per-(doc,bucket) products in
BIGINT-ranged DECIMALs, accumulated as DECIMAL(38,0) — and doubles
appear only in per-row scalar ops (sigmoid, the update step) whose
results are immediately quantized back to integer numerators
(weights live as BIGINT numerators over ``TRAIN_SCALE`` = 1e12,
i.e. 12-dp fixed point). The bias is a pseudo-bucket ``-1`` carried
in the same weight relation (every doc gets an implicit cnt=1
feature for it), so one aggregation updates the whole model.

The reference has no ML surface; this extends §2's curation block
the way dedup/sampling/packing do.
"""

from __future__ import annotations

import decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nass_summary_spark.functions.lits import (
    bigint_array,
    bigint_array_sql,
    bigint_map_sql,
    double_sql,
)
from nass_summary_spark.functions.smalldf import local_struct_df
from nass_summary_spark.functions.text import ngrams_from_words, words
from nass_summary_spark.functions.vectors import token_hash64

#: hashed feature-space width (fastText default order of magnitude)
N_BUCKETS = 4096
#: prime modulus for the deterministic weight formula
_W_MOD = 1000003
#: Knuth multiplicative constant — spreads buckets over the modulus
_W_MULT = 2654435761
#: centering shift: weights ≈ uniform in [-0.5, 0.5) after /_W_MOD
_W_SHIFT = _W_MOD // 2
#: logit scale + bias of the shipped model
_SCALE = 16.0
_BIAS = 0.05


def feature_bucket(gram: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Hashed feature id: portable md5 bucket (non-negative)."""
    return F.pmod(token_hash64(gram, bits=48), F.lit(n_buckets))


def weight_numerator(bucket: Column) -> Column:
    """Deterministic integer weight numerator for a bucket; the real
    weight is ``numerator / _W_MOD`` ∈ [-0.5, 0.5)."""
    return (bucket * F.lit(_W_MULT)) % F.lit(_W_MOD) - F.lit(_W_SHIFT)


def score_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = N_BUCKETS,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-document quality probability + keep flag.

    Features = unigram and bigram OCCURRENCES (not distinct — token
    repetition is signal for quality models). One explode + one
    partially-aggregated shuffle keyed by doc id; weight sums stay
    exact BIGINTs until the final per-doc sigmoid.
    Output: id, n_feats, quality_prob (6 dp), keep.
    """
    ws = words("__t")
    grams = F.concat(ws, ngrams_from_words(ws, 2))
    exploded = _spread_docs(df, id_col, text_col).select(
        "id", F.explode(grams).alias("gram")
    )
    scored = (
        exploded.select(
            "id", weight_numerator(feature_bucket(F.col("gram"), n_buckets)).alias("wnum")
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("wnum").alias("snum"),
        )
    )
    logit = F.lit(_BIAS) + F.col("snum").cast("double") / F.lit(float(_W_MOD) * _SCALE)
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return scored.select(
        "id",
        "n_feats",
        prob.alias("quality_prob"),
        (prob >= F.lit(threshold)).alias("keep"),
    )


#: fixed-point scale of trained weight numerators: 12-dp weights,
#: the same per-iteration quantization grain as the EM's ROUND(12)
TRAIN_SCALE = 10**12
#: pseudo-bucket carrying the bias term inside the weight relation
BIAS_BUCKET = -1


def _spread_docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Round-robin the (id, text) projection over the session shuffle
    width when the scan arrives in fewer splits: the explode+hash
    featurization downstream runs at the INPUT's partition count, so
    a single-split scan (one small parquet file) serializes the whole
    gram sweep onto one task (the 1-task-scan-stage disease; guide
    §2.5 "input skew ... repartition immediately after the read").
    The exchange is record-sized and only fires when the scan is
    narrower than the session width — a corpus-scale scan already has
    more splits than the shuffle width, so no exchange is added
    there."""
    from nass_summary_spark.functions.layout import spread_narrow_scan

    return spread_narrow_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    )


def hashed_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """The hashed bag-of-grams relation ``(id, bucket, cnt)`` —
    unigram+bigram OCCURRENCE counts per md5 bucket, identical
    featurization to :func:`score_documents` (pinned by the frozen-
    weights test). Computed once and persisted by the trainer; the
    explode stays map-side and the count partial-aggregates before
    the one shuffle."""
    ws = words("__t")
    grams = F.concat(ws, ngrams_from_words(ws, 2))
    return (
        _spread_docs(df, id_col, text_col)
        .select("id", F.explode(grams).alias("gram"))
        .select("id", feature_bucket(F.col("gram"), n_buckets).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hashed_char_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """The hashed bag-of-CHAR-n-grams relation ``(id, bucket, cnt)``
    — the fastText-shaped featurization (subword character grams
    instead of word grams; Joulin et al. 2016), which is what a
    language-id model trains on: char trigrams carry orthography
    ("the", "el ", "que") where word grams carry topic. Same md5
    bucket device and plan shape as :func:`hashed_features`, so it
    drops into :func:`logreg_train` / :func:`score_documents_weighted`
    via their ``feats`` parameter unchanged."""
    from nass_summary_spark.functions.text import char_ngrams

    grams = char_ngrams(F.col("__t"), n)
    return (
        _spread_docs(df, id_col, text_col)
        .select("id", F.explode(grams).alias("gram"))
        .select("id", feature_bucket(F.col("gram"), n_buckets).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _iteration_cache_width(feats: DataFrame) -> int:
    """Partition count for the per-iteration feature cache — derived
    from the feature relation's optimizer-ESTIMATED size (guide §2:
    scale-adaptive partitioning, not a constant tuned for local mode
    or the cluster), clamped to [1, spark.sql.shuffle.partitions].

    Each fit round streams the cache exactly once (window + partial
    aggregation), so the round pays a fixed per-task scheduling term:
    at bench scale a conf-width cache spends more wall dispatching 32
    near-empty tasks than computing (~0.4s/round profiled for ~1.4 MB
    of cached rows), while at corpus scale the size estimate exceeds
    the cap and the width IS the conf value, unchanged. The estimate
    is Catalyst's sizeInBytes propagated from the scan — driver-only,
    no job. Partitioning affects layout only, never values: every
    per-doc quantity is recovered by an id-window over the cache's
    own clustering and all sums are exact decimals."""
    conf = feats.sparkSession.conf
    cap = int(conf.get("spark.sql.shuffle.partitions"))
    try:
        # sum the LEAF relation sizes, not the top-level estimate: the
        # feature relation routinely sits above a join (docs ⋈ labels),
        # and Catalyst's stats-less join estimate MULTIPLIES child
        # sizes, which would pin the width at the cap even for a tiny
        # corpus. Leaf bytes are the real input bound the featurization
        # is linear in.
        leaves = feats._jdf.queryExecution().optimizedPlan().collectLeaves()
        est = sum(
            int(leaves.apply(i).stats().sizeInBytes())
            for i in range(leaves.size())
        )
    except Exception:  # noqa: BLE001 — estimation is best-effort
        return cap
    # ~8 MB of input text per task (the hashed-gram expansion is a
    # small constant factor over the text bytes): per-round task state
    # stays bounded while scheduling overhead amortizes. A small
    # parallelism FLOOR keeps the per-round window pass parallel even
    # for tiny relations — measured at sf0.1: width 4 ≈ 0.25s/round
    # vs 0.5s at conf-width 32 (scheduling-bound) and 0.4s at width 1
    # (compute-serialized); the floor is cheap insurance at any scale.
    target = 8 * 1024 * 1024
    return max(min(cap, 4), min(cap, -(-est // target)))


def _wnum_update(
    wnum: int | None, gnum, lr: float, n_docs: int
) -> int | None:
    """Driver-side replay of the per-bucket weight update the fit
    loop previously ran as a Spark expression::

        CAST(ROUND(CAST(wnum AS DOUBLE)
                   - lr * (CAST(gnum AS DOUBLE) / n_docs), 0) AS BIGINT)

    bit-identical by construction (pinned in
    tests/test_classifier_driver_update.py over ties, negatives and
    >2^53 magnitudes): the IEEE double steps (divide, multiply,
    subtract; ``float(Decimal)`` = correctly-rounded DECIMAL→double,
    same as ``Decimal.toDouble``) are the same operations in the same
    order, and Spark's ROUND on a double is
    ``BigDecimal(Double.toString(x)).setScale(0, HALF_UP)`` —
    ``Decimal(repr(x))`` rounds identically because two round-trip
    decimal expansions of the same double can never straddle an n.5
    boundary (n.5 is itself a double below 2^52, so an expansion on
    the far side would re-parse to a different double; at or above
    2^52 every double is an integer and rounding is the identity).
    The final double→BIGINT cast truncates toward zero in both."""
    if wnum is None or gnum is None:
        return None
    x = float(wnum) - float(lr) * (float(gnum) / float(n_docs))
    q = decimal.Decimal(repr(x)).quantize(
        decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
    )
    return int(float(q))


def _dec_prod(cnt: Column, num: Column) -> Column:
    """Exact per-row product for the global accumulations:
    DECIMAL(10,0) × DECIMAL(24,0) stays ≤ 35 digits in BOTH engines
    (Spark p1+p2+1, DuckDB p1+p2 — both under the 38 cap), and the
    SUM widens to DECIMAL(38,0) in both, so gradient sums are exact
    and order-independent at any corpus size (a BIGINT accumulator
    would overflow near 1e18; doubles would be order-dependent)."""
    return cnt.cast("decimal(10,0)") * num.cast("decimal(24,0)")


def logreg_train(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = N_BUCKETS,
    n_iter: int = 5,
    lr: float = 0.5,
    feats: DataFrame | None = None,
) -> DataFrame:
    """Distributed full-batch logistic-regression fit over hashed
    n-gram features. Returns the trained model as ``(bucket,
    wnum)`` — BIGINT weight numerators over ``TRAIN_SCALE`` (12-dp
    fixed point), one row per OBSERVED bucket plus the
    ``BIAS_BUCKET`` (-1) row. Feed it to
    :func:`score_documents_weighted`.

    Scale shape: the feature relation is built ONCE — hash-clustered
    AND sorted by ``id``, then persisted (the cache preserves both) —
    so each of the ``n_iter`` iterations is ONE distributed job and
    ONE streaming pass: an ``element_at`` lookup into a dense
    weight-array literal (O(1) per row — no join, no broadcast, no
    map scan), the per-doc ``znum``/label recovered by an
    unbounded-frame WINDOW over the cache's own (id)-clustering (no
    exchange, no sort — the window replaces the former per-doc
    aggregation + self-join pair), a per-row sigmoid, and one
    combinable per-bucket SUM whose model-sized result is collected;
    the quantized update runs on the driver (:func:`_wnum_update`,
    bit-identical to the Spark expression it replaced) and re-enters
    the next round as a literal. ``n_docs`` and the observed-bucket
    set both ride on iteration 1's collect (the bias bucket's row
    count IS the labeled-doc count), so a fit is exactly ``n_iter``
    jobs. The plan is constant-size per round (no lineage growth,
    no checkpoints).

    Determinism: weights update as
    ``wnum' = ROUND(wnum − lr · gnum / n_docs)`` in numerator units,
    with per-doc residuals quantized to the same grain
    (``rnum = ROUND((p − y) · TRAIN_SCALE)``), so a fixed iteration
    count replays bit-for-bit as a chained CTE
    (:func:`logreg_train_oracle_sql`) — the fellegi_sunter_em
    contract. Training set = documents with ≥1 hashed feature
    (explode drops empty docs, matching the scorer).

    ``feats``: override the featurization with a precomputed
    ``(id, bucket, cnt)`` relation (e.g.
    :func:`hashed_char_features` for language id); the default is
    the word-gram :func:`hashed_features`. The oracle's ``feats_sql``
    must mirror whichever is used."""
    if feats is None:
        feats = hashed_features(df, id_col, text_col, n_buckets)
    # Every iteration recovers per-doc state (znum, label) with a
    # WINDOW partitioned by "id": hash-partition AND sort the
    # persisted relation by id ONCE — the in-memory cache preserves
    # both outputPartitioning and outputOrdering, so per-iteration
    # plans carry NO exchange and NO sort (guide §2.4 — n_iter
    # exchanges of the corpus-feature relation collapse to one). The
    # explicit partition count is SIZE-DERIVED (capped at the session
    # shuffle width — see _iteration_cache_width) and keeps the
    # cached layout stable under AQE.
    nparts = _iteration_cache_width(feats)
    # the raw featurization feeds BOTH union branches below — persist
    # it for the one materializing action so featurization (explode +
    # first aggregation) runs once, then release it: feats_aug holds
    # everything the iterations need
    feats = feats.persist()
    # bias as pseudo-bucket: every training doc carries cnt=1 for it,
    # so ONE join + ONE aggregation updates weights and bias together.
    # The bias rows ARE the distinct feature-doc ids, so no separate
    # ids-distinct labels join is needed to restrict the training set.
    # The label rides ON the bias row (one build-time join instead of
    # a per-iteration z⋈labels join): the per-doc aggregation recovers
    # it as MAX(y) over the group — exactly the value the old inner
    # label join attached, since every feature-doc id has one bias row
    lab = df.select(
        F.col(id_col).alias("id"), F.col(label_col).cast("int").alias("y")
    )
    feats_aug = (
        feats.withColumn("y", F.lit(None).cast("int"))
        .unionByName(
            feats.select("id")
            .distinct()
            .join(lab, "id")
            .select(
                "id",
                F.lit(BIAS_BUCKET).cast("bigint").alias("bucket"),
                F.lit(1).cast("bigint").alias("cnt"),
                "y",
            )
        )
        .repartition(nparts, "id")
        .sortWithinPartitions("id")
        .persist()
    )
    spark = df.sparkSession
    if int(n_iter) <= 0:
        # degenerate fit: the model is all-zero weights over the
        # observed buckets (bias included via the union's -1 rows)
        wdict0: dict[int, int | None] = {
            int(r["bucket"]): 0
            for r in feats_aug.select("bucket").distinct().collect()
        }
        feats.unpersist()
        feats_aug.unpersist()
        if not wdict0:
            raise ValueError("logreg_train: no documents with features")
        return local_struct_df(
            spark, "bucket bigint, wnum bigint", sorted(wdict0.items())
        )
    # The weight relation is model-sized by construction (≤
    # n_buckets+1 rows at ANY corpus scale) — small enough to live on
    # the DRIVER. Each iteration is therefore ONE distributed job:
    # the gradient aggregate is collected (model-sized rows), the
    # quantized update runs in Python with bit-identical arithmetic
    # (_wnum_update — pytest-pinned against the Spark expression it
    # replaces), and the next round's weights re-enter the plan as a
    # dense array literal (functions/lits.bigint_array; guide §5: no
    # .collect() on DATA paths — this collect is model-sized, the
    # same size trained_weights_map collects after training).
    # n_docs (= labeled docs = bias rows) and the observed-bucket set
    # both ride on iteration 1's gradient collect: the per-bucket row
    # COUNT of the bias bucket is exactly the former
    # `feats_aug.where(bucket == BIAS).count()`, and the gradient's
    # bucket set is exactly the former distinct-bucket collect — so
    # neither costs its own job.
    n_docs: int | None = None
    # wdict None = round 1's all-zero weight vector: Σ cnt·0 per doc
    # is exactly the znum the former 0-weight lookup summed
    wdict: dict[int, int | None] | None = None
    # The per-iteration gradient query is ONE spark.sql() text over a
    # temp view of the cached relation — only the weight-literal
    # substring changes per round, so an iteration costs one py4j
    # call + one parse instead of re-building the select/window/agg
    # Column chain through ~15 py4j round trips (measured 0.50 →
    # 0.43 s/round end-to-end at sf0.1; the py4j-tax lesson taken to
    # its limit). Every expression below renders the EXACT arithmetic
    # of the former Column trees — 1.0D literals, repr-round-tripped
    # TRAIN_SCALE (division, not reciprocal multiplication: the
    # oracle divides, and x/1e12 vs x*(1/1e12) can differ in the
    # last ulp), ROUND-then-CAST — so the fit replays bit-for-bit
    # against the chained-CTE oracle, which would hash-fail on any
    # drift. The view resolves to the same analyzed plan, so the
    # in-memory cache (and its no-exchange/no-sort clustering) is
    # matched exactly as before.
    import uuid

    view = f"__logreg_feats_{uuid.uuid4().hex}"
    feats_aug.createOrReplaceTempView(view)
    sc_lit = double_sql(TRAIN_SCALE)
    # ONE streaming pass per round: the unbounded window over the
    # cache's own (id)-clustering computes the per-doc znum and
    # recovers the label riding on the bias row (MAX over the group —
    # the group's only non-null y), with window-SUM null semantics
    # identical to the former per-doc aggregation; the per-row
    # residual then feeds the per-bucket gradient directly
    template = (
        "SELECT bucket,"
        " SUM(CAST(cnt AS DECIMAL(10,0)) * CAST(rnum AS DECIMAL(24,0)))"
        " AS gnum, COUNT(1) AS n_rows"
        " FROM (SELECT bucket, cnt,"
        f" CAST(ROUND((1.0D/(1.0D+EXP(-(CAST(znum AS DOUBLE)/{sc_lit})))"
        f" - CAST(y AS DOUBLE)) * {sc_lit}, 0) AS BIGINT) AS rnum"
        " FROM (SELECT bucket, cnt,"
        " SUM(CAST(cnt AS DECIMAL(10,0)) * CAST({lookup} AS DECIMAL(24,0)))"
        " OVER (PARTITION BY id) AS znum,"
        " MAX(y) OVER (PARTITION BY id) AS y"
        f" FROM {view})) GROUP BY bucket"
    )
    try:
        for _ in range(int(n_iter)):
            # weights as ONE dense-array literal + element_at lookup
            # (O(1) indexed access; a map literal's GetMapValue scans
            # its ~n_buckets entries PER ROW). Buckets are
            # non-negative by construction (pmod) plus the -1 bias
            # pseudo-bucket, so index = bucket + 2 ∈ [1, max_bucket
            # + 2]; a custom feats relation with other negative
            # buckets falls back to the map form (element_at with a
            # negative array index would read from the END — silently
            # wrong). Every observed bucket is a wdict key by
            # construction (the gradient groups over every feats_aug
            # row), so the lookup is always in range / present.
            if wdict is None:
                lookup = "CAST(0 AS BIGINT)"
            elif min(wdict) >= -1:
                lut = bigint_array_sql(
                    [wdict.get(b, 0) for b in range(-1, max(wdict) + 1)]
                )
                lookup = f"element_at({lut}, CAST(bucket + 2 AS INT))"
            else:
                lookup = (
                    f"element_at({bigint_map_sql(sorted(wdict.items()))},"
                    " bucket)"
                )
            g_rows = spark.sql(template.format(lookup=lookup)).collect()
            if n_docs is None:
                feats.unpersist()
                n_docs = next(
                    (
                        int(r["n_rows"])
                        for r in g_rows
                        if int(r["bucket"]) == BIAS_BUCKET
                    ),
                    0,
                )
                if n_docs == 0:
                    feats_aug.unpersist()
                    raise ValueError(
                        "logreg_train: no documents with features"
                    )
            # mirror of the old inner update join: the new weight set
            # is exactly the buckets the gradient aggregation produced
            # (all observed buckets — every feats_aug row contributes
            # a group)
            wdict = {
                int(row["bucket"]): _wnum_update(
                    0 if wdict is None else wdict[int(row["bucket"])],
                    row["gnum"],
                    lr,
                    n_docs,
                )
                for row in g_rows
            }
    finally:
        spark.catalog.dropTempView(view)
    feats_aug.unpersist()
    assert wdict is not None
    return local_struct_df(
        spark, "bucket bigint, wnum bigint", sorted(wdict.items())
    )


def score_documents_weighted(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    denom: float,
    bias: float = 0.0,
    n_buckets: int = N_BUCKETS,
    threshold: float = 0.5,
    feats: DataFrame | None = None,
) -> DataFrame:
    """B50 inference with SUPPLIED weights — the "bring your own
    model" form. ``weights`` is a (bucket, wnum) relation (broadcast
    — model-sized by construction); the per-doc logit is
    ``bias + Σ cnt·wnum / denom`` with the numerator summed EXACTLY,
    so freezing the deterministic formula weights (wnum over every
    bucket, ``denom = _W_MOD · _SCALE``, ``bias = _BIAS``) reproduces
    :func:`score_documents` row-for-row (pytest-pinned), and feeding
    :func:`logreg_train` output (``denom = TRAIN_SCALE``, bias via
    :func:`trained_bias`) scores with the learned model through the
    identical plan: one explode, one broadcast join, one partially
    aggregated shuffle. Unseen buckets weigh 0. Output schema equals
    :func:`score_documents`: (id, n_feats, quality_prob, keep).
    ``feats`` overrides the featurization exactly as in
    :func:`logreg_train` — pass the SAME builder used at fit time."""
    if feats is None:
        feats = hashed_features(df, id_col, text_col, n_buckets)
    scored = (
        feats.join(
            F.broadcast(
                weights.where(F.col("bucket") != F.lit(BIAS_BUCKET))
            ),
            "bucket",
            "left",
        )
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(
                _dec_prod(F.col("cnt"), F.coalesce(F.col("wnum"), F.lit(0)))
            ).alias("snum"),
        )
    )
    logit = F.lit(float(bias)) + F.col("snum").cast("double") / F.lit(
        float(denom)
    )
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return scored.select(
        "id",
        "n_feats",
        prob.alias("quality_prob"),
        (prob >= F.lit(threshold)).alias("keep"),
    )


def trained_weights_map(weights: DataFrame) -> dict[int, int]:
    """Collect a :func:`logreg_train` model into a bucket → numerator
    mapping (model-sized: ≤ n_buckets+1 rows), bias row included
    under ``BIAS_BUCKET`` — the driver-side form
    :func:`score_columns_weighted` embeds as a literal."""
    return {
        int(r["bucket"]): int(r["wnum"]) for r in weights.collect()
    }


def score_columns_weighted(
    text_col: Column | str,
    weights: dict[int, int],
    denom: float,
    bias: float = 0.0,
    n_buckets: int = N_BUCKETS,
    gram_mode: str = "words",
) -> tuple[Column, Column]:
    """Per-ROW scoring with SUPPLIED weights — the streaming-safe twin
    of :func:`score_documents_weighted`, closing the train→deploy
    loop: fit with :func:`logreg_train`, collect via
    :func:`trained_weights_map`, and gate documents AT INGEST with a
    stateless projection (append mode, no aggregation state — the
    C12 property). The bucket → numerator map ships as ONE dense
    literal array expression (``n_buckets`` BIGINT literals, one
    parse — the smalldf device; a py4j per-element chain would cost
    seconds), indexed per gram with ``element_at``; numerators fold
    exactly as BIGINT, so the result is row-identical to the
    aggregated scorer (pytest-pinned). A ``BIAS_BUCKET`` entry in
    ``weights`` is folded into ``bias`` automatically (in numerator
    units over ``denom``).

    ``gram_mode``: "words" (unigram+bigram, B50's featurization) or
    "chars" (char trigrams — deploy a ``hashed_char_features``-
    trained model, e.g. the langid gate, with the SAME featurization
    it was fit on)."""
    if gram_mode not in ("words", "chars"):
        raise ValueError(
            f"score_columns_weighted: unknown gram_mode {gram_mode!r}"
        )
    dense = [0] * n_buckets
    for b, w in weights.items():
        if b == BIAS_BUCKET:
            bias = bias + float(w) / float(denom)
        elif 0 <= b < n_buckets:
            dense[b] = int(w)
        else:
            raise ValueError(
                f"score_columns_weighted: bucket {b} outside "
                f"[0, {n_buckets})"
            )
    lut = bigint_array(dense)
    tc = F.col(text_col) if isinstance(text_col, str) else text_col
    if gram_mode == "chars":
        from nass_summary_spark.functions.text import char_ngrams

        grams = char_ngrams(tc, 3)
    else:
        ws = words(tc)
        grams = F.concat(ws, ngrams_from_words(ws, 2))
    snum = F.aggregate(
        F.transform(
            grams,
            lambda g: F.element_at(
                lut, (feature_bucket(g, n_buckets) + 1).cast("int")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n_feats = F.size(grams).cast("bigint")
    logit = F.lit(float(bias)) + snum.cast("double") / F.lit(float(denom))
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return n_feats, prob


def trained_bias(weights: DataFrame) -> float:
    """The bias term of a :func:`logreg_train` model, as the real
    value (numerator / TRAIN_SCALE) — a 1-row model-sized collect."""
    rows = weights.where(
        F.col("bucket") == F.lit(BIAS_BUCKET)
    ).collect()
    return float(rows[0]["wnum"]) / TRAIN_SCALE if rows else 0.0


def logreg_train_oracle_sql(
    feats_sql: str,
    labels_sql: str,
    n_iter: int = 5,
    lr: float = 0.5,
    final_select: str | None = None,
) -> str:
    """Chained-CTE replay of :func:`logreg_train` iteration-for-
    iteration (the ``fellegi_sunter_em_oracle_sql`` shape).
    ``feats_sql`` must produce (id, bucket, cnt) for the hashed
    grams; ``labels_sql`` must produce (id, y) over ALL candidate
    docs (the chain restricts to ids present in feats). Arithmetic
    mirrors the DataFrame path exactly: DECIMAL(10,0)×DECIMAL(24,0)
    products summed as exact decimals, doubles only inside
    sigmoid/update followed by ROUND to integer numerators, literals
    CAST AS DOUBLE (DuckDB parses bare decimals as DECIMAL).
    ``final_select`` overrides the default model unpivot (used by
    the train+score composite)."""
    sc = f"CAST({float(TRAIN_SCALE)!r} AS DOUBLE)"
    lrd = f"CAST({float(lr)!r} AS DOUBLE)"
    # MATERIALIZED is load-bearing, not a hint: feats is referenced
    # twice per iteration and w{k} feeds both z{k+1} and w{k+1}, so an
    # inlined chain doubles per iteration (2^n_iter parquet scans —
    # observed as "too many open files" at n_iter=20). Materializing
    # them is the oracle-side analog of the DataFrame path's
    # localCheckpoint truncation.
    ctes = [
        f"feats0 AS MATERIALIZED ({feats_sql})",
        f"lab AS MATERIALIZED (SELECT l.id, l.y FROM ({labels_sql}) l"
        " WHERE l.id IN (SELECT id FROM feats0))",
        "feats AS MATERIALIZED (SELECT id, bucket, cnt FROM feats0"
        " UNION ALL"
        " SELECT id, CAST(-1 AS BIGINT), CAST(1 AS BIGINT) FROM lab)",
        "n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM lab)",
        "w0 AS (SELECT bucket, CAST(0 AS BIGINT) AS wnum"
        " FROM (SELECT DISTINCT bucket FROM feats))",
    ]
    for k in range(1, int(n_iter) + 1):
        prev = f"w{k - 1}"
        ctes.append(
            f"""z{k} AS (
      SELECT f.id, SUM(CAST(f.cnt AS DECIMAL(10,0))
                       * CAST(w.wnum AS DECIMAL(24,0))) AS znum
      FROM feats f JOIN {prev} w USING (bucket) GROUP BY f.id
    )"""
        )
        ctes.append(
            f"""r{k} AS (
      SELECT z.id,
             CAST(ROUND((1.0 / (1.0 + exp(-(CAST(z.znum AS DOUBLE) / {sc})))
                          - CAST(l.y AS DOUBLE)) * {sc}, 0) AS BIGINT) AS rnum
      FROM z{k} z JOIN lab l ON l.id = z.id
    )"""
        )
        ctes.append(
            f"""g{k} AS (
      SELECT f.bucket, SUM(CAST(f.cnt AS DECIMAL(10,0))
                           * CAST(r.rnum AS DECIMAL(24,0))) AS gnum
      FROM feats f JOIN r{k} r ON r.id = f.id GROUP BY f.bucket
    )"""
        )
        ctes.append(
            f"""w{k} AS MATERIALIZED (
      SELECT w.bucket,
             CAST(ROUND(CAST(w.wnum AS DOUBLE)
                        - {lrd} * (CAST(g.gnum AS DOUBLE) / n.n), 0)
                  AS BIGINT) AS wnum
      FROM {prev} w JOIN g{k} g USING (bucket) CROSS JOIN n
    )"""
        )
    tail = final_select or (
        f"SELECT bucket, wnum FROM w{int(n_iter)}"
    )
    return "WITH " + ",\n".join(ctes) + f"\n{tail}"


def score_columns(text_col: Column | str, n_buckets: int = N_BUCKETS) -> tuple[Column, Column]:
    """Per-ROW scoring expressions ``(n_feats, quality_prob)`` —
    identical arithmetic to :func:`score_documents` (integer weight
    numerators summed exactly; addition is commutative over BIGINT so
    the HOF fold and the shuffle aggregation provably agree), but as
    a pure projection with NO shuffle.  This is the form the
    STREAMING quality gate runs: stateless, append-mode, no
    aggregation state — and the form a cluster prefers whenever
    per-doc scoring feeds a filter rather than an analytics join.
    Tests pin it equal to the aggregated path row-for-row."""
    tc = F.col(text_col) if isinstance(text_col, str) else text_col
    ws = words(tc)
    grams = F.concat(ws, ngrams_from_words(ws, 2))
    snum = F.aggregate(
        F.transform(grams, lambda g: weight_numerator(feature_bucket(g, n_buckets))),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n_feats = F.size(grams).cast("bigint")
    logit = F.lit(_BIAS) + snum.cast("double") / F.lit(float(_W_MOD) * _SCALE)
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return n_feats, prob
