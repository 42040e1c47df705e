"""DSIR-style importance weighting for data selection.

Data Selection with Importance Resampling (Xie et al., NeurIPS 2023,
public): score every raw document by how much more likely its hashed
n-gram features are under a TARGET corpus distribution than under
the RAW corpus distribution, then keep/resample by that importance
weight. This is the standard cheap domain-selection device for
LLM pretraining mixes (e.g. "select web documents that look like
Wikipedia") — a learned-classifier-free counterpart of B50/B106.

Determinism contract (house conventions):

- Features are hashed word BIGRAMS in a fixed bucket space
  (``token_hash64 % num_buckets`` — the same portable md5 device the
  sampling family uses), so both engines compute identical buckets.
- The per-bucket log-likelihood ratio
  ``λ[b] = ln( ((c_t[b]+1)/(N_t+B)) / ((c_r[b]+1)/(N_r+B)) )``
  (add-one smoothing) is QUANTIZED to 1e-9 fixed point immediately:
  ``lam_q = floor(λ·1e9 + 0.5)`` as BIGINT — ``floor(x+0.5)`` on
  both sides because DuckDB's CAST(DECIMAL AS BIGINT) rounds while
  Spark truncates. After quantization every per-doc score is an
  EXACT integer sum: order-independent, partitioning-independent,
  engine-identical. (A final-ulp ln() disagreement would have to
  land within ~1 ulp of a .5 boundary to flip a bucket — the same
  exposure the certified EM/classifier quantizations carry.)
- The keep decision is integer-exact: a doc is kept when its MEAN
  log ratio is at or above the corpus mean, evaluated as a
  DECIMAL(38,0) cross-multiplication (see :func:`dsir_scores`).

Scale posture (100 TB): the corpus is scanned twice (once to build
the ≤``num_buckets``-row ratio table, once to score) — scanning
beats materializing the exploded token stream. The bucket-stats
aggregation is ONE map-side-combinable groupBy whose output is
bounded by the bucket space regardless of corpus size; the ratio
table broadcasts; per-doc scoring is one partial-aggregated shuffle
of (doc_id, partial-sum) pairs. No window, no sort, no driver-side
model state beyond the broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from nass_summary_spark.functions.layout import spread_narrow_scan
from nass_summary_spark.functions.lits import bigint_array
from nass_summary_spark.functions.text import ngrams_from_words, words
from nass_summary_spark.functions.vectors import token_hash64

#: Hashed-bigram bucket-space size. 4096 keeps the ratio table a
#: guaranteed broadcast (few KB) while giving the estimator enough
#: resolution for corpus-level selection; the paper uses 10k buckets
#: at web scale — a knob, not a structural choice.
NUM_BUCKETS = 4096

#: Fixed-point scale for the quantized log ratio.
LAM_SCALE = 1_000_000_000


def _doc_buckets(df: DataFrame, id_col: str, text_col: str, num_buckets: int) -> DataFrame:
    """(id, bucket) with multiplicity — one row per word bigram.
    The (id, text) projection is spread over the session width when
    the scan is narrower (single-split file) so the bigram explode +
    hash doesn't serialize onto one task; identity at corpus scale."""
    staged = spread_narrow_scan(df.select(F.col(id_col), F.col(text_col)))
    bg = F.explode(ngrams_from_words(words(text_col), 2)).alias("bigram")
    return staged.select(F.col(id_col), bg).select(
        id_col,
        (token_hash64(F.col("bigram"), bits=32) % F.lit(num_buckets)).alias("bucket"),
    )


def dsir_bucket_ratios(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: F.Column,
    num_buckets: int = NUM_BUCKETS,
    lam_scale: int = LAM_SCALE,
) -> DataFrame:
    """The ≤``num_buckets``-row quantized log-ratio table.

    ``target`` is a boolean Column over ``df`` marking the exemplar
    (target-domain) documents. Output: (bucket, c_t, c_r, lam_q).
    """
    marked = df.withColumn("__is_t", target.cast("bigint"))
    # the target flag rides the explode projection so no join exists
    # between tokens and their document's flag; the projection is
    # spread when the scan is narrower than the session width (the
    # 1-task-scan disease — profiled as two concurrent single-task
    # explode sweeps, one per aggregation branch)
    staged = spread_narrow_scan(marked.select("__is_t", F.col(text_col)))
    hb = staged.select(
        F.col("__is_t"),
        F.explode(ngrams_from_words(words(text_col), 2)).alias("bigram"),
    ).select(
        "__is_t",
        (token_hash64(F.col("bigram"), bits=32) % F.lit(num_buckets)).alias("bucket"),
    )
    # stats is bucket-bounded (≤ num_buckets rows) — persist it and
    # derive the totals BY SUMMING IT (n_r = Σ c_r, n_t = Σ c_t —
    # exact integer identities), instead of a second full explode
    # pass over the corpus for one scalar pair
    stats = hb.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.sum("__is_t").alias("c_t"),
    ).persist()
    totals = stats.agg(
        F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t")
    )
    p_t = (F.col("c_t") + 1).cast("double") / ((F.col("n_t") + num_buckets).cast("double"))
    p_r = (F.col("c_r") + 1).cast("double") / ((F.col("n_r") + num_buckets).cast("double"))
    return (
        stats.crossJoin(broadcast(totals))
        .select(
            "bucket",
            "c_t",
            "c_r",
            F.floor(F.log(p_t / p_r) * F.lit(float(lam_scale)) + F.lit(0.5))
            .cast("bigint")
            .alias("lam_q"),
        )
    )


def dsir_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: F.Column,
    num_buckets: int = NUM_BUCKETS,
    lam_scale: int = LAM_SCALE,
    ratios: DataFrame | None = None,
) -> DataFrame:
    """Per-document DSIR importance scores + keep flag.

    Output: (id_col, n_bigrams, score_q, avg_logratio, keep) where
    ``score_q`` is the exact fixed-point sum of per-bucket quantized
    log ratios and ``avg_logratio`` its per-bigram mean (6-dp
    double). ``keep`` selects documents whose MEAN log ratio is at
    or above the corpus-wide mean — evaluated as the exact integer
    cross-multiplication ``score_q·N_total ≥ T_total·n_bigrams`` in
    DECIMAL(38,0) (no FP boundary, no data-dependent collect; the
    one-row totals relation broadcasts). A fixed absolute threshold
    would be at the mercy of the smoothing bias: with a small target
    corpus the add-one mass deflates every observed bucket's λ
    uniformly, which the relative threshold cancels.

    ``ratios``: a precomputed ``dsir_bucket_ratios`` frame to reuse
    (callers that already built — and ideally cached/persisted — the
    ratio table avoid re-scanning the corpus to rebuild it here).
    """
    lam = ratios if ratios is not None else dsir_bucket_ratios(
        df, id_col, text_col, target, num_buckets, lam_scale
    )
    per_doc = (
        _doc_buckets(df, id_col, text_col, num_buckets)
        .join(broadcast(lam.select("bucket", "lam_q")), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lam_q").alias("score_q"),
        )
    )
    totals = per_doc.agg(
        F.sum("n_bigrams").alias("__n_tot"), F.sum("score_q").alias("__t_tot")
    )
    n = F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint")
    s = F.coalesce(F.col("score_q"), F.lit(0)).cast("bigint")
    lhs = s.cast("decimal(19,0)") * F.col("__n_tot").cast("decimal(18,0)")
    rhs = F.col("__t_tot").cast("decimal(19,0)") * n.cast("decimal(18,0)")
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .crossJoin(broadcast(totals))
        .select(
            id_col,
            n.alias("n_bigrams"),
            s.alias("score_q"),
            F.when(
                n > 0,
                F.round(
                    s.cast("double") / (F.lit(float(lam_scale)) * n.cast("double")),
                    6,
                ),
            ).alias("avg_logratio"),
            ((n > 0) & (lhs >= rhs)).alias("keep"),
        )
    )


def dsir_score_columns(
    text_col,
    lam_q: dict[int, int],
    n_tot: int,
    t_tot: int,
    num_buckets: int = NUM_BUCKETS,
    lam_scale: int = LAM_SCALE,
):
    """Per-ROW DSIR scoring with a FROZEN ratio table — the
    streaming-safe twin of :func:`dsir_scores`, the same device that
    deploys the trained classifier (C12b): the bucket → quantized
    log-ratio map ships as ONE dense literal-array expression
    (``num_buckets`` BIGINT literals, one parse), indexed per bigram
    with ``element_at`` and folded as exact BIGINT — row-identical
    to the aggregated path (pytest-pinned), stateless (append mode,
    no aggregation state). The keep threshold is the FROZEN
    reference-corpus mean, evaluated per row as the same
    DECIMAL(38,0) cross-multiplication.

    Returns ``(n_bigrams, score_q, keep)`` expression columns.
    """
    dense = [0] * num_buckets
    for b, w in lam_q.items():
        if not 0 <= int(b) < num_buckets:
            raise ValueError(
                f"dsir_score_columns: bucket {b} outside [0, {num_buckets})"
            )
        dense[int(b)] = int(w)
    lut = bigint_array(dense)
    tc = F.col(text_col) if isinstance(text_col, str) else text_col
    grams = ngrams_from_words(words(tc), 2)
    score_q = F.aggregate(
        F.transform(
            grams,
            lambda g: F.element_at(
                lut,
                ((token_hash64(g, bits=32) % num_buckets) + 1).cast("int"),
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n = F.size(grams).cast("bigint")
    lhs = score_q.cast("decimal(19,0)") * F.lit(int(n_tot)).cast("decimal(18,0)")
    rhs = F.lit(int(t_tot)).cast("decimal(19,0)") * n.cast("decimal(18,0)")
    return n, score_q, (n > 0) & (lhs >= rhs)
