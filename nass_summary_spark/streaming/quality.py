"""C12: streaming quality gate — curation at ingest time.

The batch curation pipeline scores documents with the B50 linear
classifier and drops the tail; this is the same gate applied while
documents LAND, as a Structured Streaming stage: a file/parquet
stream of raw documents -> per-row hashed-n-gram scoring -> filter.

The scoring is deliberately the per-row expression form
(`classifier.score_columns`): integer weight numerators folded with a
HOF over the gram array — exact BIGINT arithmetic, provably equal to
the batch aggregation path — so the stream stage is STATELESS
(append mode, no aggregation state, no watermark needed).  A gate
that keeps no state survives any uptime; this is the property that
makes classifier curation deployable as ingest middleware.

One function gates a static or a streaming frame; the streamed
output is parity-tested against the static one in
tests/test_streaming.py, and the expression itself is pinned equal to
the oracle-checked B50 aggregation path in tests/test_new_ops_r3.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nass_summary_spark.operators.classifier import score_columns


def quality_gate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Score + gate a document frame (static or streaming).

    Two plan hazards of "filter on an expensive computed column"
    (both profiled): the optimizer pushes the keep-filter — carrying
    the WHOLE scorer expression — below any exchange back into the
    scan stage (so a single-split batch input serializes the sweep
    onto one task), and every surviving row then evaluates the
    scorer a SECOND time in the projection (the guide §4.4
    duplicated-evaluation disease, JVM-expression flavor). Batch
    path: spread a narrow scan, then score through
    ``pushdown_barrier`` — a numerically exact no-op that keeps the
    filter above the scored projection, so the scorer runs ONCE per
    row at the session width. Streaming frames keep the plain
    stateless projection (rand-marked expressions and batch layout
    probes don't belong in a micro-batch plan; its width is the
    source's concern)."""
    n_feats, prob = score_columns(text_col)
    if docs.isStreaming:
        return (
            docs.select(
                F.col(id_col).alias("id"),
                n_feats.alias("n_feats"),
                prob.alias("quality_prob"),
            )
            .where(F.col("quality_prob") >= F.lit(threshold))
        )
    from nass_summary_spark.functions.layout import (
        pushdown_barrier,
        spread_narrow_scan,
    )

    staged = spread_narrow_scan(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    )
    n_feats, prob = score_columns("__t")
    return (
        staged.select(
            "id",
            n_feats.alias("n_feats"),
            pushdown_barrier(prob).alias("quality_prob"),
        )
        .where(F.col("quality_prob") >= F.lit(threshold))
    )


def quality_gate_weighted(
    docs: DataFrame,
    weights: dict[int, int],
    denom: float,
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """The gate with a TRAINED model (r8): score with
    ``classifier.score_columns_weighted`` — the per-row form of the
    B106 fit's weights, so a model trained in-engine
    (``logreg_train`` → ``trained_weights_map``) deploys as the same
    stateless ingest middleware the formula gate is. Row-identical
    to ``score_documents_weighted`` (pytest-pinned)."""
    from nass_summary_spark.operators.classifier import (
        score_columns_weighted,
    )

    n_feats, prob = score_columns_weighted(
        text_col, weights, denom, bias
    )
    return (
        docs.select(
            F.col(id_col).alias("id"),
            n_feats.alias("n_feats"),
            prob.alias("quality_prob"),
        )
        .where(F.col("quality_prob") >= F.lit(threshold))
    )
