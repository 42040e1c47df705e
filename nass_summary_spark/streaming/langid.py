"""C29: streaming language gate — the trained langid model deployed
as ingest middleware.

The same deployment shape as the trained quality gate (C12b) and the
DSIR gate (C27): fit the char-trigram logistic model in-engine
(``logreg_train`` over ``hashed_char_features``), collect the
model-sized weight map, and apply it to documents as they LAND as a
STATELESS per-row projection (``score_columns_weighted`` with
``gram_mode="chars"`` — the bucket→numerator table ships as one
literal array, numerators fold exactly as BIGINT) — append mode, no
aggregation state, no watermark, survives any uptime. A multilingual
crawl firehose keeps only target-language documents at ingest
instead of paying a batch pass later.

Parity evidence (tests/test_new_ops_r9.py): the gate is row-identical
to the batch ``score_documents_weighted`` scorer with the same frozen
weights, on a static frame and over any micro-batch split of a
stream — the C12b contract applied to the langid model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nass_summary_spark.operators.classifier import (
    score_columns_weighted,
)


def langid_gate(
    docs: DataFrame,
    weights: dict[int, int],
    denom: float,
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Score + gate a static or streaming frame with the frozen langid
    model: keeps documents the model calls target-language."""
    n_feats, prob = score_columns_weighted(
        text_col, weights, denom, bias, gram_mode="chars"
    )
    return (
        docs.select(
            F.col(id_col).alias("id"),
            n_feats.alias("n_feats"),
            prob.alias("lang_prob"),
        )
        .where(F.col("lang_prob") >= F.lit(threshold))
    )
