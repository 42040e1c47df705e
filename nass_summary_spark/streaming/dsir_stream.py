"""C27: streaming DSIR gate — importance-based data selection at
ingest time.

B113 (``operators/importance.py``) builds the hashed-bigram
log-likelihood-ratio table over a reference corpus; this module
FREEZES that model (ratio table + the corpus-mean keep threshold) as
a persisted sidecar and applies it to documents as they LAND — the
same deployment shape as the trained-classifier gate (C12b) and the
frozen-weights linkage scorer (C25): freezing makes scores
comparable across batches, and per-row expression scoring
(``dsir_score_columns``) keeps the stage STATELESS (append mode, no
aggregation state, no watermark) — exactly-once is idempotent
per-batch overwrite alone.

Sidecar layout (the linkage_stream contract): ``ratios/`` (bucket,
lam_q — ≤num_buckets rows, written with the JVM-side local-relation
device where applicable) and ``meta/`` (num_buckets, lam_scale,
n_tot, t_tot). ``load_dsir_reference`` loud-fails a ratio table
whose buckets fall outside its own meta's bucket space — a mixed
generation (e.g. ratios re-built at a different bucket count without
the meta) must not score silently.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nass_summary_spark.functions.smalldf import local_struct_df
from nass_summary_spark.operators.importance import (
    LAM_SCALE,
    NUM_BUCKETS,
    dsir_bucket_ratios,
    dsir_score_columns,
    dsir_scores,
)


def build_dsir_reference(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    path: str,
    num_buckets: int = NUM_BUCKETS,
    lam_scale: int = LAM_SCALE,
) -> None:
    """Fit the DSIR model on the reference corpus and persist it.

    Two relations: the quantized ratio table and a one-row meta with
    the frozen corpus-mean threshold numerators (t_tot / n_tot) the
    gate compares against.
    """
    spark = docs.sparkSession
    # Build the ratio table ONCE, persist it, and hand the WRITTEN
    # copy to dsir_scores — without the reuse the totals pass would
    # rebuild the identical table and double the corpus scans this
    # builder budgets for (the two scans left are the ratio fit and
    # the per-document scoring pass).
    lam = dsir_bucket_ratios(
        docs, id_col, text_col, target, num_buckets, lam_scale
    )
    lam.select("bucket", "lam_q").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/ratios")
    lam_written = spark.read.parquet(f"{path}/ratios")
    totals = (
        dsir_scores(
            docs, id_col, text_col, target, num_buckets, lam_scale,
            ratios=lam_written,
        )
        .agg(
            F.sum("n_bigrams").cast("bigint").alias("n_tot"),
            F.sum("score_q").cast("bigint").alias("t_tot"),
        )
        .collect()[0]
    )
    local_struct_df(
        spark,
        "num_buckets bigint, lam_scale bigint, n_tot bigint, t_tot bigint",
        [(num_buckets, lam_scale, int(totals["n_tot"]), int(totals["t_tot"]))],
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def load_dsir_reference(
    spark: SparkSession, path: str
) -> tuple[dict[int, int], int, int, int, int]:
    """Read back ``(lam_q map, n_tot, t_tot, num_buckets,
    lam_scale)`` — both relations are model-sized collects."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    nb = int(meta["num_buckets"])
    rows = spark.read.parquet(f"{path}/ratios").collect()
    lam = {int(r["bucket"]): int(r["lam_q"]) for r in rows}
    bad = [b for b in lam if not 0 <= b < nb]
    if bad:
        raise ValueError(
            f"DSIR reference at {path} has buckets {sorted(bad)[:5]}"
            f" outside its own meta bucket space [0, {nb}) — the"
            " sidecar mixes generations; rebuild it"
        )
    return lam, int(meta["n_tot"]), int(meta["t_tot"]), nb, int(meta["lam_scale"])


def dsir_gate(
    docs: DataFrame,
    lam_q: dict[int, int],
    n_tot: int,
    t_tot: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = NUM_BUCKETS,
    lam_scale: int = LAM_SCALE,
) -> DataFrame:
    """Score + gate a static or streaming frame with the frozen model:
    keeps rows at or above the frozen corpus-mean log ratio."""
    n, score_q, keep = dsir_score_columns(
        text_col, lam_q, n_tot, t_tot, num_buckets, lam_scale
    )
    return docs.select(
        F.col(id_col).alias("id"),
        n.alias("n_bigrams"),
        score_q.alias("score_q"),
        keep.alias("keep"),
    ).where(F.col("keep"))
