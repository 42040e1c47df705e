"""Streaming record linkage (SURVEY.md §2 C25) — the stream twin of
operators/linkage.py, completing the Fellegi–Sunter pair the same way
dedup_stream.py twins dedup_index.py and ann_stream.py twins
ann_index.py.

A curated reference relation (the entity master) is persisted ONCE
with FROZEN Fellegi–Sunter parameters — supplied priors, or EM
estimates from :func:`~nass_summary_spark.operators.linkage.
fellegi_sunter_em` over a labeled-free seed (``em_params`` converts
the EM output). Each micro-batch of arriving records is then
blocked-joined against the stored reference and scored with those
frozen weights: freezing is what makes scores COMPARABLE across
batches (a per-batch u estimate would drift with batch composition)
and makes every batch's output a pure projection over one blocked
equi-join — no aggregation, no state, nothing held between batches.

Exactly-once: the scorer mutates nothing (the reference is static),
so the shard-table overwrite of streaming/sink.py is the whole story.
The model directory (``model/params`` + its drift baseline
``model/pattern_hist``) is ONE generation: the EM refresh stages a
whole new model directory and publishes it with one swap, so new
weights never sit next to an old baseline. The loader fails loudly
when m- and u-mappings disagree on the field set (the
mixed-generation guard of the index family, applied to model
parameters).

Parity evidence (tests/test_streaming.py): scoring is per-pair with
frozen weights, so the union of per-batch match outputs equals the
batch scorer over the union of arrivals, for ANY batch split.
"""

from __future__ import annotations

import math
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nass_summary_spark.functions.smalldf import local_struct_df
from nass_summary_spark.operators.linkage import (
    blocked_agreements,
    em_fit,
    fellegi_sunter_scores,
    pattern_histogram,
)
from nass_summary_spark.streaming.sink import start_batches, write_shard


def _write_params(
    spark: SparkSession, fields, m_probs, u_probs, model_dir: str
) -> None:
    local_struct_df(
        spark,
        "field string, m double, u double",
        [(f, float(m_probs[f]), float(u_probs[f])) for f in fields],
    ).coalesce(1).write.mode("overwrite").parquet(f"{model_dir}/params")


def build_linkage_reference(
    reference: DataFrame,
    ref_id: str,
    block_col: str,
    m_probs: Mapping[str, float],
    u_probs: Mapping[str, float],
    path: str,
) -> None:
    """Persist the entity master plus its frozen Fellegi–Sunter
    parameters under ``path``: ``reference/`` (id, block and
    comparison columns only — pruned at write so probes never scan
    unrelated master columns), ``model/params/`` (field, m, u) and
    ``meta/`` (ref_id, block_col). Fails loudly when the m- and
    u-mappings disagree on fields."""
    if set(m_probs) != set(u_probs):
        raise ValueError(
            "linkage reference parameter mismatch: m fields "
            f"{sorted(m_probs)} != u fields {sorted(u_probs)}"
        )
    fields = list(m_probs)
    spark = reference.sparkSession
    (
        reference.select(ref_id, block_col, *fields)
        .write.mode("overwrite")
        .parquet(f"{path}/reference")
    )
    _write_params(spark, fields, m_probs, u_probs, f"{path}/model")
    local_struct_df(
        spark, "ref_id string, block_col string", [(ref_id, block_col)]
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def load_linkage_reference(
    spark: SparkSession, path: str
) -> tuple[DataFrame, str, str, dict, dict]:
    """Read back ``(reference, ref_id, block_col, m_probs,
    u_probs)`` — params and meta are model-sized collects."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    rows = spark.read.parquet(f"{path}/model/params").collect()
    m_probs = {r["field"]: r["m"] for r in rows}
    u_probs = {r["field"]: r["u"] for r in rows}
    reference = spark.read.parquet(f"{path}/reference")
    missing = (set(m_probs) | {meta["ref_id"], meta["block_col"]}) - set(
        reference.columns
    )
    if missing:
        raise ValueError(
            f"linkage reference at {path} lacks columns {sorted(missing)}"
            " that its own params/meta declare — the reference mixes"
            " generations; rebuild it"
        )
    return reference, meta["ref_id"], meta["block_col"], m_probs, u_probs


def linkage_stream(
    sdf: DataFrame,
    reference_path: str,
    matches_path: str,
    checkpoint_path: str,
    arrival_id: str,
    threshold: float = 0.0,
    salt: int = 1,
) -> StreamingQuery:
    """Score each micro-batch of arriving records against the stored
    reference with its frozen weights. Matches land in the shard
    table ``matches_path`` (read it with ``sink.read_shards``).
    ``build_linkage_reference`` must have run first."""

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ref, ref_id, block_col, m_probs, u_probs = load_linkage_reference(
            spark, reference_path
        )
        matches = fellegi_sunter_scores(
            batch_df, ref, arrival_id, ref_id, block_col, m_probs,
            threshold=threshold, salt=salt, u_probs=u_probs,
        )
        write_shard(matches, matches_path, batch_id)

    return start_batches(sdf, score_batch, checkpoint_path)


# ---------------------------------------------------------------------------
# incremental EM refresh (r8): frozen weights age as the arrival
# distribution moves; the pattern histogram is both the drift signal
# and the EM sufficient statistic, so detection and re-fit share one
# model-sized relation.
# ---------------------------------------------------------------------------


def _keyed(hist: DataFrame, fields) -> DataFrame:
    """The stored layout of a :func:`~nass_summary_spark.operators.
    linkage.pattern_histogram`: NULL indicators keyed as -1, so the
    histogram join of :func:`pattern_drift_kl` is total."""
    return hist.select(
        *[
            F.coalesce(F.col(f"agree_{f}"), F.lit(-1)).alias(f"agree_{f}")
            for f in fields
        ],
        "cnt",
    )


def _write_pattern_hist(hist: DataFrame, fields, model_dir: str) -> None:
    (
        _keyed(hist, fields)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{model_dir}/pattern_hist")
    )


def persist_pattern_histogram(
    cand: DataFrame, fields, reference_path: str
) -> None:
    """Persist the seed candidate relation's agreement-pattern
    histogram under ``{reference_path}/model/pattern_hist`` — the
    drift baseline :func:`pattern_drift_kl` compares against. Call it
    once with the same candidates the initial EM fit (or prior
    choice) was based on."""
    fields = list(fields)
    _write_pattern_hist(
        pattern_histogram(cand, fields), fields, f"{reference_path}/model"
    )


def _drift_kl(hist: DataFrame, fields, reference_path: str) -> float:
    keys = [f"agree_{f}" for f in fields]
    stored = hist.sparkSession.read.parquet(
        f"{reference_path}/model/pattern_hist"
    )
    joined = (
        _keyed(hist, fields)
        .withColumnRenamed("cnt", "c_cur")
        .join(
            stored.withColumnRenamed("cnt", "c_ref"), on=keys, how="full"
        )
        .select(
            F.coalesce(F.col("c_cur"), F.lit(0)).alias("c_cur"),
            F.coalesce(F.col("c_ref"), F.lit(0)).alias("c_ref"),
        )
    )
    rows = joined.collect()  # model-sized: ≤ 3^F patterns
    v = float(len(rows))
    n_cur = float(sum(r["c_cur"] for r in rows))
    n_ref = float(sum(r["c_ref"] for r in rows))
    kl = 0.0
    for r in rows:
        p = (r["c_cur"] + 1.0) / (n_cur + v)
        q = (r["c_ref"] + 1.0) / (n_ref + v)
        kl += p * math.log(p / q)
    return round(kl, 8)


def pattern_drift_kl(cand: DataFrame, fields, reference_path: str) -> float:
    """Add-one-smoothed KL(current ‖ stored) over agreement patterns
    — B57's drift audit applied to the linkage comparison space: the
    γ-pattern distribution is what the EM weights were fitted TO, so
    its divergence measures exactly the staleness of the frozen
    parameters (corpus-content drift that leaves agreement patterns
    unchanged does not — and should not — trigger a re-fit). Both
    histograms are model-sized (≤ 3^F rows); the arithmetic is one
    outer join + a scalar sum, rounded to 8 dp."""
    fields = list(fields)
    return _drift_kl(pattern_histogram(cand, fields), fields, reference_path)


def refresh_linkage_params(
    arrivals: DataFrame,
    reference_path: str,
    arrival_id: str,
    kl_threshold: float = 0.05,
    n_iter: int = 5,
    salt: int = 1,
) -> dict:
    """Periodic EM refresh of the frozen weights (the maintenance
    pass completing C25, the ann/pq retrain analog for model
    parameters): block the accumulated ``arrivals`` against the
    stored reference, measure pattern drift vs the persisted
    baseline, and when it exceeds ``kl_threshold`` re-fit
    Fellegi–Sunter by EM on the CURRENT candidates. The blocking
    join runs once: its pattern histogram is checkpointed and serves
    as drift signal, EM sufficient statistic and new baseline. The
    new params and their new drift baseline are staged together in
    ``model__refreshing`` and published with ONE Hadoop-FS swap of
    the ``model`` directory (the index-family contract), so a failure
    leaves either the old pair or the new pair, never a mix.
    Scores stay comparable WITHIN a generation; a refresh starts a
    new generation — which is the point (the old weights no longer
    describe the arrivals).

    Returns ``{"kl", "refreshed", "m_probs", "u_probs"}`` (the live
    mappings after the call)."""
    from nass_summary_spark.functions import fsio

    spark = arrivals.sparkSession
    ref, ref_id, block_col, m_probs, u_probs = load_linkage_reference(
        spark, reference_path
    )
    fields = list(m_probs)
    hist = pattern_histogram(
        blocked_agreements(
            arrivals, ref, arrival_id, ref_id, block_col, fields, salt=salt
        ),
        fields,
    ).localCheckpoint()
    kl = _drift_kl(hist, fields, reference_path)
    if kl < kl_threshold:
        return {
            "kl": kl, "refreshed": False,
            "m_probs": m_probs, "u_probs": u_probs,
        }
    p = em_fit(hist, fields, n_iter)
    new_m = {f: p[f"m_{f}"] for f in fields}
    new_u = {f: p[f"u_{f}"] for f in fields}
    staged = f"{reference_path}/model__refreshing"
    _write_params(spark, fields, new_m, new_u, staged)
    _write_pattern_hist(hist, fields, staged)
    fsio.swap_in(spark, f"{reference_path}/model", staged, "__pre_refresh")
    return {
        "kl": kl, "refreshed": True,
        "m_probs": new_m, "u_probs": new_u,
    }
