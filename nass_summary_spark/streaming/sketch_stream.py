"""C28: streaming distinct-sketch ingest — the stream twin of
operators/distinct_sketch.py (B114).

Each micro-batch of arriving documents aggregates to per-(keys,
batch) HLL shard sketches and APPENDS them to a persisted sketch
table; any later rollup merges sketches without rescanning raw data.
This is the incremental-distinct lifecycle at ingest: the "state" is
the KB-sized sketch table on disk (no streaming aggregation state,
no watermark), exactly the C23 posture with sketches instead of
signatures.

Exactly-once: every table here is a shard table (layout and replay
rule: streaming/sink.py), and a sketch, counter or count shard is a
pure function of its batch, so no applied-batch marker is needed. A
replayed HLL shard may differ in image bytes under different
executor scheduling, but the MERGED estimate is identical by the
union law pinned in tests — and HLL union is idempotent, so even a
shard merged twice changes no estimate. The count-min, quantile and
SPRT tables are SUMS: there a double merge double-counts, and the
overwrite of the replayed batch's own shard is what prevents it.

Parity evidence (tests/test_streaming.py): rollup over the streamed
shard sketches ≡ the batch rollup over the whole corpus (exact at
sparse-mode cardinalities), for any micro-batch split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nass_summary_spark.operators.distinct_sketch import (
    LG_K,
    build_distinct_sketches,
    rollup_distinct,
)
from nass_summary_spark.streaming.sink import (
    read_shards,
    shard_ids,
    shard_path,
    start_batches,
    write_shard,
)


def sketch_ingest_stream(
    sdf: DataFrame,
    keys: list[str],
    id_col: str,
    sketch_path: str,
    checkpoint_path: str,
    lg_k: int = LG_K,
) -> StreamingQuery:
    """Maintain the persisted per-(keys, batch) sketch table from a
    document stream. Stateless between batches: each batch is one
    map-side-combinable aggregation (≤ |keys-groups| rows out) and
    one shard overwrite."""

    def build_and_append(batch_df: DataFrame, batch_id: int) -> None:
        shard = build_distinct_sketches(batch_df, keys, id_col, lg_k=lg_k)
        write_shard(shard, sketch_path, batch_id)

    return start_batches(sdf, build_and_append, checkpoint_path)


def rollup_stream_sketches(
    spark: SparkSession, sketch_path: str, by: list[str]
) -> DataFrame:
    """Distinct-count rollup over ONLY the persisted sketches —
    never the raw corpus (the B114 rollup applied to the streamed
    shards)."""
    return rollup_distinct(read_shards(spark, sketch_path), by)


def consolidate_stream_sketches(
    spark: SparkSession,
    sketch_path: str,
    keys: list[str],
    up_to_batch: int,
) -> dict:
    """Sketch-table COMPACTION by merging, not file rewriting: fold
    every shard with id <= ``up_to_batch`` into ONE consolidated
    shard with id ``up_to_batch``, which must name an existing shard
    (``ValueError`` otherwise, before anything is written).

    This is the maintenance pass the accreting ingest needs (VERDICT
    r8 item 5): months of micro-batches leave thousands of KB-sized
    parquet directories whose listing cost eventually dominates the
    rollup. Because HLL sketch images are MERGEABLE, consolidation is
    semantic, not physical — ``hll_union_agg`` per keys-group over
    the old shards produces one row per group whose union with later
    batches is byte-for-byte the same ESTIMATE as before (the union
    law the C28 parity tests pin), so rollups are unchanged while the
    directory count drops to one per consolidation horizon.

    Crash safety: the merged generation is validated (group count
    re-read from the rewrite must match the merge input; a mismatch
    removes the rewrite and raises), staged in a sibling directory,
    swapped in over shard ``up_to_batch`` via the Hadoop FS rename
    pair (functions/fsio.swap_in), and ONLY THEN are the other
    absorbed shards removed. A crash before the
    swap leaves every original directory intact; a crash between the
    swap and the removals leaves ABSORBED shards duplicated next to
    the consolidated one — for the DISTINCT estimates this window is
    harmless (HLL union is idempotent: merging a sketch twice is the
    same sketch), but the per-group ``n_rows`` sum double-counts
    until the leftover shards (all < the consolidated id) are
    removed, which a re-run's shard listing makes obvious. A transactional table format closes the window
    with a real commit protocol — the same caveat as compact_table
    and the dedup-index extend marker. Run in a quiet window. The
    stream's checkpoint is untouched: new batches keep appending
    AFTER ``up_to_batch``, and a replayed old batch is impossible
    once its id is committed to the checkpoint.

    Returns {"batches_merged", "groups", "consolidated_batch_id"}.
    """
    all_ids = shard_ids(spark, sketch_path)
    if up_to_batch not in all_ids:
        raise ValueError(
            f"consolidate_stream_sketches: up_to_batch={up_to_batch} names"
            f" no shard of {sketch_path} (shards: {all_ids})"
        )
    ids = [i for i in all_ids if i <= up_to_batch]
    if len(ids) < 2:
        return {
            "batches_merged": len(ids),
            "groups": 0,
            "consolidated_batch_id": up_to_batch,
        }
    old = read_shards(spark, sketch_path, ids)
    merged = old.groupBy(*keys).agg(
        F.expr("hll_union_agg(sketch)").alias("sketch"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
    )
    tmp = f"{sketch_path}/__consolidating_batch_id_{up_to_batch}"
    merged.write.mode("overwrite").parquet(tmp)
    n_groups = spark.read.parquet(tmp).count()
    n_expected = old.select(*keys).distinct().count()
    from nass_summary_spark.functions.fsio import remove_dir, swap_in

    if n_groups != n_expected:
        remove_dir(spark, tmp)
        raise RuntimeError(
            f"consolidate_stream_sketches: rewrite has {n_groups} groups,"
            f" merge input has {n_expected}; aborting with the original"
            " shard directories untouched"
        )
    swap_in(
        spark, shard_path(sketch_path, up_to_batch), tmp,
        backup_suffix="__pre_consolidate",
    )
    for i in ids[:-1]:
        remove_dir(spark, shard_path(sketch_path, i))
    return {
        "batches_merged": len(ids),
        "groups": n_groups,
        "consolidated_batch_id": up_to_batch,
    }


# ---------------------------------------------------------------------------
# C30: streaming count-min ingest (the B134 family's stream twin)
# ---------------------------------------------------------------------------

def countmin_ingest_stream(
    sdf: DataFrame,
    keys: list[str],
    item_col: str,
    sketch_path: str,
    checkpoint_path: str,
    depth: int = 4,
    width: int = 1024,
) -> StreamingQuery:
    """Maintain a persisted per-(keys, batch) count-min counter table
    from a stream — the frequency analog of
    :func:`sketch_ingest_stream`. Each batch is one combinable
    aggregation to ≤ depth x width counter rows and one shard
    overwrite.

    Exactly-once nuance vs the HLL table: CMS counters are SUMS, so
    double-merging a replayed batch WOULD double-count (HLL union is
    idempotent; addition is not) — the shard overwrite carries the
    weight here, and the build is deterministic for a batch multiset.
    """
    from nass_summary_spark.operators.countmin import build_countmin

    def build_and_append(batch_df: DataFrame, batch_id: int) -> None:
        shard = build_countmin(
            batch_df, keys, item_col, depth=depth, width=width
        )
        write_shard(shard, sketch_path, batch_id)

    return start_batches(sdf, build_and_append, checkpoint_path)


def rollup_stream_countmin(
    spark: SparkSession, sketch_path: str, by: list[str]
) -> DataFrame:
    """Merge the persisted per-batch counter shards up to ``by`` —
    ADDITION over counter rows only, never raw data."""
    from nass_summary_spark.operators.countmin import merge_countmin

    shards = read_shards(spark, sketch_path)
    return merge_countmin(shards.drop("batch_id"), by)


# ---------------------------------------------------------------------------
# C31: streaming quantile-sketch ingest (the B129 family's stream twin)
# ---------------------------------------------------------------------------

def quantile_ingest_stream(
    sdf: DataFrame,
    keys: list[str],
    value_col: str,
    sketch_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Maintain a persisted per-(keys, batch) log-histogram table
    from a stream — the rank analog of :func:`sketch_ingest_stream`
    (VERDICT r9 item 3: B114-HLL has C28, B134-CMS has C30; this
    closes the quantile table's streaming lifecycle). Each batch is
    one combinable aggregation to ≤ groups × 512 bucket rows and one
    shard overwrite.

    Exactly-once: bucket counts are SUMS like the CMS counters, so
    the shard overwrite carries replay safety (the bucket map is
    deterministic integer arithmetic per row). Merge is ADDITION
    (merge_log_histograms), so any later rollup reads only the
    bucket relation.
    """
    from nass_summary_spark.operators.quantile_sketch import (
        build_log_histogram,
    )

    def build_and_append(batch_df: DataFrame, batch_id: int) -> None:
        shard = build_log_histogram(batch_df, keys, value_col)
        write_shard(shard, sketch_path, batch_id)

    return start_batches(sdf, build_and_append, checkpoint_path)


def rollup_stream_quantiles(
    spark: SparkSession,
    sketch_path: str,
    by: list[str],
    pcts: list[int],
) -> DataFrame:
    """Quantile estimates over ONLY the persisted bucket shards —
    merge by addition, then the B129 rank interpolation; the raw
    stream is never rescanned."""
    from nass_summary_spark.operators.quantile_sketch import (
        histogram_quantiles,
        merge_log_histograms,
    )

    shards = read_shards(spark, sketch_path)
    merged = merge_log_histograms(shards.drop("batch_id"), by)
    return histogram_quantiles(merged, by, pcts)


# ---------------------------------------------------------------------------
# C33: streaming SPRT monitor (the A55/B160 family's stream twin)
# ---------------------------------------------------------------------------

def sprt_ingest_stream(
    sdf: DataFrame,
    arm_col: str,
    time_col,
    success_pred,
    state_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Maintain per-(arm, period) trial/success counts from an event
    stream — the state a Wald SPRT monitor reads. Sequential testing
    is INHERENTLY a streaming concept (the whole point is deciding
    while data arrives); this twin gives the batch sprt_monitor its
    ingest path with the same merge-is-addition lifecycle as
    C30/C31: per batch one combinable (arm, period) aggregation
    written as the batch's own shard, rollup = ADDITION.

    ``time_col``: a Column mapping events to periods (e.g. epoch
    day). ``success_pred``: a boolean Column marking successes.
    """
    def build(batch_df: DataFrame, batch_id: int) -> None:
        shard = batch_df.groupBy(
            F.col(arm_col).alias("arm"),
            time_col.alias("t"),
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(success_pred.cast("int")).cast("bigint").alias("x"),
        )
        write_shard(shard, state_path, batch_id)

    return start_batches(sdf, build, checkpoint_path)


def sprt_decision_from_stream(
    spark: SparkSession,
    state_path: str,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> DataFrame:
    """The SPRT monitor over ONLY the persisted count shards: merge
    by addition up to (arm, period), then the batch
    ``sprt_monitor`` on the identical integer constants — so the
    streamed decision sequence equals the batch run over the union
    of arrivals exactly (BIGINT end to end; parity-pinned)."""
    from nass_summary_spark.operators.experiment import sprt_monitor

    shards = read_shards(spark, state_path)
    merged = shards.groupBy("arm", "t").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("x"),
    )
    return sprt_monitor(
        merged, "arm", "t", "n", "x", p0, p1, alpha=alpha, beta=beta
    )
