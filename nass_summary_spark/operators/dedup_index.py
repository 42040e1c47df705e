"""Persisted MinHash index + incremental near-dup dedup.

The one production shape the per-run dedup family (operators/dedup.py
B1-B4) does not cover: a 100 TB corpus is deduped ONCE, then every
daily ingest batch must be checked against it WITHOUT rescanning the
historical text. The reference's staging tables solve the analogous
problem for exact keys (``nass.mk`` load/refresh); this module is the
near-dup generalization of that incremental posture (and of the B38
cross-corpus broadcast-digest pattern):

* :func:`build_minhash_index` — compute signatures + LSH band
  entries once and persist them as a parquet index. The band table
  is partitioned by ``band`` and range-clustered on ``bucket`` (the
  probe join's key), so a probe scan prunes to one band partition
  and, within it, to the row groups whose bucket-range statistics
  overlap the batch — the layout a daily probe against a
  billion-entry index needs. The index stores k bigints + bands
  hashes per document: ~300 bytes/doc regardless of document size,
  i.e. a ~0.3 TB index for a 100 TB corpus — rescanning 0.3% of the
  data per ingest day instead of 100%.
* :func:`incremental_minhash_pairs` — signature the NEW batch only,
  band-join it against the index (new x history) and against itself
  (new x new), verify candidates with the estimated Jaccard from the
  stored signatures. Deterministic hashing (operators/dedup.py
  ``minhash_perms``) makes this EXACTLY equal to re-running
  :func:`~nass_summary_spark.operators.dedup.minhash_lsh_pairs` from
  scratch on the union, restricted to pairs touching the new batch —
  the parity pytest and the driver oracle both pin that identity.
* :func:`extend_minhash_index` — append the batch's signatures and
  band entries, so tomorrow's ingest probes today's documents too.

Streaming twin: ``streaming/dedup_stream.py`` drives these per
micro-batch via ``foreachBatch``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nass_summary_spark.operators.dedup import (
    _CacheHandle,
    band_entries,
    estimated_jaccard,
    minhash_signatures,
)


def _paths(index_path: str) -> tuple[str, str]:
    return f"{index_path}/sigs", f"{index_path}/bands"


def _write_params(
    spark: SparkSession, index_path: str, n: int, num_perm: int, bands: int
) -> None:
    from nass_summary_spark.functions.smalldf import local_struct_df

    local_struct_df(
        spark,
        "n int, num_perm int, bands int",
        [(int(n), int(num_perm), int(bands))],
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/params")


def _check_params(
    spark: SparkSession, index_path: str, n: int, num_perm: int, bands: int
) -> None:
    """Probing/extending with hash parameters that differ from the
    build silently corrupts similarity estimates (a 64-perm batch sig
    zip_with'd against stored 32-perm sigs null-pads and roughly
    halves every est_jaccard) — so the index records its parameters
    and mismatches fail loudly."""
    row = spark.read.parquet(f"{index_path}/params").first()
    got = (row["n"], row["num_perm"], row["bands"])
    want = (int(n), int(num_perm), int(bands))
    if got != want:
        raise ValueError(
            f"minhash index at {index_path} was built with "
            f"(n, num_perm, bands)={got}, called with {want}"
        )


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    n_files: int = 8,
) -> None:
    """Signature the corpus once and persist the index at
    ``index_path`` (``sigs/``: (id, sig); ``bands/``: (id, band,
    bucket) partitioned by band, range-clustered on bucket)."""
    sig_path, band_path = _paths(index_path)
    _write_params(df.sparkSession, index_path, n, num_perm, bands)
    sig = minhash_signatures(df, id_col, text_col, n=n, num_perm=num_perm)
    # the band entries derive from the signatures; persist so the
    # shingle scan runs once for both writes, then release
    sig = sig.persist()
    try:
        sig.write.mode("overwrite").parquet(sig_path)
        (
            band_entries(sig, num_perm, bands)
            .repartitionByRange(n_files, F.col("band"), F.col("bucket"))
            .sortWithinPartitions("band", "bucket")
            .write.mode("overwrite")
            .partitionBy("band")
            .parquet(band_path)
        )
    finally:
        sig.unpersist()


def extend_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
) -> None:
    """Append a new batch's signatures + band entries to an existing
    index (the post-probe maintenance step of the daily cycle).
    Appended band files are not range-clustered against the existing
    ones — run the compaction pass (sources/writers.py
    ``compact_table``) on the band table periodically to restore the
    clustered layout, exactly like any streaming-accreted sink."""
    sig_path, band_path = _paths(index_path)
    _check_params(df.sparkSession, index_path, n, num_perm, bands)
    sig = minhash_signatures(df, id_col, text_col, n=n, num_perm=num_perm)
    sig = sig.persist()
    try:
        sig.write.mode("append").parquet(sig_path)
        (
            band_entries(sig, num_perm, bands)
            .write.mode("append")
            .partitionBy("band")
            .parquet(band_path)
        )
    finally:
        sig.unpersist()


def incremental_minhash_pairs(
    spark: SparkSession,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs between a NEW ingest batch and the persisted
    index (plus pairs inside the batch itself) — without touching
    the historical corpus text.

    Candidates: the batch's band entries equi-joined against the
    index band table on (band, bucket) — partition-pruned to each
    band and row-group-pruned by the bucket clustering — UNION the
    batch self-join. Verification: estimated Jaccard over stored
    signatures, identical arithmetic to
    :func:`~nass_summary_spark.operators.dedup.minhash_lsh_pairs`.
    Output ``(id_a, id_b, est_jaccard)`` with ``id_a < id_b`` —
    exactly the from-scratch union pairs that touch the batch.

    Ids must be globally unique across batch + index (the daily-
    ingest contract); a doc present in both relations would pair
    with itself at est_jaccard 1.0 and is filtered by ``id_a <
    id_b`` ordering.

    The batch's signature relation and the candidate-pair set are
    persisted (each read more than once); they stay cached after
    return because the returned frame still references them — the
    driver adapter's cache hygiene (or the streaming harness, which
    unpersists via the handle variant) reclaims them. Index
    signatures are semi-filtered to the candidate id set (broadcast)
    before the verify join, so verification reads candidate
    signatures rather than all-history signatures, and de-duplicated
    by id, so even duplicate index rows (the documented append/marker
    crash window) cannot duplicate output pairs.
    """
    pairs, _sig = _incremental_minhash_pairs_with_handle(
        spark, new_df, id_col, text_col, index_path,
        n=n, num_perm=num_perm, bands=bands, threshold=threshold,
    )
    return pairs


def _incremental_minhash_pairs_with_handle(
    spark: SparkSession,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> "tuple[DataFrame, _CacheHandle]":
    """:func:`incremental_minhash_pairs` plus a handle over every
    relation the probe persisted (batch signatures + candidate
    pairs), so a caller that MATERIALIZES the pairs (the streaming
    foreachBatch writes them to parquet every micro-batch) can
    ``handle.unpersist()`` afterwards instead of leaking cached
    relations per batch into the block manager."""
    sig_path, band_path = _paths(index_path)
    _check_params(spark, index_path, n, num_perm, bands)
    new_sig = minhash_signatures(
        new_df, id_col, text_col, n=n, num_perm=num_perm
    ).persist()
    new_bands = band_entries(new_sig, num_perm, bands)

    # explicit schemas (derived from the batch's own relations): an
    # index built from an empty corpus has no parquet footers to
    # infer from, and a bootstrap-from-empty index is a legal day-0
    # state for the streaming twin
    new_ids = new_df.select(F.col(id_col).alias("id")).distinct()
    # anti-join the batch's own ids out of the index side: if this
    # exact batch was ALREADY appended (a foreachBatch crash-replay —
    # streaming/dedup_stream.py), the probe still returns the
    # identical result instead of pairing the batch with its stored
    # self. The id set is batch-sized (broadcast anti-join); in the
    # normal path it removes nothing.
    idx_bands = (
        spark.read.schema(new_bands.schema)
        .parquet(band_path)
        .join(F.broadcast(new_ids), "id", "left_anti")
    )
    idx_sigs = (
        spark.read.schema(new_sig.schema)
        .parquet(sig_path)
        .join(F.broadcast(new_ids), "id", "left_anti")
    )

    nb = new_bands.alias("nb")
    ib = idx_bands.alias("ib")
    cross = (
        nb.join(
            ib,
            (F.col("nb.band") == F.col("ib.band"))
            & (F.col("nb.bucket") == F.col("ib.bucket"))
            & (F.col("nb.id") != F.col("ib.id")),
        )
        .select(
            F.least(F.col("nb.id"), F.col("ib.id")).alias("id_a"),
            F.greatest(F.col("nb.id"), F.col("ib.id")).alias("id_b"),
        )
    )
    a = new_bands.alias("a")
    b = new_bands.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    # candidates are batch-bounded (each batch doc pairs with at most
    # bands × bucket-mates), so the relation is persisted once and
    # reused: by the verify joins below AND by the candidate-id semi
    # filter — without the persist the band probe would execute twice
    # (once materializing the broadcast id set, once in the pair plan)
    cand = (
        cross.unionByName(within).dropDuplicates(["id_a", "id_b"]).persist()
    )
    # materialize the cache EAGERLY: the candidate-id broadcast below
    # references cand through BOTH union branches, and broadcast
    # futures race the main plan — against a lazy persist each build
    # re-executes the whole band-probe pipeline independently (the
    # racing-broadcast-rebuild disease; profile showed the same
    # probe stage repeated ~6x). One count of a batch-bounded
    # relation buys single execution.
    cand.count()

    # VERDICT r6 item 3: verification must read CANDIDATE signatures,
    # not all-history signatures. The index sig relation grows with
    # the corpus (~300 B/doc → ~0.3 TB at 100 TB of text), while the
    # candidate id set is batch-bounded — so semi-filter the stored-
    # sig scan by the candidate ids under an explicit broadcast.
    # Whole-stage then drops non-candidate rows at the scan, and the
    # verify join's build/stream volumes are candidate-sized instead
    # of history-sized. (For batches too large to broadcast their
    # candidate id set, operators/dedup.py bloom_semi_join is the
    # same filter at bloom cost — the daily-ingest contract here is
    # batch ≪ corpus, i.e. broadcastable.)
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    idx_sigs_needed = idx_sigs.join(F.broadcast(cand_ids), "id", "left_semi")

    # signatures for verification come from EITHER side: the batch's
    # fresh ones or the index's stored ones (never the corpus text).
    # The index side de-duplicates by id: duplicate stored rows (the
    # append/marker crash window) would otherwise fan out through
    # these joins and duplicate every affected pair FOREVER, not just
    # in the replayed batch. Signatures of equal id are identical by
    # construction, so any representative is correct.
    all_sigs = idx_sigs_needed.dropDuplicates(["id"]).unionByName(new_sig)
    sig_a = all_sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = all_sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    # the verify relation is candidate-bounded by construction (the
    # semi filter above caps it at the candidate id set — the same
    # set already broadcast as cand_ids, ~300 B/row of signatures),
    # so broadcast BOTH sig sides explicitly: the persisted/semi-
    # filtered relations carry no stats and the planner otherwise
    # falls back to two shuffle joins of the pair set (guide §3.1).
    verified = cand.join(F.broadcast(sig_a), "id_a").join(
        F.broadcast(sig_b), "id_b"
    )
    pairs = (
        verified.withColumn("est_jaccard", estimated_jaccard(num_perm))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    return pairs, _CacheHandle(new_sig, cand)
