"""Streaming incremental MinHash dedup (SURVEY.md §2 C23) — the
stream twin of operators/dedup_index.py.

Each micro-batch of arriving documents is (1) probed against the
persisted MinHash index — emitting the near-dup pairs that batch
creates against everything already ingested — and (2) appended to
the index, so the NEXT batch probes this one too. ``foreachBatch``
is the right harness: the probe is a batch join against a parquet
index (no unbounded streaming state — the "state" IS the index on
disk, exactly-once-extended via the checkpointed batch id), which is
how a production ingest firehose near-dups against a 100 TB history
without keeping signatures in executor memory.

Exactly-once (shard layout and replay rule: streaming/sink.py): the
pairs are a shard table and the index append runs once per batch id
(``sink.apply_once``). What is specific here: the probe itself is
replay-proof — ``incremental_minhash_pairs`` anti-joins the batch's
own ids out of the index side, so a batch that already reached the
index probes identically.

Correctness evidence: parity with the batch operator —
tests/test_dedup_index.py pins incremental == from-scratch B3, and
tests/test_streaming.py pins this stream harness == sequentially
applying the batch operator to the same micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from nass_summary_spark.operators.dedup_index import (
    _incremental_minhash_pairs_with_handle,
    extend_minhash_index,
)
from nass_summary_spark.streaming.sink import (
    apply_once,
    start_batches,
    write_shard,
)


def minhash_dedup_stream(
    sdf: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> StreamingQuery:
    """Start the probe-then-extend cycle over a document stream.
    Pairs land in the shard table ``pairs_path`` (read it with
    ``sink.read_shards``); the index grows under ``index_path``.
    The index must exist (``build_minhash_index``, possibly on an
    empty frame) before the stream starts."""

    def probe_and_extend(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # probe first: replay-proof regardless of whether this batch
        # already reached the index (see module docstring)
        pairs, probe_handle = _incremental_minhash_pairs_with_handle(
            spark, batch_df, id_col, text_col, index_path,
            n=n, num_perm=num_perm, bands=bands, threshold=threshold,
        )
        try:
            write_shard(pairs, pairs_path, batch_id)
            apply_once(
                spark, index_path, batch_id,
                lambda: extend_minhash_index(
                    batch_df, id_col, text_col, index_path,
                    n=n, num_perm=num_perm, bands=bands,
                ),
            )
        finally:
            # the pair write materialized every consumer of the
            # cached batch signatures + candidate set — release them,
            # or a long-running stream leaks cached relations per
            # micro-batch
            probe_handle.unpersist()

    return start_batches(sdf, probe_and_extend, checkpoint_path)
