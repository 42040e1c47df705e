"""Streaming ANN ingest (SURVEY.md §2 C24) — the stream twin of
operators/ann_index.py, completing the persisted-index pair the same
way dedup_stream.py completes dedup_index.py.

Each micro-batch of arriving vectors is (1) probed against the
persisted IVF index — emitting, for every new vector, its top-k
nearest neighbors among everything that arrived BEFORE it (the
novelty/near-dup readout an embedding ingest pipeline wants at write
time) — and (2) appended to the index with the STORED quantizer, so
the next batch sees this one. State lives on disk as the index;
executors hold nothing between batches.

The coarse quantizer is fixed at build time (``build_ann_index`` on
the day-0 corpus — Lloyd needs data, so unlike the MinHash twin the
index cannot bootstrap empty). Re-train + re-encode offline when
drift accumulates, like any IVF deployment.

Exactly-once (shard layout and replay rule: streaming/sink.py): the
neighbors are a shard table and the index append runs once per batch
id (``sink.apply_once``). What is specific here: the probe is
replay-proof by construction — a replayed batch's own vectors may
already be in the index, so the probe EXCLUDES the batch's ids from
the candidate side (anti-join, batch-sized broadcast).

Parity evidence (tests/test_streaming.py): the stream over any batch
split equals applying the batch operators sequentially — and after
the stream drains, a full probe of the final index equals brute
force over the union corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nass_summary_spark.operators.ann_index import (
    ann_index_probe,
    extend_ann_index,
)
from nass_summary_spark.streaming.sink import (
    apply_once,
    start_batches,
    write_shard,
)


def ann_ingest_stream(
    sdf: DataFrame,
    index_path: str,
    neighbors_path: str,
    checkpoint_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> StreamingQuery:
    """Start the probe-then-extend cycle over a vector stream.
    Neighbors land in the shard table ``neighbors_path`` (read it
    with ``sink.read_shards``); the index grows under ``index_path``.
    ``build_ann_index`` must have run on a seed corpus first."""

    def probe_and_extend(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_ids = batch_df.select(F.col(id_col).alias("id")).distinct()
        # replay-proofing: candidates that ARE this batch (present
        # only if a crash-replay already appended it) are excluded
        # BEFORE ranking, so the replayed probe is row-identical
        neighbors = ann_index_probe(
            spark, batch_df, id_col, vec_col, index_path,
            k=k, nprobe=nprobe, exclude_ids=new_ids,
        )
        write_shard(neighbors, neighbors_path, batch_id)
        apply_once(
            spark, index_path, batch_id,
            lambda: extend_ann_index(batch_df, id_col, vec_col, index_path),
        )

    return start_batches(sdf, probe_and_extend, checkpoint_path)
