"""C32: streaming domain/host gate — the stream twin of
operators/domain.py (B153), for ingest-time curation: documents
arrive in micro-batches and the per-host document cap must hold
ACROSS batches, so the gate carries state — a persisted per-host
count table, kept as a shard table of per-batch count DELTAS
(streaming/sink.py).

Cap semantics under streaming are ARRIVAL-ORDER by nature: the first
``max_per_host`` documents a host ships are kept, later ones are
capped (within a batch the order is the batch operator's
deterministic hash order, so a replayed batch reproduces its exact
dispositions). The batch operator ranks one static corpus by hash
order globally; the stream ranks by (batch, hash-within-batch) —
the parity pytest pins the stream output row-for-row against an
independent sequential replay of that definition.

Exactly-once: the gated output and the host-count delta are both
shard tables; prior counts are read only from deltas with id < N, so
a crash-replay of batch N sees the counts its first attempt saw and
never counts itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nass_summary_spark.operators.domain import extract_host
from nass_summary_spark.operators.sampling import id_bucket
from nass_summary_spark.streaming.sink import (
    read_shards,
    shard_ids,
    start_batches,
    write_shard,
)

_STATE_SCHEMA = "host string, cnt bigint"


def _prior_counts(
    spark: SparkSession, state_path: str, batch_id: int
) -> DataFrame:
    ids = [i for i in shard_ids(spark, state_path) if i < batch_id]
    if not ids:
        return spark.createDataFrame([], _STATE_SCHEMA)
    return (
        read_shards(spark, state_path, ids)
        .groupBy("host")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def domain_gate_stream(
    sdf: DataFrame,
    url_col: str,
    id_col: str,
    blocklist: DataFrame,
    max_per_host: int,
    out_path: str,
    state_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Gate a document stream host-by-host with a cross-batch cap.

    Per batch: host extraction (map-only), broadcast blocklist join,
    within-batch deterministic rank per host (the B20 hash order),
    shifted by the host's persisted prior count — then one overwrite
    of the gated output and one of the count delta, each a shard
    table (read the output with ``sink.read_shards``). State is
    host-sized; the corpus never rescans.
    """
    cap = int(max_per_host)
    b = (
        blocklist.select(
            F.lower(F.trim(F.col(blocklist.columns[0]))).alias("host")
        )
        .distinct()
        .withColumn("__blocked", F.lit(1))
    )

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        staged = batch_df.withColumn(
            "host", extract_host(F.col(url_col))
        ).join(F.broadcast(b), "host", "left")
        w = Window.partitionBy("host").orderBy(
            id_bucket(id_col).asc(), F.col(id_col).asc()
        )
        prior = _prior_counts(spark, state_path, batch_id)
        ranked = (
            staged.withColumn("__rn", F.row_number().over(w))
            .join(
                F.broadcast(prior.withColumnRenamed("cnt", "__prior")),
                "host",
                "left",
            )
            .fillna({"__prior": 0})
            .withColumn(
                "host_rank",
                (F.col("__prior") + F.col("__rn")).cast("bigint"),
            )
        )
        gated = ranked.withColumn(
            "disposition",
            F.when(F.col("__blocked") == 1, F.lit("blocked"))
            .when(F.col("host_rank") > cap, F.lit("capped"))
            .otherwise(F.lit("kept")),
        ).drop("__blocked", "__rn", "__prior")
        write_shard(gated, out_path, batch_id)
        delta = staged.groupBy("host").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        write_shard(delta, state_path, batch_id)

    return start_batches(sdf, gate_batch, checkpoint_path)
