#!/usr/bin/env python
"""10× replication check for the r4 operators (SCALING.md evidence).

Replicates the sf0.1 tables 10× with DISJOINT id spaces (documents
get a per-replica tag token so the corpus is near-dup-realistic, not
identical; graph node ids shift per replica so components/triangles
replicate instead of merging) and measures each operator on 1× vs
10×.  Near-linear growth (ratio ≲ 10, usually far less while
per-query overhead dominates) is the signature the plan would
survive a real scale-up; superlinear flags pair explosion.

Usage: python tools/replication_check.py
Prints a markdown table to stdout (paste into SCALING.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from nass_summary_spark.session import get_spark  # noqa: E402

REPLICAS = 10


def replicate_docs(docs, r):
    out = None
    for i in range(r):
        rep = docs.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" replica{i}")).alias("text"),
            "lang", "source",
        )
        out = rep if out is None else out.unionByName(rep)
    return out


def replicate_fact(df, key, r, shift=100_000_000):
    out = None
    for i in range(r):
        rep = df.withColumn(key, F.col(key) + F.lit(i * shift))
        out = rep if out is None else out.unionByName(rep)
    return out


def _incremental_cycle(spark, d):
    """Build the MinHash index on 75% of the corpus, probe the other
    25% — the full B100 daily cycle at the replica scale."""
    import tempfile

    from nass_summary_spark.operators.dedup_index import (
        build_minhash_index,
        incremental_minhash_pairs,
    )

    path = os.path.join(
        tempfile.gettempdir(), f"repl_minhash_idx_{os.getpid()}"
    )
    build_minhash_index(
        d.where(F.col("doc_id") % 4 != 0), "doc_id", "text", path,
        n=3, num_perm=32, bands=8,
    )
    return incremental_minhash_pairs(
        spark, d.where(F.col("doc_id") % 4 == 0), "doc_id", "text", path,
        n=3, num_perm=32, bands=8, threshold=0.35,
    )


def _em_fit(o):
    """B104 EM fit over replicated orders: the block key carries the
    replica tag (o_orderkey // 100M), so each replica is its own
    block universe — per-block size constant, block count 10×, the
    blocked join stays linear."""
    from nass_summary_spark.operators.linkage import (
        blocked_agreements,
        fellegi_sunter_em,
    )

    def half(par, idn):
        return o.where(F.col("o_orderkey") % 2 == par).select(
            F.col("o_orderkey").alias(idn),
            (
                (F.col("o_orderkey") / 100_000_000).cast("long") * 1000
                + F.col("o_custkey") % 500
            ).alias("blk"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("prio"),
        )

    cand = blocked_agreements(
        half(1, "lid"), half(0, "rid"), "lid", "rid", "blk",
        ["status", "prio"],
    )
    return fellegi_sunter_em(cand, ["status", "prio"], n_iter=5)


def _ivfpq_cycle(spark, e):
    """The full B105 daily cycle: build the persisted IVFPQ index on
    the corpus, then probe a fixed query set — at the replica scale
    the linear term is train-sample collect + encode + write."""
    import os
    import tempfile

    from nass_summary_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        ivfpq_index_probe,
    )

    path = os.path.join(
        tempfile.gettempdir(), f"repl_ivfpq_idx_{os.getpid()}"
    )
    build_ivfpq_index(
        e, "vec_id", "embedding", path, dim=64, k_cells=8, m=8,
        ksub=16, n_iter=3,
    )
    return ivfpq_index_probe(
        spark, e.where(F.col("vec_id") < 10), "vec_id", "embedding",
        path, k=5, nprobe=3,
    )


def _logreg_fit(d):
    """B106 fit over the replicated corpus: label = long-doc
    indicator, 3 iterations — the gate query's shape."""
    from nass_summary_spark.operators.classifier import logreg_train

    labeled = d.withColumn(
        "y", F.when(F.length("text") >= 300, F.lit(1)).otherwise(F.lit(0))
    )
    return logreg_train(labeled, "doc_id", "text", "y", n_iter=3)


def _union_blocking(o):
    """B108 over replicated orders: two blocking rules, both keyed
    inside the replica tag (block count 10x, per-block size const)."""
    from nass_summary_spark.operators.linkage import (
        blocked_agreements_union,
    )

    def half(par, idn):
        tag = (F.col("o_orderkey") / 100_000_000).cast("long") * 1000
        return o.where(F.col("o_orderkey") % 2 == par).select(
            F.col("o_orderkey").alias(idn),
            (tag + F.col("o_custkey") % 500).alias("blk1"),
            (tag + (F.col("o_orderkey") % 100_000_000) % 7 * 71).alias("blk2"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("prio"),
        )

    return blocked_agreements_union(
        half(1, "lid"), half(0, "rid"), "lid", "rid",
        ["blk1", "blk2"], ["status", "prio"],
    )


def _priority_sketch(d):
    from nass_summary_spark.functions.text import whitespace_token_count
    from nass_summary_spark.operators.sampling import priority_sample

    return priority_sample(
        d.select(
            "doc_id", whitespace_token_count("text").alias("nt")
        ).where(F.col("nt") > 0),
        "doc_id", "nt", k=50,
    )


def _concave_overlap(spark, sf_dir, o):
    """F6 with a 10x-replicated county side (derived from orders so
    the replica shift rides the orderkey) against the fixed L-shaped
    zone dimension."""
    from nass_summary_spark.operators.geo import (
        grid_spatial_join,
        intersection_area_general,
        point,
        rect_ring,
    )

    k = F.col("o_orderkey") % 100_000_000
    cnty = o.select(
        F.col("o_orderkey").alias("fips"),
        rect_ring(
            (k * 37) % 960, (k * 91) % 960,
            (k * 37) % 960 + 4 + k % 37, (k * 91) % 960 + 4 + k % 29,
        ).alias("county_ring"),
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    sk = F.col("s_suppkey")
    x0, y0 = (sk * 53) % 900, (sk * 67) % 900
    w, h = 40 + (sk % 61), 40 + (sk % 53)
    w2, h2 = F.floor(w / F.lit(2)), F.floor(h / F.lit(2))
    zones = s.select(
        F.concat(F.lit("z"), F.lpad(sk.cast("string"), 3, "0")).alias("cmz"),
        F.array(
            point(x0, y0), point(x0 + w, y0), point(x0 + w, y0 + h2),
            point(x0 + w2, y0 + h2), point(x0 + w2, y0 + h),
            point(x0, y0 + h),
        ).alias("zone_ring"),
    )
    cand = grid_spatial_join(zones, cnty, 64.0, "zone_ring", "county_ring")
    return cand.withColumn(
        "overlap_area",
        F.round(
            intersection_area_general(
                F.col("county_ring"), F.col("zone_ring")
            ),
            0,
        ).cast("bigint"),
    ).where(F.col("overlap_area") > 0)


def _maxsim(e):
    from nass_summary_spark.operators.similarity import maxsim_topk

    q = e.where(F.col("vec_id") < 16).withColumn(
        "qg", F.col("vec_id") % 2
    )
    return maxsim_topk(e, q, "label", "qg", "vec_id", "embedding", k=5)


def _dsir(d):
    from nass_summary_spark.operators.importance import dsir_scores

    return dsir_scores(
        d, "doc_id", "text", F.col("source").isin("src1", "src2", "src3")
    )


def _sketch_rollup(d):
    from nass_summary_spark.operators.distinct_sketch import (
        build_distinct_sketches,
        rollup_distinct,
    )

    return rollup_distinct(
        build_distinct_sketches(
            d, ["source", "lang"], "doc_id", shard=F.col("doc_id") % 4
        ),
        ["source"],
    )


def _sorted_neighborhood(o):
    from nass_summary_spark.operators.neighborhood import (
        sorted_neighborhood_pairs,
    )

    return sorted_neighborhood_pairs(
        o, "o_orderkey", ["o_orderpriority", "o_totalprice"], window=4
    )


def _bootstrap(o):
    from nass_summary_spark.operators.experiment import bootstrap_ci_mean

    return bootstrap_ci_mean(
        o, ["o_orderpriority"], "o_totalprice", "o_orderkey"
    )


def _editdist_best(o):
    from pyspark.sql import Window

    from nass_summary_spark.operators.neighborhood import (  # noqa: F401
        global_rank,
    )

    # replica-tagged blocks (count 10x, size const) over synthesized
    # order-name strings: real per-pair levenshtein work
    tag = (F.col("o_orderkey") / 100_000_000).cast("long") * 1000

    def half(par, idn, nm):
        return o.where(F.col("o_orderkey") % 2 == par).select(
            F.col("o_orderkey").alias(idn),
            (tag + F.col("o_custkey") % 500).alias("blk"),
            F.concat(
                F.lit("Order#"),
                F.lpad((F.col("o_orderkey") % 100_000_000).cast("string"),
                       9, "0"),
            ).alias(nm),
        )

    pairs = half(1, "lid", "name_l").join(half(0, "rid", "name_r"), "blk")
    kept = pairs.withColumn(
        "lev", F.levenshtein("name_l", "name_r").cast("bigint")
    ).where(F.col("lev") <= 3)
    w = Window.partitionBy("lid").orderBy("lev", "rid")
    return kept.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )


def _split_leakage(d):
    from nass_summary_spark.operators.dedup import minhash_lsh_pairs
    from nass_summary_spark.operators.sampling import deterministic_split

    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_perm=32, bands=8, threshold=0.35
    ).select("id_a", "id_b")
    assign = deterministic_split(d, "doc_id").select("doc_id", "split")
    a = assign.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    b = assign.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .groupBy(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .count()
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "replication",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_configs={"spark.sql.files.maxPartitionBytes": "4m"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs1 = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    ).persist()
    docs10 = replicate_docs(docs1, REPLICAS).persist()
    li1 = spark.read.parquet(f"{sf_dir}/lineitem.parquet").persist()
    li10 = replicate_fact(li1, "l_orderkey", REPLICAS).persist()
    orders1 = spark.read.parquet(f"{sf_dir}/orders.parquet").persist()
    orders10 = replicate_fact(orders1, "o_orderkey", REPLICAS).persist()
    print(f"# docs {docs1.count()} -> {docs10.count()}; "
          f"li {li1.count()} -> {li10.count()}; "
          f"orders {orders1.count()} -> {orders10.count()}", file=sys.stderr)

    ev1 = spark.read.parquet(f"{sf_dir}/events.parquet").persist()
    ev10 = None
    for i in range(REPLICAS):
        rep = ev1.withColumn("event_id", F.col("event_id") + F.lit(i * 100_000_000)) \
                 .withColumn("user_id", F.col("user_id") + F.lit(i * 100_000))
        ev10 = rep if ev10 is None else ev10.unionByName(rep)
    ev10 = ev10.persist()
    emb1 = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    emb10 = replicate_fact(emb1, "vec_id", REPLICAS).persist()
    print(f"# events {ev1.count()} -> {ev10.count()}; "
          f"emb {emb1.count()} -> {emb10.count()}", file=sys.stderr)

    from nass_summary_spark.functions.parsing import epoch_micros
    from nass_summary_spark.functions.text import whitespace_token_count, words
    from nass_summary_spark.operators.bloom import bloom_semi_join
    from nass_summary_spark.operators.dedup import duplicated_spans
    from nass_summary_spark.operators.graph import bfs_hops, triangle_counts
    from nass_summary_spark.operators.packing import inference_batches
    from nass_summary_spark.operators.range_join import interval_overlap_join
    from nass_summary_spark.operators.sampling import (
        hash_ring_negatives,
        shard_plan,
    )
    from nass_summary_spark.operators.sketches import grouped_topk_sketch
    from nass_summary_spark.operators.skyline import skyline_2d
    from nass_summary_spark.operators.compress import compressibility_scores
    from nass_summary_spark.operators.experiment import (
        chi_square_independence,
        mann_whitney_u,
        welch_ab_test,
        woe_iv,
    )
    from nass_summary_spark.operators.integrity import table_checksum
    from nass_summary_spark.operators.merge import cdc_apply
    from nass_summary_spark.operators.geo import (
        nearest_ring_centroid,
        rect_ring,
    )
    from nass_summary_spark.operators.sampling import id_bucket
    from nass_summary_spark.operators.stats import cusum_changepoint
    from nass_summary_spark.streaming.events import late_data_metrics_batch

    def tri_edges(o, nodes_mod):
        # shift node space per replica so triangles replicate
        return o.select(
            ((F.col("o_custkey") % nodes_mod)
             + (F.col("o_orderkey") / 100_000_000).cast("long") * 1000).alias("src"),
            ((F.col("o_orderkey") % 100_000_000 % nodes_mod)
             + (F.col("o_orderkey") / 100_000_000).cast("long") * 1000).alias("dst"),
        )

    def iv_sides(o):
        a = o.select("o_orderkey",
                     ((F.col("o_orderkey") * 3) % 5000).cast("double").alias("a_lo"))
        a = a.withColumn("a_hi", F.col("a_lo") + (F.col("o_orderkey") % 7 + 1) * 10)
        return a

    nat = spark.range(250).select(
        F.col("id").alias("nid"),
        (F.col("id") * 20 % 5000).cast("double").alias("b_lo"),
        (F.col("id") * 20 % 5000 + 45).cast("double").alias("b_hi"),
    )

    cases = {
        "duplicated_spans": lambda d, li, o: duplicated_spans(d, "doc_id", "text"),
        "shard_plan": lambda d, li, o: shard_plan(
            d.withColumn("__tok", F.size(words("text")).cast("bigint")),
            "doc_id", "__tok", n_shards=8),
        "triangle_counts": lambda d, li, o: triangle_counts(tri_edges(o, 80)),
        "bloom_semi_join": lambda d, li, o: bloom_semi_join(
            li,
            spark.read.parquet(f"{sf_dir}/part.parquet")
            .where(F.col("p_size") >= 48).select("p_partkey"),
            "l_partkey", "p_partkey"),
        "skyline": lambda d, li, o: skyline_2d(
            li.select("l_orderkey", (F.col("l_quantity")).alias("x"),
                      (F.col("l_extendedprice").cast("double")).alias("y")),
            "x", "y"),
        "interval_overlap": lambda d, li, o: interval_overlap_join(
            iv_sides(o), "a_lo", "a_hi", nat, "b_lo", "b_hi",
            bucket_width=64.0, broadcast_right=True),
        # r5 additions — ev/emb picked by the li replica tag below
        "grouped_topk_sketch": lambda d, li, o: grouped_topk_sketch(
            d.select("lang", F.explode(words("text")).alias("w")),
            "lang", "w", k=5, mg_counters=256),
        "inference_batches": lambda d, li, o: inference_batches(
            d.select("doc_id", whitespace_token_count("text").alias("nt")),
            "doc_id", "nt", rows_per_batch=32),
        "bfs_hops": lambda d, li, o: bfs_hops(
            (lambda e: e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).distinct())(li.select(
                (F.col("l_suppkey")
                 + (F.col("l_orderkey") / 100_000_000).cast("long") * 10_000_000
                 ).alias("src"),
                (F.col("l_partkey") + 1_000_000
                 + (F.col("l_orderkey") / 100_000_000).cast("long") * 10_000_000
                 ).alias("dst"))),
            li.where(F.col("l_suppkey") % 50 == 0).select(
                (F.col("l_suppkey")
                 + (F.col("l_orderkey") / 100_000_000).cast("long") * 10_000_000
                 ).alias("node")),
            "node", max_hops=4),
        # r5 session-2 additions
        "chi_square_independence": lambda d, li, o: chi_square_independence(
            d, "lang", "source"),
        "mann_whitney_u": lambda d, li, o: mann_whitney_u(
            d.select("lang", F.length("text").alias("n")),
            "lang", "n", "en", "zh"),
        "compressibility_scores": lambda d, li, o:
            compressibility_scores(d),
        "nearest_zone": lambda d, li, o: nearest_ring_centroid(
            o.select(
                "o_orderkey",
                ((F.col("o_orderkey") * 29) % 1000 + 0.5)
                .cast("double").alias("x"),
                ((F.col("o_orderkey") * 71) % 1000 + 0.5)
                .cast("double").alias("y")),
            spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
                F.concat(F.lit("z"), F.lpad(
                    F.col("s_suppkey").cast("string"), 3, "0")).alias("cmz"),
                rect_ring(
                    (F.col("s_suppkey") * 53) % 900,
                    (F.col("s_suppkey") * 67) % 900,
                    (F.col("s_suppkey") * 53) % 900 + 40 + F.col("s_suppkey") % 61,
                    (F.col("s_suppkey") * 67) % 900 + 40 + F.col("s_suppkey") % 53,
                ).alias("zone_ring")),
            key_col="cmz"),
        "table_checksum": lambda d, li, o: table_checksum(
            li, ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"],
            group_cols=["l_returnflag"]),
        "cdc_apply": lambda d, li, o: cdc_apply(
            o.select("o_orderkey", "o_orderpriority"),
            o.where(F.col("o_orderkey") % 7 == 0).select(
                "o_orderkey", F.lit("X-UPD").alias("o_orderpriority"),
                F.lit(1).alias("seq"), F.lit("U").alias("op")),
            key_cols=["o_orderkey"], payload_cols=["o_orderpriority"]),
        # r6: the full persisted-index daily cycle (build + probe)
        "dedup_incremental_lsh": lambda d, li, o: _incremental_cycle(
            spark, d),
        # r7: unsupervised EM fit — blocks carry the replica tag so
        # each replica is its own block universe (per-block size
        # constant, block count 10x -> the blocked join stays linear)
        "record_linkage_em": lambda d, li, o: _em_fit(o),
        # r8: distributed logistic-regression fit — per-iteration
        # cost is the two combinable aggregations over the persisted
        # feature relation; 10x docs -> 10x feature rows, weight
        # relation constant (<= n_buckets+1)
        "quality_classifier_train": lambda d, li, o: _logreg_fit(d),
        # r8: multi-rule blocking union — both rules carry the
        # replica tag, so per-rule block sizes stay constant and the
        # anti-condition is a projection filter (no extra shuffle)
        "record_linkage_blocked_union": lambda d, li, o:
            _union_blocking(o),
        # r8: global weighted top-k sketch — WindowGroupLimit takes
        # per-partition partial top-(k+1) before the single final
        # window, so 10x input must NOT cost 10x in the final stage
        "priority_sample": lambda d, li, o: _priority_sketch(d),
        # r8: concave-zone overlap — counties replicate 10x against a
        # fixed zone dimension; candidates grow linearly and each
        # distinct zone ring is ear-clipped once per Arrow batch
        "geo_overlap_join_concave": lambda d, li, o:
            _concave_overlap(spark, sf_dir, o),
    }
    cases["gopher_rules"] = lambda d, li, o: __import__(
        "nass_summary_spark.operators.quality_rules",
        fromlist=["gopher_rules"],
    ).gopher_rules(d, "text", "doc_id")
    cases["dsir_importance"] = lambda d, li, o: _dsir(d)
    cases["distinct_sketch_rollup"] = lambda d, li, o: _sketch_rollup(d)
    cases["sorted_neighborhood_pairs"] = lambda d, li, o: _sorted_neighborhood(o)
    cases["bootstrap_ci"] = lambda d, li, o: _bootstrap(o)

    cases["record_linkage_editdist"] = lambda d, li, o: _editdist_best(o)
    cases["split_leakage_audit"] = lambda d, li, o: _split_leakage(d)

    ev_cases = {
        "woe_iv": lambda e: woe_iv(
            e.select((F.col("user_id") % 10).cast("int").alias("cohort"),
                     (F.col("event_type") == "purchase").alias("y")),
            "cohort", "y"),
        "ab_test_lift": lambda e: welch_ab_test(
            e.groupBy("user_id").agg(
                F.sum(F.when(F.col("event_type") == "purchase",
                             F.col("value").cast("decimal(18,4)"))
                      .otherwise(F.lit(0).cast("decimal(18,4)")))
                .alias("metric"))
            .withColumn("treat", id_bucket("user_id", 2) == 1),
            "treat", "metric"),
        "cusum_changepoints": lambda e: cusum_changepoint(
            e.where(F.col("ts").isNotNull())
            .groupBy(
                "event_type",
                # epoch day via epoch_micros: NANOS/NTZ-agnostic
                F.floor(epoch_micros(F.col("ts")) / F.lit(86_400_000_000))
                .alias("day"))
            .agg(F.count(F.lit(1)).alias("v")),
            ["event_type"], "day", "v"),
        "late_data_metrics": lambda e: late_data_metrics_batch(
            e,
            F.floor(epoch_micros(F.col("ts")) / F.lit(600_000_000))
            + (F.col("user_id") % 3),
            ts_col="ts", delay_minutes=10, window_minutes=60),
    }
    emb_cases = {
        "negative_sampling": lambda e: hash_ring_negatives(
            e.where(F.col("vec_id") % 37 == 0), e, "vec_id", "vec_id",
            k=3, bucket_bits=4, join_width=2),
        # r7: the full persisted-IVFPQ daily cycle (train + encode +
        # partitioned write + probe)
        "ivfpq_index_probe": lambda e: _ivfpq_cycle(spark, e),
        # r8 session 2: MaxSim — query bag fixed, corpus 10x
        "ann_maxsim": lambda e: _maxsim(e),
    }

    # r9 session-2 additions
    from nass_summary_spark.functions.text import word_shingles
    from nass_summary_spark.operators.bpe import bpe_train_distributed
    from nass_summary_spark.operators.countmin import (
        build_countmin,
        merge_countmin,
        probe_countmin,
    )
    from nass_summary_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_join,
    )
    from nass_summary_spark.operators.encoding import dp_noisy_counts
    from nass_summary_spark.operators.experiment import (
        drift_panel,
        ks_drift,
        ucb_allocation,
    )
    from nass_summary_spark.operators.sampling import neyman_allocation
    from nass_summary_spark.operators.similarity import hard_negatives
    from nass_summary_spark.operators.stats import (
        equidepth_histogram,
        spearman_corr,
    )
    from nass_summary_spark.operators.zorder import zorder_layout

    def _countmin_cycle(li):
        sk = merge_countmin(
            build_countmin(
                li, [], "l_partkey", shard=F.col("l_orderkey") % 4
            ).drop("__shard"),
            [],
        )
        probes = (
            li.groupBy("l_partkey")
            .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
            .orderBy(F.col("true_cnt").desc(), F.col("l_partkey"))
            .limit(10)
        )
        return probe_countmin(sk, probes.select("l_partkey"), "l_partkey")

    def _dlen(d):
        return d.select("source", F.length("text").alias("n"))

    cases["ks_drift"] = lambda d, li, o: ks_drift(_dlen(d), "source", "n")
    cases["drift_panel"] = lambda d, li, o: drift_panel(
        _dlen(d), "source", "n")
    cases["spearman_corr"] = lambda d, li, o: spearman_corr(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice")
    cases["countmin_rollup"] = lambda d, li, o: _countmin_cycle(li)
    cases["prefix_filter_join"] = lambda d, li, o: prefix_filter_join(
        d.select("doc_id", F.explode(word_shingles("text", 3)).alias("tok")),
        "doc_id", "tok", 0.5)
    cases["ngram_jaccard"] = lambda d, li, o: ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.2)
    cases["bpe_merges"] = lambda d, li, o: bpe_train_distributed(
        d, "text", n_merges=6)
    cases["zorder_layout"] = lambda d, li, o: zorder_layout(
        li, F.col("l_partkey") % 1024, F.col("l_suppkey") % 1024)
    cases["equidepth_histogram"] = lambda d, li, o: equidepth_histogram(
        li, "l_extendedprice")
    cases["neyman_allocation"] = lambda d, li, o: neyman_allocation(
        _dlen(d), "source", "n", 1000)
    cases["dp_group_counts"] = lambda d, li, o: dp_noisy_counts(
        o, ["o_orderpriority"])
    ev_cases["ucb_allocation"] = lambda e: ucb_allocation(
        e, "event_type", "value")
    emb_cases["hard_negatives"] = lambda e: hard_negatives(
        e, e.where(F.col("vec_id") < 10), "vec_id", "embedding",
        "label", k=5)

    # r10 additions
    from nass_summary_spark.functions.smalldf import local_struct_df
    from nass_summary_spark.operators.behavior import kaplan_meier
    from nass_summary_spark.operators.bpe import bpe_encode_replay
    from nass_summary_spark.operators.domain import domain_gate
    from nass_summary_spark.operators.experiment import sprt_monitor
    from nass_summary_spark.operators.graph import kcore_members
    from nass_summary_spark.operators.html import html_extract
    from nass_summary_spark.operators.quality_rules import sentence_stats
    from nass_summary_spark.operators.quantile_sketch import (
        robust_center_spread,
    )
    from nass_summary_spark.operators.stats import (
        category_profile,
        gini_coefficient,
        kendall_tau,
        psi_drift,
    )

    def _wrap_html(d):
        return d.select(
            "doc_id",
            F.concat(
                F.lit("<html><head><script>var a=1;</script></head><body>"
                      "<nav><a class='m' href='/site/home/x'>Home</a> "
                      "<a class='m' href='/site/tags/x'>Tags</a></nav><p>"),
                F.regexp_replace("text", " table ", "</p><p>"),
                F.lit("</p><div id='f'>&copy; 2026</div></body></html>"),
            ).alias("html"),
        )

    def _with_urls(d):
        return d.select(
            "doc_id",
            F.concat(
                F.lit("https://www."), F.col("source"), F.lit("-"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
            ).alias("url"),
        )

    _bl = local_struct_df(
        spark, "host string", [("src1-3.example.com",)]
    )
    # merges trained ONCE on the 1x corpus (the model is fixed; the
    # replay over the scaled corpus is what the sweep measures)
    from nass_summary_spark.operators.bpe import bpe_train_distributed as _btd
    _merges10 = [
        (r["pair_left"], r["pair_right"])
        for r in _btd(docs1, "text", n_merges=6).orderBy("rank").collect()
    ]

    cases["html_extract"] = lambda d, li, o: html_extract(
        _wrap_html(d), "doc_id", "html")
    cases["domain_gate"] = lambda d, li, o: domain_gate(
        _with_urls(d), "url", "doc_id", _bl, max_per_host=100)
    cases["bpe_encode"] = lambda d, li, o: bpe_encode_replay(
        d, "doc_id", "text", _merges10)
    cases["sentence_stats"] = lambda d, li, o: sentence_stats(
        d.select("doc_id",
                 F.regexp_replace("text", " table ", ". ").alias("p")),
        "p", "doc_id")
    cases["category_profile"] = lambda d, li, o: category_profile(
        d, "source", "lang")
    cases["mad_sketch"] = lambda d, li, o: robust_center_spread(
        d.select("source", F.length("text").alias("n")), ["source"], "n")
    cases["psi_drift"] = lambda d, li, o: psi_drift(
        d.select("source", F.length("text").alias("n")),
        "source", "n", bin_width=100.0, n_bins=16)
    cases["gini_coefficient"] = lambda d, li, o: gini_coefficient(
        li.select("l_returnflag", "l_extendedprice"),
        ["l_returnflag"], "l_extendedprice")
    cases["equidepth_sketch"] = lambda d, li, o: equidepth_histogram(
        li.select(F.col("l_extendedprice").cast("bigint").alias("v")),
        "v", mode="sketch")
    # k-core over the replica-tagged orders graph: each replica is
    # its own subgraph (node space shifted), so cores replicate
    # instead of merging
    cases["kcore_members"] = lambda d, li, o: kcore_members(
        tri_edges(o, 80), "src", "dst", k=3, n_rounds=6)
    ev_cases["kendall_tau"] = lambda e: kendall_tau(
        e.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("event_type",
                 F.floor(epoch_micros(F.col("ts"))
                         / F.lit(86_400_000_000)).alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"),
             F.countDistinct("user_id").cast("bigint").alias("y")),
        ["event_type"], "x", "y")
    ev_cases["sprt_monitor"] = lambda e: sprt_monitor(
        e.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy(F.col("event_type").alias("arm"),
                 F.floor(epoch_micros(F.col("ts"))
                         / F.lit(86_400_000_000)).alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.sum((F.col("user_id") % 3 == 0).cast("int"))
             .cast("bigint").alias("x")),
        "arm", "day", "n", "x", 0.30, 0.36)
    ev_cases["kaplan_meier"] = lambda e: kaplan_meier(
        e.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("user_id",
                 F.floor(epoch_micros(F.col("ts"))
                         / F.lit(86_400_000_000)).alias("day"))
        .agg(F.min(epoch_micros(F.col("ts"))).alias("t0"),
             F.max(epoch_micros(F.col("ts"))).alias("t1"),
             F.min(F.when(F.col("event_type") == "purchase",
                          epoch_micros(F.col("ts")))).alias("tx"))
        .select((F.col("day") % 7).alias("cohort"),
                F.expr("CAST((COALESCE(tx, t1) - t0)"
                       " div 60000000 AS BIGINT)").alias("dur"),
                F.col("tx").isNotNull().cast("int").alias("ev")),
        "cohort", "dur", "ev")

    only = set(sys.argv[1:])  # optional: scope to named cases
    rows = []
    for name, fn in {
        **{k: (lambda f: lambda i: f(
            (docs1, docs10)[i], (li1, li10)[i], (orders1, orders10)[i]
        ))(v) for k, v in cases.items()},
        **{k: (lambda f: lambda i: f((ev1, ev10)[i]))(v)
           for k, v in ev_cases.items()},
        **{k: (lambda f: lambda i: f((emb1, emb10)[i]))(v)
           for k, v in emb_cases.items()},
    }.items():
        if only and name not in only:
            continue
        res = []
        for i in (0, 1):
            best, n = None, 0
            for _ in range(2):
                t0 = time.perf_counter()
                n = fn(i).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            res.append((best, n))
        (t1, n1), (t10, n10) = res
        rows.append((name, t1, n1, t10, n10, t10 / t1))
        print(f"# {name}: 1x {t1:.2f}s ({n1}) 10x {t10:.2f}s ({n10})",
              file=sys.stderr)

    print("| query | 1× sec (rows) | 10× sec (rows) | time ratio |")
    print("|---|---|---|---|")
    for name, t1, n1, t10, n10, r in rows:
        print(f"| {name} | {t1:.2f} ({n1}) | {t10:.2f} ({n10}) | {r:.2f}× |")


if __name__ == "__main__":
    main()
