#!/usr/bin/env python
"""Skew stress for the dedup family (SCALING.md evidence).

Synthesizes a skewed twin of the sf0.1 documents table — a fixed
12-word boilerplate sentence appended to 30% of docs, so its ~10
shingles each hit df ≈ 1500 (vs max df 25 in the base corpus) — the
heavy-tail shape real web corpora have (headers, licenses, nav
text). Then runs each dedup operator on base vs skewed and records:

* wall time (steady-state, min of 2),
* the heaviest stage's median and MAX task time (status REST API
  taskSummary) — the reducer-imbalance signal: a skew-unsafe plan
  shows one straggler task absorbing the hot key.

Usage: python tools/skew_stress.py [--out SCALING_SKEW.json]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from nass_summary_spark.functions.text import ngrams_from_words, words  # noqa: E402
from nass_summary_spark.operators.bloom import bloom_semi_join  # noqa: E402
from nass_summary_spark.operators.dedup import (  # noqa: E402
    containment_pairs,
    duplicated_spans,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from nass_summary_spark.operators.fuzzy import fuzzy_join  # noqa: E402
from nass_summary_spark.operators.sketches import heavy_hitters  # noqa: E402
from nass_summary_spark.session import get_spark  # noqa: E402

UI_PORT = int(os.environ.get("SPARK_GRAFT_UI_PORT", "4048"))
BOILER = (
    "this content is provided under the standard license terms please "
    "review carefully before use"
)


def _api(spark, path: str):
    app = spark.sparkContext.applicationId
    url = f"http://localhost:{UI_PORT}/api/v1/applications/{app}{path}"
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


def _stage_ids(spark) -> set[tuple[int, int]]:
    return {
        (s["stageId"], s["attemptId"])
        for s in _api(spark, "/stages?status=complete")
    }


def _heaviest_stage_tasks(spark, before: set[tuple[int, int]]) -> dict:
    """Median/max task runtime of the heaviest NEW stage since
    ``before`` — the reducer-imbalance probe."""
    stages = [
        s
        for s in _api(spark, "/stages?status=complete")
        if (s["stageId"], s["attemptId"]) not in before
    ]
    if not stages:
        return {}
    heavy = max(stages, key=lambda s: s.get("executorRunTime", 0))
    summary = _api(
        spark,
        f"/stages/{heavy['stageId']}/{heavy['attemptId']}/taskSummary"
        "?quantiles=0.5,1.0",
    )
    med, mx = summary["executorRunTime"]
    return {
        "stage": heavy["name"].split(" at ")[0],
        "n_tasks": heavy.get("numCompleteTasks"),
        "task_ms_median": round(med),
        "task_ms_max": round(mx),
    }


def run_case(spark, name: str, fn, df) -> dict:
    best, probe = None, {}
    for _ in range(2):
        before = _stage_ids(spark)
        t0 = time.perf_counter()
        n = fn(df).count()
        dt = time.perf_counter() - t0
        if best is None or dt < best:
            best = dt
            probe = _heaviest_stage_tasks(spark, before)
    out = {"wall_sec": round(best, 2), "rows": n, **probe}
    print(f"# {name}: {out}", file=sys.stderr)
    return out


def _incremental_case(spark, d):
    import tempfile

    from nass_summary_spark.operators.dedup_index import (
        build_minhash_index,
        incremental_minhash_pairs,
    )

    path = os.path.join(
        tempfile.gettempdir(), f"skew_minhash_idx_{os.getpid()}"
    )
    build_minhash_index(
        d.where(F.col("doc_id") % 4 != 0), "doc_id", "text", path,
        n=3, num_perm=32, bands=8,
    )
    return incremental_minhash_pairs(
        spark, d.where(F.col("doc_id") % 4 == 0), "doc_id", "text", path,
        n=3, num_perm=32, bands=8, threshold=0.35,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "skew_stress",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_configs={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    skewed = base.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 < 3, F.concat(F.col("text"), F.lit(" " + BOILER))
        ).otherwise(F.col("text")),
    )
    base = base.persist()
    skewed = skewed.persist()
    print(f"# base docs={base.count()} skewed docs={skewed.count()}", file=sys.stderr)

    ops = {
        "jaccard_prefix": lambda d: ngram_jaccard_pairs(
            d, "doc_id", "text", n=3, threshold=0.2
        ),
        "minhash_lsh": lambda d: minhash_lsh_pairs(
            d, "doc_id", "text", n=3, num_perm=32, bands=8, threshold=0.35
        ),
        # B100: the persisted-index probe has the same (band, bucket)
        # join shape as minhash_lsh but against parquet — a
        # boilerplate-hot batch must not turn the index join into a
        # straggler. Build + probe both inside the measured case (the
        # daily cycle's real cost).
        "incremental_probe": lambda d: _incremental_case(spark, d),
        "simhash": lambda d: simhash_pairs(
            d, "doc_id", "text", max_hamming=3, bands=4
        ),
        # the boilerplate's bigrams are exactly the hot items a
        # frequent-items sweep must absorb in O(k) memory
        "heavy_hitters": lambda d: heavy_hitters(
            d.select(F.explode(ngrams_from_words(words("text"), 2)).alias("item")),
            "item", support_num=1, support_den=800, mg_counters=900,
        ),
        # asymmetric containment: the boilerplate makes its ~13
        # shingles hit df ≈ 1500 — a one-sided prefix filter that
        # leaked high-df shingles into the candidate join would
        # collapse onto one reducer here
        "containment": lambda d: containment_pairs(
            d, "doc_id", "text", n=3, threshold=0.7
        ),
        # deletion-neighborhood blocking under a HOT VALUE: in the
        # skewed twin 30% of these probes are the identical string
        # (the boilerplate tail), the duplication shape of a common
        # name in an entity-resolution corpus. fuzzy_join blocks on
        # DISTINCT values, so the hot value must enter candidate
        # generation exactly once — a per-row variant explode would
        # square the duplication factor on one join key. (Sampled to
        # 1/8 of docs: the true self-match output of the hot value
        # is quadratic in its multiplicity by definition; the probe
        # measures the candidate stage, not output materialization.)
        "fuzzy_join": lambda d: (
            lambda probes: fuzzy_join(
                probes, probes.select(
                    F.col("pid").alias("rid"), F.col("probe").alias("rval")
                ), "pid", "probe", "rid", "rval",
            )
        )(d.where(F.col("doc_id") % 8 == 0)
           .select(F.col("doc_id").alias("pid"),
                   F.substring("text", -12, 12).alias("probe"))),
        # substring-span detection under boilerplate: in the skewed
        # twin the 40-char grams of the shared license sentence each
        # appear in ~1500 docs, so the `dup_h` count>1 aggregation
        # sees hot hash keys; the partial (map-side) agg must absorb
        # them — a plan that shuffled raw (id, pos, hash) rows to a
        # single reducer per hot hash would straggle here
        "duplicated_spans": lambda d: duplicated_spans(
            d, "doc_id", "text", gram_chars=40
        ),
        # Bloom semi join with a HOT PROBE KEY: every boilerplate-
        # carrying doc probes with the same 12-char key (30% of the
        # fact side collapses onto one value in the skewed twin).
        # The pre-filter is a map-side broadcast test and the semi
        # join build side is DISTINCT keys, so the hot key must cost
        # one build row and zero reducer concentration — a plan
        # exchanging the fact side by key would pile 30% of rows on
        # one task here
        "bloom_semi_join": lambda d: bloom_semi_join(
            d.select("doc_id", F.substring("text", -12, 12).alias("k")),
            d.where(F.col("doc_id") % 5 == 0).select(
                F.substring("text", -12, 12).alias("k")
            ),
            "k",
            "k",
        ),
    }
    report: dict[str, dict] = {}
    for name, fn in ops.items():
        report[name] = {
            "base": run_case(spark, f"{name}/base", fn, base),
            "skewed": run_case(spark, f"{name}/skewed", fn, skewed),
        }

    # cdc_apply under a HOT KEY: 1M-change logs, uniform (20 changes
    # per key) vs 50% of all changes on ONE key — the boilerplate
    # shape of a changelog where one entity churns constantly. The
    # shipped max_by plan partial-aggregates the hot key map-side;
    # the row_number-window formulation (the naive MERGE plan) must
    # co-locate all 500k hot-key rows in one task. Both twins run
    # through run_case so max/median task times land in the JSON.
    from pyspark.sql import Window

    from nass_summary_spark.operators.merge import cdc_apply

    snap = spark.range(50_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    ).persist()
    n_changes = 8_000_000
    uniform = spark.range(n_changes).select(
        (F.col("id") % 50_000).alias("k"),
        (F.col("id") % 89).alias("v"),
        (F.col("id") + 1).alias("seq"),
        F.when(F.col("id") % 7 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
    ).persist()
    hot = spark.range(n_changes).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id") % 50_000)
        .alias("k"),
        (F.col("id") % 89).alias("v"),
        (F.col("id") + 1).alias("seq"),
        F.when(F.col("id") % 7 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
    ).persist()
    print(f"# cdc changelogs {uniform.count()} / {hot.count()}", file=sys.stderr)

    def cdc_window_plan(ch):
        allr = snap.select("k", "v", F.lit(0).cast("long").alias("seq"),
                           F.lit("I").alias("op")).unionByName(
            ch.select("k", "v", F.col("seq").cast("long"), "op"))
        w = Window.partitionBy("k").orderBy(F.col("seq").desc())
        return (allr.withColumn("rn", F.row_number().over(w))
                .where((F.col("rn") == 1) & (F.col("op") != "D"))
                .select("k", "v"))

    report["cdc_apply_maxby"] = {
        "base": run_case(spark, "cdc_apply_maxby/base",
                         lambda ch: cdc_apply(snap, ch, ["k"], ["v"]), uniform),
        "skewed": run_case(spark, "cdc_apply_maxby/skewed",
                           lambda ch: cdc_apply(snap, ch, ["k"], ["v"]), hot),
    }
    report["cdc_apply_window"] = {
        "base": run_case(spark, "cdc_apply_window/base", cdc_window_plan, uniform),
        "skewed": run_case(spark, "cdc_apply_window/skewed", cdc_window_plan, hot),
    }

    # record_linkage_fs under a HOT BLOCK KEY (r7, VERDICT r6 item 5):
    # per-block candidate work is |L_b|x|R_b|, so one hot block
    # degenerates toward quadratic on that block. 100k rows/side over
    # 1000 uniform blocks (≈100x100 pairs each) vs a twin where every
    # 25th row ALSO lands in block 0 (≈4k x 4k = 16M pairs in one
    # block). Broadcast joins hide the skew (hot pairs spread over the
    # probe side's partitions), so the shuffle-join regime is FORCED
    # (autoBroadcastJoinThreshold=-1) — and AQE's skew split does NOT
    # fire there: the hot block is ~120 KB of shuffle bytes, far under
    # the 256 MB split threshold, while its pair count explodes. The
    # third twin applies the deterministic salt (operators/linkage.py
    # salt=16) that spreads the hot block's pair work over 16 tasks.
    from nass_summary_spark.operators.linkage import fellegi_sunter_scores

    def mk_side(tag, hot):
        blk = (
            F.when(F.col("id") % 25 == 0, F.lit(0))
            .otherwise(F.col("id") % 1000)
            if hot
            else (F.col("id") % 1000)
        )
        return spark.range(100_000).select(
            F.col("id").alias(f"{tag}id"),
            blk.alias("blk"),
            (F.col("id") % 7).alias("f1"),
            (F.col("id") % 3 == 0).alias("f2"),
        )

    fs_m = {"f1": 0.9, "f2": 0.8}

    def linkage_case(hot, s):
        def run(_):
            return fellegi_sunter_scores(
                mk_side("l", hot), mk_side("r", hot), "lid", "rid",
                "blk", fs_m, threshold=-100.0, salt=s,
            )

        return run

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        report["record_linkage_fs"] = {
            "base": run_case(
                spark, "record_linkage_fs/base", linkage_case(False, 1), None
            ),
            "skewed": run_case(
                spark, "record_linkage_fs/hot_block", linkage_case(True, 1), None
            ),
            "skewed_salted": run_case(
                spark,
                "record_linkage_fs/hot_block_salt16",
                linkage_case(True, 16),
                None,
            ),
        }
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    out_path = sys.argv[sys.argv.index("--out") + 1] if "--out" in sys.argv else None
    payload = json.dumps(report, indent=1)
    if out_path:
        with open(out_path, "w") as f:
            f.write(payload + "\n")
    print(payload)


if __name__ == "__main__":
    main()
