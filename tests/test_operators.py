"""Operator unit tests on tiny hand-computed frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nass_summary_spark.operators.asof import asof_join
from nass_summary_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from nass_summary_spark.operators.fallback import multilevel_fallback
from nass_summary_spark.operators.merge import presence_catalog, total_and_sum_merge
from nass_summary_spark.operators.pivot import class_pivot, crosstab
from nass_summary_spark.operators.rollup import (
    leaf_rows,
    path_prefixes,
    path_rollup,
    tree_rollup_avg,
    tree_rollup_pg,
)
from nass_summary_spark.operators.similarity import knn_bruteforce, knn_lsh
from nass_summary_spark.operators.weighted import fractional_weighted_rollup


def test_path_prefixes(spark):
    df = spark.createDataFrame([(["A", "B", "C"],)], ["p"])
    got = df.select(path_prefixes("p")).collect()[0][0]
    assert got == [[], ["A"], ["A", "B"], ["A", "B", "C"]]


def test_path_rollup_sums(spark):
    df = spark.createDataFrame(
        [(["A", "X"], 1.0), (["A", "Y"], 2.0), (["B"], 4.0)], ["p", "v"]
    )
    out = path_rollup(df, "p", keys=[], aggs={"v": ("sum", "v")})
    assert out.columns == ["path", "v"]
    got = {tuple(r["path"]): r["v"] for r in out.collect()}
    assert got == {
        (): 7.0,
        ("A",): 3.0,
        ("A", "X"): 1.0,
        ("A", "Y"): 2.0,
        ("B",): 4.0,
    }


def test_leaf_rows(spark):
    df = spark.createDataFrame(
        [("k", ["A"], 1.0), ("k", ["A", "X"], 2.0), ("k", ["B"], 3.0)], ["g", "p", "v"]
    )
    leaves = {tuple(r["p"]) for r in leaf_rows(df, "p", ["g"]).collect()}
    assert leaves == {("A", "X"), ("B",)}


def test_tree_rollup_avg_of_avgs(spark):
    # leaves: A/X=1, A/Y=3, B=10 → A = avg(1,3)=2, root = avg(2,10)=6
    df = spark.createDataFrame(
        [(["A", "X"], 1.0), (["A", "Y"], 3.0), (["B"], 10.0)], ["p", "v"]
    )
    out = tree_rollup_avg(df, "p", keys=[], values=["v"], max_depth=2)
    got = {tuple(r["p"]): r["v"] for r in out.collect()}
    assert got[("A",)] == 2.0
    assert got[()] == 6.0  # avg-of-avgs, NOT avg of leaves (14/3)


def test_tree_rollup_pg_rounds_read_only_checkpoints(spark, monkeypatch):
    """Every generation after the seed is planned over the checkpointed
    levels only: no round's input reaches back to the source relation
    (bounded lineage — a generation re-deriving the source made the
    NASS rollups quadratic in depth)."""
    from nass_summary_spark.functions import fixpoint

    def scans(frame):
        leaves = frame._jdf.queryExecution().analyzed().collectLeaves()
        return {
            (leaf.nodeName(), leaf.rdd().id())
            for leaf in (leaves.apply(i) for i in range(leaves.length()))
        }

    inputs, checkpoints = [], set()
    real_round = fixpoint._round

    def spy(frame, metric):
        inputs.append(scans(frame))
        out, m = real_round(frame, metric)
        checkpoints.update(scans(out))
        return out, m

    monkeypatch.setattr(fixpoint, "_round", spy)
    df = spark.createDataFrame(
        [("k", ["A", "X"], 1.0), ("k", ["A", "Y"], 3.0), ("k", ["B"], 10.0)],
        "g string, p array<string>, v double",
    )
    out = tree_rollup_pg(df, "p", keys=["g"], values=["v"])
    got = {tuple(r["p"]): r["v"] for r in out.collect()}
    # generation 1: A = avg(1, 3), () = 10; generation 2: () = 2
    assert got == {("A", "X"): 1.0, ("A", "Y"): 3.0, ("B",): 10.0,
                   ("A",): 2.0, (): 6.0}
    # seed, two generations that add rows, one that adds none
    assert len(inputs) == 4
    assert inputs[0] == scans(df)
    for rnd in inputs[1:]:
        assert rnd <= checkpoints and not rnd & scans(df), rnd


def test_observation_lives_only_in_fixpoint():
    """Round loops share functions/fixpoint.py: no other module of the
    package hand-rolls its own observed-checkpoint round."""
    from pathlib import Path

    import nass_summary_spark

    root = Path(nass_summary_spark.__file__).parent
    users = sorted(
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if "Observation(" in p.read_text()
    )
    assert users == ["functions/fixpoint.py"]


def test_plans_build_pivots_only_through_operators():
    """Crosstabs and class pivots are built by operators/pivot.py: no
    module under plans/ calls DataFrame ``.pivot(`` itself."""
    import ast
    from pathlib import Path

    import nass_summary_spark

    plans = Path(nass_summary_spark.__file__).parent / "plans"
    callers = sorted(
        f"{p.name}:{node.lineno}"
        for p in plans.rglob("*.py")
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "pivot"
    )
    assert callers == []


def test_total_and_sum_merge_greatest_and_flag(spark):
    t = spark.createDataFrame([("a", 5.0), ("b", None)], ["k", "v"])
    s = spark.createDataFrame([("a", 3.0), ("c", 7.0)], ["k", "v"])
    out = {r["k"]: (r["reported"], r["v"]) for r in
           total_and_sum_merge(t, s, ["k"], ["v"]).collect()}
    assert out == {"a": (True, 5.0), "b": (True, None), "c": (False, 7.0)}
    # how="coalesce" (yield/price): reported wins even when smaller
    t = spark.createDataFrame([("a", 5.0), ("d", 2.0)], ["k", "v"])
    s = spark.createDataFrame([("a", 3.0), ("b", 7.0), ("d", 9.0)], ["k", "v"])
    out = {r["k"]: r["v"] for r in
           total_and_sum_merge(t, s, ["k"], ["v"], how="coalesce").collect()}
    assert out == {"a": 5.0, "b": 7.0, "d": 2.0}
    # a misspelt reconciliation fails instead of silently coalescing
    with pytest.raises(ValueError, match="greatest or coalesce"):
        total_and_sum_merge(t, s, ["k"], ["v"], how="max")


def test_presence_catalog_three_sets(spark):
    a = spark.createDataFrame([("x",), ("x",), ("y",)], "k string")
    b = spark.createDataFrame([("x",), ("z",)], "k string")
    c = spark.createDataFrame([("x",)], "k string")
    out = presence_catalog("k", {"in_a": a, "in_b": b, "in_c": c})
    assert out.columns == ["k", "in_a", "in_b", "in_c"]
    got = {r["k"]: (r["in_a"], r["in_b"], r["in_c"]) for r in out.collect()}
    # x in all three sets, y only in a, z only in b; one row per key
    assert got == {
        "x": (True, True, True),
        "y": (True, False, False),
        "z": (False, True, False),
    }
    assert out.count() == 3
    # an empty set contributes a column that is false on every key
    empty = spark.createDataFrame([], "k string")
    out = presence_catalog("k", {"in_a": a, "in_b": b, "in_e": empty})
    got = {r["k"]: (r["in_a"], r["in_b"], r["in_e"]) for r in out.collect()}
    assert got == {
        "x": (True, True, False),
        "y": (True, False, False),
        "z": (False, True, False),
    }


def test_class_pivot(spark):
    df = spark.createDataFrame(
        [("g1", "x", 1.0), ("g1", "y", 3.0), ("g2", "x", 5.0)], ["g", "c", "v"]
    )
    out = class_pivot(
        df, ["g"], {"x_avg": F.col("c") == "x", "y_avg": F.col("c") == "y"}, "v"
    )
    got = {r["g"]: (r["x_avg"], r["y_avg"]) for r in out.collect()}
    assert got == {"g1": (1.0, 3.0), "g2": (5.0, None)}


def test_crosstab(spark):
    df = spark.createDataFrame(
        [("r1", "a", 1.0), ("r1", "b", 2.0), ("r2", "a", 3.0)], ["k", "p", "v"]
    )
    out = crosstab(df, ["k"], "p", ["a", "b"], "v")
    got = {r["k"]: (r["a"], r["b"]) for r in out.collect()}
    assert got == {"r1": (1.0, 2.0), "r2": (3.0, None)}


def test_multilevel_fallback_priority(spark):
    base = spark.createDataFrame([("p1", "s1"), ("p2", "s1"), ("p3", "s9")], ["p", "s"])
    lvl1 = spark.createDataFrame([("p1", "s1", 10.0)], ["p", "s", "fine"])
    lvl2 = spark.createDataFrame([("p2", 20.0)], ["p", "coarse"])
    out = multilevel_fallback(
        base,
        [(lvl1, ["p", "s"], "fine"), (lvl2, ["p"], "coarse")],
        out_col="v",
    )
    got = {r["p"]: r["v"] for r in out.collect()}
    assert got == {"p1": 10.0, "p2": 20.0, "p3": None}


def test_fractional_weighted_rollup(spark):
    facts = spark.createDataFrame([("c1", 10.0), ("c2", 20.0)], ["child", "v"])
    weights = spark.createDataFrame(
        [("c1", "P", 0.5), ("c1", "Q", 0.5), ("c2", "P", 1.0)],
        ["child", "parent", "w"],
    )
    out = fractional_weighted_rollup(
        facts, weights, "child", "parent", "w", keys=[], values=["v"]
    )
    got = {r["parent"]: r["v"] for r in out.collect()}
    assert got == {"P": 25.0, "Q": 5.0}


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [("u1", 100, "e1"), ("u1", 50, "e2"), ("u2", 10, "e3")], ["k", "t", "eid"]
    )
    right = spark.createDataFrame(
        [("u1", 50, "o1"), ("u1", 90, "o2"), ("u1", 200, "o3")], ["k", "rt", "oid"]
    )
    out = asof_join(left, right, on=["k"], left_time="t", right_time="rt",
                    payload=["oid"])
    got = {r["eid"]: r["oid"] for r in out.collect()}
    # e1@100 → o2@90; e2@50 → o1@50 (equal time IS visible); e3 → none
    assert got == {"e1": "o2", "e2": "o1", "e3": None}


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], ["id", "text"]
    )
    out = {r["keep_id"]: r["dup_count"] for r in
           exact_dedup(df, "id", "text").collect()}
    assert out == {1: 2, 3: 1}


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e f"),
            (3, "totally different words here now ok"),
        ],
        ["id", "text"],
    )
    out = ngram_jaccard_pairs(df, "id", "text", n=3, threshold=0.9).collect()
    assert len(out) == 1
    assert (out[0]["id_a"], out[0]["id_b"], out[0]["jaccard"]) == (1, 2, 1.0)


def test_minhash_identical_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),
            (3, "q w e r t y u i"),
        ],
        ["id", "text"],
    )
    out = minhash_lsh_pairs(df, "id", "text", n=3, num_perm=16, bands=4, threshold=0.9)
    rows = out.collect()
    assert [(r["id_a"], r["id_b"], r["est_jaccard"]) for r in rows] == [(1, 2, 1.0)]


def _vec_df(spark):
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 1.0]),
        ],
        ["vid", "vec"],
    )


def test_knn_bruteforce(spark):
    df = _vec_df(spark)
    out = knn_bruteforce(df, df.where(F.col("vid") == 1), "vid", "vec", k=2)
    rows = sorted((r["rank"], r["neighbor_id"]) for r in out.collect())
    assert rows == [(1, 2), (2, 3)]


def test_knn_lsh_recall_vs_bruteforce(spark):
    df = _vec_df(spark)
    q = df.where(F.col("vid") == 1)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             knn_bruteforce(df, q, "vid", "vec", k=1).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              knn_lsh(df, q, "vid", "vec", dim=3, k=1, n_planes=2, n_tables=8).collect()}
    # nearest neighbor (2) is nearly colinear with the query — every
    # LSH table puts them in the same bucket, so recall@1 is 1
    assert exact == approx


def test_salted_agg_equals_plain(spark):
    from nass_summary_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(100)] + [("cold", 5.0)], ["k", "v"]
    )
    out = {r["k"]: (r["s"], r["n"], r["mx"]) for r in salted_agg(
        df, ["k"], {"s": ("sum", "v"), "n": ("count", "v"), "mx": ("max", "v")},
        salt_buckets=4,
    ).collect()}
    assert out["hot"] == (sum(range(100)), 100, 99.0)
    assert out["cold"] == (5.0, 1, 5.0)


def test_replicate_broadcast_join(spark):
    from nass_summary_spark.operators.skew import replicate_broadcast_join

    facts = spark.createDataFrame([("a", i) for i in range(50)], ["k", "x"])
    dim = spark.createDataFrame([("a", "dimval")], ["k", "label"])
    out = replicate_broadcast_join(facts, dim, "k", salt_buckets=4)
    assert out.count() == 50  # every fact row matched exactly once
    assert out.select("label").distinct().collect()[0][0] == "dimval"


def test_connected_components(spark):
    from nass_summary_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (4, 1)], ["id_a", "id_b"]
    )
    out = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    # chain 4-1-2-3 collapses to min id 1; 7-9 to 7
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}


def test_connected_components_raises_when_not_converged(spark):
    from nass_summary_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="not converged after 1 rounds"):
        connected_components(chain, max_iter=1)


def test_knn_ivf_recall(spark):
    from nass_summary_spark.operators.similarity import knn_bruteforce, knn_ivf

    df = _vec_df(spark)
    q = df.where(F.col("vid") == 1)
    centroids = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             knn_bruteforce(df, q, "vid", "vec", k=1).collect()}
    ivf = {(r["query_id"], r["neighbor_id"]) for r in
           knn_ivf(df, q, "vid", "vec", centroids, k=1, nprobe=1).collect()}
    # query [1,0,0] and its nearest neighbor [0.9,0.1,0] share cell 0
    assert exact == ivf


def test_cosine_dedup_lsh_subset_of_exact(spark):
    from nass_summary_spark.operators.similarity import cosine_dedup_pairs

    df = _vec_df(spark)
    exact = {(r["id_a"], r["id_b"]) for r in
             cosine_dedup_pairs(df, "vid", "vec", threshold=0.9).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           cosine_dedup_pairs(df, "vid", "vec", threshold=0.9, dim=3,
                              n_planes=2, exact=False).collect()}
    # bucketed pairs are a subset of exact pairs; the near-identical
    # pair (1,2) must survive bucketing
    assert lsh <= exact
    assert (1, 2) in lsh


# --- sampling / splitting (B18–B21) -----------------------------------------


def test_deterministic_split_partitions_and_weights(spark):
    from nass_summary_spark.operators.sampling import deterministic_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = deterministic_split(df, "doc_id", (("train", 8), ("val", 1), ("test", 1)))
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000          # total partition of the id space
    assert counts["train"] > counts["val"] * 5   # ~80/10/10
    # determinism: same assignment on re-evaluation and under repartition
    out2 = deterministic_split(df.repartition(7), "doc_id")
    joined = out.join(out2.withColumnRenamed("split", "s2"), "doc_id")
    assert joined.where(F.col("split") != F.col("s2")).count() == 0


def test_stratified_sample_exact_and_stable(spark):
    from nass_summary_spark.operators.sampling import id_bucket, stratified_sample, HASH_BUCKETS

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    out = stratified_sample(df, "doc_id", "lang", {"en": (1, 2)}, default=(1, 10))
    # membership is exactly bucket*den < num*B — recompute independently
    kept = {r["doc_id"] for r in out.collect()}
    rows = df.select("doc_id", "lang", id_bucket("doc_id").alias("b")).collect()
    expect = {
        r["doc_id"]
        for r in rows
        if (r["lang"] == "en" and r["b"] * 2 < HASH_BUCKETS)
        or (r["lang"] == "de" and r["b"] * 10 < HASH_BUCKETS)
    }
    assert kept == expect


def test_per_key_cap(spark):
    from nass_summary_spark.operators.sampling import per_key_cap

    df = spark.createDataFrame(
        [(i, "k%d" % (i % 3)) for i in range(60)], ["doc_id", "src"]
    )
    out = per_key_cap(df, "src", "doc_id", k=5)
    per = {r["src"]: r["n"] for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert per == {"k0": 5, "k1": 5, "k2": 5}
    assert out.agg(F.max("rn")).collect()[0][0] == 5


def test_token_budget_mix_rates(spark):
    from nass_summary_spark.operators.sampling import token_budget_mix

    df = spark.createDataFrame(
        [(i, "big" if i < 80 else "small", 10) for i in range(100)],
        ["doc_id", "src", "tok"],
    )
    # big: 800 tokens, budget 200 → keep ~1/4; small: 200 ≤ budget → keep all
    out = token_budget_mix(df, "doc_id", "src", F.col("tok"), 200)
    per = {r["src"]: r["n"] for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert per.get("small") == 20          # rate 1.0 keeps everything
    assert 5 <= per.get("big", 0) <= 40    # ~20 expected, hash noise tolerated


def test_quantize_int8_bounds_and_roundtrip(spark):
    from nass_summary_spark.functions.vectors import max_abs, quantize_int8

    df = spark.createDataFrame([(1, [0.5, -1.0, 0.25, 0.0])], ["id", "v"])
    staged = df.select("id", "v", max_abs("v").alias("m"))
    q = staged.select(
        "id", "m", quantize_int8("v", F.col("m") / F.lit(127.0)).alias("q")
    ).collect()[0]
    assert q["m"] == 1.0
    assert q["q"] == [64, -127, 32, 0]     # round(x*127/maxabs)


# --- multi-grain / range join / sketches / scrub ----------------------------


def test_multi_grain_rollup_grains(spark):
    from nass_summary_spark.operators.grouping import multi_grain_summary

    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)], ["d1", "d2", "v"]
    )
    out = multi_grain_summary(df, ["d1", "d2"], [F.sum("v").alias("s")], mode="rollup")
    got = {(r["d1"], r["d2"], r["g_d1"], r["g_d2"]): r["s"] for r in out.collect()}
    assert got[("a", "x", 0, 0)] == 1
    assert got[("a", None, 0, 1)] == 3     # subtotal over d2
    assert got[(None, None, 1, 1)] == 7    # grand total
    assert ("b", None, 0, 1) in got
    # rollup (not cube): no (None, 'x') marginal
    assert (None, "x", 1, 0) not in got


def test_multi_grain_grouping_sets(spark):
    from nass_summary_spark.operators.grouping import multi_grain_summary

    df = spark.createDataFrame([("a", "x", 1), ("b", "y", 2)], ["d1", "d2", "v"])
    out = multi_grain_summary(
        df, ["d1", "d2"], [F.sum("v").alias("s")],
        mode="grouping_sets", sets=[["d1"], ["d2"]],
    )
    got = {(r["d1"], r["d2"]): r["s"] for r in out.collect()}
    assert got == {("a", None): 1, ("b", None): 2, (None, "x"): 1, (None, "y"): 2}


def test_range_join_bucketed_edges(spark):
    from nass_summary_spark.operators.range_join import range_join_bucketed

    fact = spark.createDataFrame([(0.0,), (9.99,), (10.0,), (24.9,), (25.0,), (50.0,)], ["v"])
    iv = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 25.0), ("high", 25.0, 51.0)],
        ["tier", "lo", "hi"],
    )
    out = range_join_bucketed(fact, "v", iv, "lo", "hi", bucket_width=4.0)
    got = {r["v"]: r["tier"] for r in out.collect()}
    # hi exclusive: 10.0 belongs to mid, 25.0 to high
    assert got == {0.0: "low", 9.99: "low", 10.0: "mid", 24.9: "mid", 25.0: "high", 50.0: "high"}


def test_range_join_left_unmatched(spark):
    from nass_summary_spark.operators.range_join import range_join_bucketed

    fact = spark.createDataFrame([(5.0,), (99.0,)], ["v"])
    iv = spark.createDataFrame([("low", 0.0, 10.0)], ["tier", "lo", "hi"])
    out = range_join_bucketed(fact, "v", iv, "lo", "hi", bucket_width=10.0, how="left")
    got = {r["v"]: r["tier"] for r in out.collect()}
    assert got == {5.0: "low", 99.0: None}


def test_interval_overlap_join_matches_theta_join_exactly_once(spark):
    """Bucket-decomposed interval×interval join vs the quadratic
    θ-join on randomized intervals spanning many buckets: identical
    pair MULTISET (each overlap exactly once — the canonical-bucket
    attribution must also kill multi-bucket duplicates). Includes
    touching endpoints (half-open: no overlap), containment, empty
    intervals, and bucket-edge-aligned bounds."""
    import random

    from nass_summary_spark.operators.range_join import interval_overlap_join

    rng = random.Random(7)
    a_rows = [(i, float(rng.randrange(0, 200)), 0.0) for i in range(60)]
    a_rows = [(i, lo, lo + float(rng.choice([0, 1, 8, 40, 64, 130]))) for i, lo, _ in a_rows]
    b_rows = [(j, float(rng.randrange(0, 200)), 0.0) for j in range(40)]
    b_rows = [(j, lo, lo + float(rng.choice([0, 3, 32, 90]))) for j, lo, _ in b_rows]
    a = spark.createDataFrame(a_rows, ["aid", "a_lo", "a_hi"])
    b = spark.createDataFrame(b_rows, ["bid", "b_lo", "b_hi"])
    got = sorted(
        (r["aid"], r["bid"])
        for r in interval_overlap_join(
            a, "a_lo", "a_hi", b, "b_lo", "b_hi", bucket_width=32.0
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, alo, ahi in a_rows
        for j, blo, bhi in b_rows
        # empty intervals have an empty intersection with everything
        # (the raw strict-inequality θ-predicate would wrongly admit
        # a zero-length interval strictly inside another)
        if alo < ahi and blo < bhi and alo < bhi and blo < ahi
    )
    assert got == want  # sorted lists: catches duplicates AND misses
    assert len(want) > 100  # the harness actually exercised overlaps


def test_approx_distinct_accuracy(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = li.agg(F.countDistinct("l_partkey")).collect()[0][0]
    approx = li.agg(F.approx_count_distinct("l_partkey", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) <= max(2, 0.05 * exact)


def test_approx_quantiles_accuracy(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= 0.01 * row["exact"] + 1


def test_scrub_pii(spark):
    from nass_summary_spark.functions.text import scrub_pii

    df = spark.createDataFrame(
        [("mail bob@x.com or see https://x.com/a?b=1 or call +1 (555) 123-4567 now",)],
        ["t"],
    )
    got = df.select(scrub_pii("t").alias("s")).collect()[0]["s"]
    assert "<EMAIL>" in got and "<URL>" in got and "<PHONE>" in got
    assert "bob@" not in got and "https" not in got and "555" not in got


def test_normalize_text(spark):
    from nass_summary_spark.functions.text import normalize_text

    df = spark.createDataFrame([("  Hello,   WORLD!! 42\n",)], ["t"])
    assert df.select(normalize_text("t").alias("s")).collect()[0]["s"] == "hello world 42"


def test_range_join_broadcast_builds_interval_side(spark):
    """The broadcast hint must put the build on the interval side —
    without it Spark may broadcast the fact table (unsized local
    relations defeat the size heuristic), which cannot scale."""
    import io, contextlib
    from nass_summary_spark.operators.range_join import range_join_bucketed

    fact = spark.range(0, 1000).select((F.col("id") % 50).cast("double").alias("v"))
    iv = spark.createDataFrame(
        [("low", 0.0, 25.0), ("high", 25.0, 50.0)], ["tier", "lo", "hi"]
    )
    out = range_join_bucketed(fact, "v", iv, "lo", "hi", 10.0, broadcast_intervals=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BuildRight" in plan and "BuildLeft" not in plan


def test_tfidf_top_terms(spark):
    """Hand-checked tf-idf: rarer terms outrank common ones; ties
    break alphabetically; k bounds output per doc."""
    import math
    from nass_summary_spark.operators.tfidf import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "common cherry cherry date"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(docs, k=2).toPandas().set_index(["doc_id", "rnk"])
    # doc 1: apple tf=2 df=1 → 2*ln(4/2); banana tf=1 df=2 → ln(4/3)
    assert out.loc[(1, 1), "term"] == "apple"
    assert out.loc[(1, 1), "tfidf"] == round(2 * math.log(4 / 2), 6)
    assert out.loc[(1, 2), "term"] == "banana"
    # doc 3: date tf=1 df=1 → ln(4/2)=0.693 beats cherry tf=2 df=2
    # → 2*ln(4/3)=0.575
    assert out.loc[(3, 1), "term"] == "date"
    assert out.loc[(3, 2), "term"] == "cherry"
    # 'common' (df=3, idf=0) never ranks top-2 anywhere
    assert "common" not in set(out["term"])


def test_grouped_stats_exact(spark):
    """Stats from power sums match numpy's sample stddev / Pearson r;
    degenerate groups yield nulls."""
    import numpy as np
    from nass_summary_spark.operators.stats import grouped_stats

    rows = [("a", 1.0, 2.0), ("a", 2.0, 4.5), ("a", 3.0, 5.5), ("b", 7.0, 1.0)]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    out = grouped_stats(df, ["g"], "x", "y").toPandas().set_index("g")
    xs = np.array([1.0, 2.0, 3.0]); ys = np.array([2.0, 4.5, 5.5])
    assert out.loc["a", "n"] == 3
    assert out.loc["a", "mean_x"] == round(float(xs.mean()), 6)
    assert out.loc["a", "stddev_x"] == round(float(xs.std(ddof=1)), 6)
    assert out.loc["a", "corr_xy"] == round(float(np.corrcoef(xs, ys)[0, 1]), 6)
    # single-row group: no spread, no correlation
    assert out.loc["b", "n"] == 1
    assert np.isnan(out.loc["b", "stddev_x"]) and np.isnan(out.loc["b", "corr_xy"])


def test_kmeans_inertia_monotone_and_deterministic(spark):
    import pyspark.sql.functions as F

    from nass_summary_spark.operators.similarity import assign_cells, kmeans_train

    # two well-separated blobs + noise dims
    rows = [
        (i, [float(10 * (i % 2)) + 0.1 * (i % 5), float(i % 3), 0.0, 1.0])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    c1, h1 = kmeans_train(df, "vec_id", "embedding", k=2, n_iter=4)
    c2, h2 = kmeans_train(df, "vec_id", "embedding", k=2, n_iter=4)
    assert c1 == c2 and h1 == h2  # deterministic
    assert all(b <= a + 1e-9 for a, b in zip(h1, h1[1:]))  # Lloyd monotone
    # converged assignment separates the two blobs
    got = assign_cells(df.select(F.col("embedding").alias("__v"), "vec_id"), "__v", c1)
    cells = {r["vec_id"] % 2 for r in got.collect() if r["cell"] == 0}
    assert len(cells) == 1


def test_byte_histogram_features(spark):
    from nass_summary_spark.operators import multimodal

    df = spark.createDataFrame([(1, bytearray(b"\x00\x10\xff"))], ["item_id", "blob"])
    got = multimodal.byte_histogram_features(df, "item_id", "blob", n_bins=16).collect()[0]
    feats = got["features"]
    assert len(feats) == 16
    assert abs(feats[0] - 1 / 3) < 1e-12  # 0x00 -> bin 0
    assert abs(feats[1] - 1 / 3) < 1e-12  # 0x10 -> bin 1
    assert abs(feats[15] - 1 / 3) < 1e-12  # 0xff -> bin 15
    assert abs(sum(feats) - 1.0) < 1e-12


def test_frame_sample_windows(spark):
    from nass_summary_spark.operators import multimodal

    blob = bytes(range(256)) + bytes(44)  # 300 bytes -> 5 frames of 64
    df = spark.createDataFrame([(7, bytearray(blob))], ["item_id", "blob"])
    rows = sorted(
        multimodal.frame_sample(df, "item_id", "blob", frame_bytes=64, stride=4).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["frame_idx"] for r in rows] == [0, 4]
    assert bytes(rows[0]["frame"]) == blob[:64]
    assert bytes(rows[1]["frame"]) == blob[256:300]  # tail frame is short


def _gradient_bmp(w: int, h: int) -> bytes:
    """Bottom-up 24bpp BMP whose top-down pixel (y, x) holds samples
    ((y*7 + x*3 + c) % 256 for c in 0..2) — built field-by-field with
    struct, sharing NO code with the operator's decoder/encoder."""
    import struct

    stride = (w * 3 + 3) // 4 * 4
    rows = []
    for y_file in range(h):  # file rows run bottom-up
        y = h - 1 - y_file
        row = bytearray(stride)
        for x in range(w):
            for c in range(3):
                row[x * 3 + c] = (y * 7 + x * 3 + c) % 256
        rows.append(bytes(row))
    data = b"".join(rows)
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
        + data
    )


def test_resize_nearest_neighbor_pixels(spark):
    """resize_batch is a REAL resample: every output pixel of the
    re-encoded BMP must equal the source pixel selected by the floor
    index map src_i = (dst_i * src) // dst — replayed here with an
    independent per-pixel loop over an independently built BMP."""
    from nass_summary_spark.operators import multimodal

    w, h, tw, th = 10, 7, 4, 3
    df = spark.createDataFrame(
        [(1, bytearray(_gradient_bmp(w, h))), (2, bytearray(b"not an image"))],
        ["item_id", "blob"],
    )
    got = {
        r["item_id"]: r
        for r in multimodal.resize_batch(
            df, "item_id", "blob", target_w=tw, target_h=th
        ).collect()
    }
    assert got[2]["resized"] is None and got[2]["width"] is None
    r1 = got[1]
    assert (r1["src_w"], r1["src_h"], r1["width"], r1["height"]) == (w, h, tw, th)
    out = bytes(r1["resized"])
    # independently parse the emitted BMP: 54-byte header, bottom-up
    import struct

    ow, oh = struct.unpack_from("<ii", out, 18)
    assert (ow, oh) == (tw, th)
    ostride = (tw * 3 + 3) // 4 * 4
    for dy in range(th):
        sy = (dy * h) // th
        file_row = out[54 + (th - 1 - dy) * ostride :][: tw * 3]
        for dx in range(tw):
            sx = (dx * w) // tw
            for c in range(3):
                assert file_row[dx * 3 + c] == (sy * 7 + sx * 3 + c) % 256


def _solid_rgb_png(w: int, h: int, rgb: tuple[int, int, int]) -> bytes:
    """8-bit RGB PNG, every pixel = rgb; struct+zlib only, no shared
    code with the operator's decoder."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(rgb) * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_resize_png_input(spark):
    """PNG blobs resize through the same path: a pure-red RGB PNG
    must come out as a decodable BMP whose stored pixel samples are
    BGR = (0, 0, 255) — i.e. still red to any BMP consumer (PNG is
    RGB, BMP is BGR; a verbatim copy would ship blue images)."""
    from nass_summary_spark.operators import multimodal

    df = spark.createDataFrame(
        [(5, bytearray(_solid_rgb_png(6, 4, (255, 0, 0))))],
        ["item_id", "blob"],
    )
    rows = multimodal.resize_batch(
        df, "item_id", "blob", target_w=3, target_h=3
    ).collect()
    assert len(rows) == 1 and rows[0]["resized"] is not None
    assert rows[0]["width"] == 3 and rows[0]["height"] == 3
    # re-decode the emitted BMP with the operator's own parser: the
    # resample of a decoded grid must itself be a decodable image,
    # and _bmp_pixels returns STORED (BGR) order
    grid = multimodal._bmp_pixels(bytes(rows[0]["resized"]))
    assert grid is not None and grid.shape == (3, 3, 3)
    assert (grid == [0, 0, 255]).all(), grid[0, 0].tolist()

    # the certified synthetic-PNG generator still flows end-to-end
    base = spark.createDataFrame([(5,)], ["item_id"])
    blobs = multimodal.synthesize_png_blobs(base, "item_id")
    rows = multimodal.resize_batch(
        blobs, "item_id", "blob", target_w=3, target_h=3
    ).collect()
    assert rows[0]["resized"] is not None


def test_real_decode_roundtrip(spark):
    """synthesize_container_blobs writes byte-exact BMP/WAV files and
    decode_batch(fake=False) parses the headers back: ids 3,6 → WAV
    (rate/channels from the fmt chunk), ids 1,2 → BMP (signed-LE
    dims at offsets 18/22); sizes match the container arithmetic."""
    from nass_summary_spark.operators import multimodal

    df = spark.createDataFrame([(1,), (2,), (3,), (6,)], ["item_id"])
    blobs = multimodal.synthesize_container_blobs(df, "item_id")
    got = {
        r["item_id"]: r
        for r in multimodal.decode_batch(blobs, "item_id", "blob", fake=False).collect()
    }
    # id=1: BMP w=(1%21)+4=5, h=(7%13)+2=9, stride=16 -> 54+144
    assert (got[1]["format"], got[1]["width"], got[1]["height"]) == ("bmp", 5, 9)
    assert got[1]["n_bytes"] == 54 + 16 * 9
    # id=3: WAV rate=8000+3000, channels=1+1=2, frames=103 -> 44+412
    assert (got[3]["format"], got[3]["width"], got[3]["height"]) == ("wav", 11000, 2)
    assert got[3]["n_bytes"] == 44 + 103 * 2 * 2
    # id=6: WAV rate=8000+1000, channels=1, frames=106
    assert (got[6]["format"], got[6]["width"], got[6]["height"]) == ("wav", 9000, 1)
    assert got[6]["n_bytes"] == 44 + 106 * 2


def test_real_decode_rejects_corrupt_blobs(spark):
    """fake=False decode is per-row tolerant: truncated/garbage blobs
    and size-field mismatches come back null-dimmed, never raising —
    the behavior a distributed decode over a dirty corpus needs."""
    from nass_summary_spark.operators import multimodal

    bad_bmp = b"BM" + b"\x00" * 60  # declared size 0 != actual
    df = spark.createDataFrame(
        [(1, bytearray(b"BM")), (2, bytearray(b"garbage")), (3, bytearray(bad_bmp))],
        ["item_id", "blob"],
    )
    rows = multimodal.decode_batch(df, "item_id", "blob", fake=False).collect()
    assert len(rows) == 3
    assert all(r["width"] is None and r["height"] is None for r in rows)


def test_png_decode_roundtrip_exact_pixels(spark):
    """synthesize_png_blobs writes real PNGs (every filter type on
    rotation) and _parse_png must reconstruct the EXACT pixel bytes:
    width/height from IHDR, pixel_sum equal to the closed-form sum of
    (id + x + 2y + 3c) % 256 — only true if inflate and all four
    non-trivial unfilter branches are correct."""
    from nass_summary_spark.operators import multimodal

    ids = [1, 2, 5, 12]  # heights 9,3,11,8 -> all cover filters 0..4
    df = spark.createDataFrame([(i,) for i in ids], ["item_id"])
    blobs = multimodal.synthesize_png_blobs(df, "item_id")
    got = {
        r["item_id"]: r
        for r in multimodal.decode_png_batch(blobs, "item_id", "blob").collect()
    }
    for i in ids:
        w, h = (i % 21) + 4, (i * 7) % 13 + 2
        want_sum = sum(
            (i + x + 2 * y + 3 * c) % 256
            for x in range(w)
            for y in range(h)
            for c in range(3)
        )
        r = got[i]
        assert (r["width"], r["height"]) == (w, h)
        assert (r["bit_depth"], r["color_type"]) == (8, 2)
        assert r["pixel_sum"] == want_sum


def test_png_decode_rejects_corrupt_blobs(spark):
    """Per-row tolerance: bad signature, flipped CRC byte, and
    truncated IDAT all yield all-null rows, never a task failure."""
    from nass_summary_spark.operators import multimodal

    good = next(
        iter(
            multimodal.synthesize_png_blobs(
                spark.createDataFrame([(7,)], ["item_id"]), "item_id"
            ).collect()
        )
    )["blob"]
    good = bytes(good)
    crc_flipped = good[:-5] + bytes([good[-5] ^ 0xFF]) + good[-4:]
    truncated = good[: len(good) // 2]
    df = spark.createDataFrame(
        [
            (1, bytearray(b"\x89PNGnope")),
            (2, bytearray(crc_flipped)),
            (3, bytearray(truncated)),
            (4, bytearray(good)),
        ],
        ["item_id", "blob"],
    )
    rows = {r["item_id"]: r for r in
            multimodal.decode_png_batch(df, "item_id", "blob").collect()}
    assert all(rows[i]["width"] is None and rows[i]["pixel_sum"] is None
               for i in (1, 2, 3))
    assert rows[4]["width"] == (7 % 21) + 4  # the intact blob still decodes


def test_decode_batch_real_handles_png(spark):
    """The generic fake=False decode now fills dims for PNG blobs via
    the same parser (B12: bmp/wav/png all real; only jpeg remains)."""
    from nass_summary_spark.operators import multimodal

    df = spark.createDataFrame([(4,)], ["item_id"])
    blobs = multimodal.synthesize_png_blobs(df, "item_id")
    r = multimodal.decode_batch(blobs, "item_id", "blob", fake=False).collect()[0]
    assert r["format"] == "png"
    assert (r["width"], r["height"]) == ((4 % 21) + 4, (4 * 7) % 13 + 2)


def test_jpeg_roundtrip_recovers_exact_coefficients(spark):
    """Synthesized baseline JFIF → full decode: quantized-coefficient
    sums must match the generator's closed form for every id (the
    lossless entropy layer — Huffman, DC prediction, runs/ZRL/EOB,
    byte stuffing — certified bit-for-bit), and the DC-only even ids
    must reconstruct their exact pixel sums (IDCT layer)."""
    from nass_summary_spark.operators import multimodal

    ids = [2, 3, 5, 8, 11, 12, 17, 24]  # both parities, 1-6 blocks
    df = spark.createDataFrame([(i,) for i in ids], ["item_id"])
    blobs = multimodal.synthesize_jpeg_blobs(df, "item_id")
    got = {
        r["item_id"]: r
        for r in multimodal.decode_jpeg_batch(blobs, "item_id", "blob").collect()
    }
    for i in ids:
        bw, bh = (i % 3) + 1, (i % 2) + 1
        dcs = [((i * 7 + bx * 13 + by * 29) % 255) - 127
               for by in range(bh) for bx in range(bw)]
        want_dc = sum(dcs)
        want_coef = want_dc
        if i % 2 == 1:
            want_coef += sum(
                ((i + 3 * j + bx + 5 * by) % 21) - 10
                for by in range(bh) for bx in range(bw)
                for j in (1, 5, 17, 33, 62, 63)
            )
        r = got[i]
        assert (r["width"], r["height"]) == (8 * bw, 8 * bh)
        assert r["n_blocks"] == bw * bh
        assert r["dc_sum"] == want_dc
        assert r["coef_sum"] == want_coef
        if i % 2 == 0:
            assert r["pixel_sum"] == sum(64 * (dc + 128) for dc in dcs)


def test_jpeg_decode_rejects_corrupt_and_unsupported_blobs(spark):
    """Per-row tolerance: bad SOI, truncated scan, and a progressive
    SOF2 frame all yield all-null rows, never a task failure."""
    from nass_summary_spark.operators import multimodal

    good = bytes(
        multimodal.synthesize_jpeg_blobs(
            spark.createDataFrame([(9,)], ["item_id"]), "item_id"
        ).collect()[0]["blob"]
    )
    truncated = good[: len(good) - 8]
    progressive = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    df = spark.createDataFrame(
        [
            (1, bytearray(b"\xff\xd8nope")),
            (2, bytearray(truncated)),
            (3, bytearray(progressive)),
            (4, bytearray(good)),
        ],
        ["item_id", "blob"],
    )
    rows = {r["item_id"]: r for r in
            multimodal.decode_jpeg_batch(df, "item_id", "blob").collect()}
    assert all(rows[i]["width"] is None and rows[i]["coef_sum"] is None
               for i in (1, 2, 3))
    assert rows[4]["width"] == 8 * ((9 % 3) + 1)  # intact blob decodes


def test_decode_batch_real_handles_jpeg(spark):
    """The generic fake=False decode fills dims for JPEG blobs via
    _parse_jpeg — B12 fully closed, no 'partial' formats left."""
    from nass_summary_spark.operators import multimodal

    df = spark.createDataFrame([(7,)], ["item_id"])
    blobs = multimodal.synthesize_jpeg_blobs(df, "item_id")
    r = multimodal.decode_batch(blobs, "item_id", "blob", fake=False).collect()[0]
    assert r["format"] == "jpeg"
    assert (r["width"], r["height"]) == (8 * ((7 % 3) + 1), 8 * ((7 % 2) + 1))


def test_duplicated_spans_finds_exact_shared_substring(spark):
    """Two docs share one 60-char passage at different offsets;
    everything else is unique. The maximal span reported in each doc
    must be exactly the shared passage (width 60 = 21 seed grams at
    L=40), and a third unrelated doc must report nothing."""
    import random
    import string

    from nass_summary_spark.operators.dedup import duplicated_spans

    rng = random.Random(5)

    def rand_text(n):
        return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))

    shared = rand_text(60)
    a = rand_text(50) + shared + rand_text(70)   # shared at pos 51..110
    b = rand_text(120) + shared + rand_text(30)  # shared at pos 121..180
    c = rand_text(200)
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], ["doc_id", "text"]
    )
    got = {r["id"]: (r["span_start"], r["span_end"], r["n_grams"])
           for r in duplicated_spans(df, "doc_id", "text", gram_chars=40).collect()}
    assert got[1] == (51, 110, 21)
    assert got[2] == (121, 180, 21)
    assert 3 not in got


def test_jaccard_prefix_filter_path_identical(spark, sf_dir):
    """The prefix-filtered candidate generation must return exactly
    the same pairs as the direct self-join (prefix filtering is
    lossless for Jaccard >= tau)."""
    from nass_summary_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key = lambda r: (r["id_a"], r["id_b"], r["jaccard"])  # noqa: E731
    direct = sorted(
        ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect(), key=key
    )
    prefixed = sorted(
        ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.3, prefix_filter=True
        ).collect(),
        key=key,
    )
    assert [key(r) for r in direct] == [key(r) for r in prefixed]
    assert len(direct) > 0


def test_jaccard_prefix_filter_identical_on_skewed_exact_threshold(spark, sf_dir):
    """Regression: a hot boilerplate suffix (df in the hundreds)
    creates many pairs whose Jaccard sits EXACTLY at the threshold;
    the PPJoin bounds are rational in tau and float64 ceil landed a
    hair above the exact value (0.2/1.2*72 -> 12.000000000000002 ->
    ceil 13), silently pruning threshold-exact pairs. The EPS guards
    must keep both modes byte-identical on this shape."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.dedup import ngram_jaccard_pairs

    boiler = (
        "this content is provided under the standard license terms "
        "please review carefully before use"
    )
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 < 3, F.concat("text", F.lit(" " + boiler))
            ).otherwise(F.col("text")),
        )
    )
    key = lambda r: (r["id_a"], r["id_b"], r["jaccard"])  # noqa: E731
    direct = sorted(
        ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.2).collect(), key=key
    )
    prefixed = sorted(
        ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.2, prefix_filter=True
        ).collect(),
        key=key,
    )
    assert [key(r) for r in direct] == [key(r) for r in prefixed]
    # the skewed corpus must actually exercise threshold-exact pairs
    assert any(r["jaccard"] == 0.2 for r in direct)


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing must conserve tokens and leave no interior slack:
    per source, sum of bin-token fills == total corpus tokens, and
    every bin except the last holds exactly 512 tokens."""
    from nass_summary_spark.functions.text import words
    from nass_summary_spark.plans.queries import QUERIES

    out = QUERIES["pack_sequences"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    totals = {
        r["source"]: r["tot"]
        for r in docs.select("source", F.size(words("text")).alias("n"))
        .where(F.col("n") > 0)
        .groupBy("source")
        .agg(F.sum("n").alias("tot"))
        .collect()
    }
    by_src: dict[str, list] = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == set(totals)
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r["bin"])
        assert [r["bin"] for r in rows] == list(range(len(rows)))
        assert sum(r["n_tokens"] for r in rows) == totals[src]
        for r in rows[:-1]:
            assert r["n_tokens"] == 512, (src, r["bin"])
        assert all(r["n_whole_docs"] <= r["n_docs"] for r in rows)


def test_doc_chunks_match_python_slicing(spark, sf_dir):
    """Chunk windows must equal Python slicing: starts 0,48,96,...
    < len, width 80 (shorter at the tail), md5 over the exact
    substring."""
    import hashlib

    from nass_summary_spark.plans.queries import QUERIES

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sample = {r["doc_id"]: r["text"] for r in docs.orderBy("doc_id").limit(5).collect()}
    got = (
        QUERIES["doc_chunks"](spark, sf_dir)
        .where(F.col("doc_id").isin(list(sample)))
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in sample.items():
        expected = [
            (i, off, text[off : off + 80])
            for i, off in enumerate(range(0, len(text), 48))
        ]
        rows = sorted(by_doc[doc_id], key=lambda r: r["off"])
        assert len(rows) == len(expected)
        for r, (i, off, chunk) in zip(rows, expected):
            assert r["chunk_id"] == i and r["off"] == off
            assert r["chunk_len"] == len(chunk)
            assert r["chunk_md5"] == hashlib.md5(chunk.encode()).hexdigest()


def test_rank_fusion_formula_and_order(spark, sf_dir):
    """RRF output must be internally consistent: rrf equals the
    1/(60+rank) formula over the reported ranks, sorted descending,
    and docs present in both lists outrank equal single-list docs."""
    from nass_summary_spark.plans.queries import QUERIES

    rows = QUERIES["rank_fusion"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    vals = []
    for r in rows:
        expect = round(
            (1.0 / (60 + r["rank_a"]) if r["rank_a"] is not None else 0.0)
            + (1.0 / (60 + r["rank_b"]) if r["rank_b"] is not None else 0.0),
            9,
        )
        assert abs(r["rrf"] - expect) < 1e-12, r
        assert r["rank_a"] is not None or r["rank_b"] is not None
        vals.append(r["rrf"])
    assert vals == sorted(vals, reverse=True)


def test_alpha_sampling_flattens_distribution(spark):
    """alpha=0.5 must keep a HIGHER fraction of the low-resource
    group than of the high-resource group, keep ~target overall, and
    never drop a group entirely."""
    from nass_summary_spark.operators.sampling import alpha_sampling

    rows = [(i, "big" if i < 1800 else "small") for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    kept = alpha_sampling(df, "doc_id", "lang", target_fraction=0.5)
    frac = {
        r["lang"]: r["k"] / (1800 if r["lang"] == "big" else 200)
        for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("k")).collect()
    }
    assert set(frac) == {"big", "small"}
    assert frac["small"] > frac["big"]
    total_kept = kept.count()
    assert 0.35 < total_kept / 2000 < 0.65
    # deterministic: same input -> same rows
    again = alpha_sampling(df, "doc_id", "lang", target_fraction=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_shard_plan_stable_under_corpus_growth(spark):
    """A document's shard never changes when the corpus grows (only
    its position/offset within the shard can shift), positions are
    gapless 1..n per shard, and offsets accumulate the token column
    exactly in position order."""
    from nass_summary_spark.operators.sampling import shard_plan

    rows = [(i, 10 + i % 7) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "tok"])
    small = {r["doc_id"]: r for r in shard_plan(df, "doc_id", "tok", 4).collect()}
    grown = spark.createDataFrame(
        rows + [(i, 5) for i in range(300, 400)], ["doc_id", "tok"]
    )
    big = {r["doc_id"]: r for r in shard_plan(grown, "doc_id", "tok", 4).collect()}
    for i in range(300):
        assert small[i]["shard"] == big[i]["shard"]  # growth never reshards
    toks = dict(rows)
    by_shard: dict[int, list] = {}
    for r in small.values():
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) == 4
    for members in by_shard.values():
        members.sort(key=lambda r: r["position"])
        assert [r["position"] for r in members] == list(range(1, len(members) + 1))
        running = 0
        for r in members:
            running += toks[r["doc_id"]]
            assert r["cum_tokens"] == running


def test_semantic_dedup_subset_of_exact_with_recall(spark, sf_dir):
    """B41 cluster-bounded pairs must be a SUBSET of the exact
    cosine pairs at the same threshold, with usable recall on the
    clustered test embeddings."""
    from nass_summary_spark.plans.queries import QUERIES
    from nass_summary_spark.operators.similarity import cosine_dedup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_dedup_pairs(
            emb, "vec_id", "embedding", threshold=0.3
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in QUERIES["semantic_dedup"](spark, sf_dir).collect()
    }
    assert got, "no semantic pairs found"
    assert got <= exact, "cluster-bounded pairs must never invent a pair"
    assert len(got) / len(exact) > 0.5, f"recall too low: {len(got)}/{len(exact)}"


def test_neardup_dedup_corpus_keeps_representatives(spark, sf_dir):
    """B42 end-to-end dedup: kept set = all docs minus every
    non-min member of a connected near-dup group; every group
    keeps exactly its min-id representative."""
    from nass_summary_spark.plans.queries import QUERIES
    from nass_summary_spark.operators.dedup import connected_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perm=32, bands=8, threshold=0.35
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp, "test corpus has no near-dup groups"
    expected_drop = {i for i, c in comp.items() if c != i}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    kept = {r["doc_id"] for r in QUERIES["neardup_dedup_corpus"](spark, sf_dir).collect()}
    assert kept == all_ids - expected_drop


def test_url_dedup_normalizes_and_keeps_min_id(spark):
    from nass_summary_spark.operators.dedup import url_dedup

    df = spark.createDataFrame(
        [
            (1, "HTTPS://WWW.Example.COM/a/?utm_source=x&q=1#frag"),
            (2, "http://example.com/a?q=1"),
            (3, "https://example.com/a/?utm_campaign=y&q=1"),
            (9, "https://other.org/b"),
        ],
        ["id", "url"],
    )
    got = {r["url_norm"]: (r["keep_id"], r["n_dupes"]) for r in url_dedup(df, "url", "id").collect()}
    assert got == {"example.com/a?q=1": (1, 3), "other.org/b": (9, 1)}


def test_normalize_url_adversarial_shapes(spark):
    """The utm strip must be boundary-anchored (a param merely
    containing 'utm_' mid-name survives) and engine-identical with
    the DuckDB replay on arbitrary URLs, not just the synthesized
    test ones — consecutive utm params, utm-only query strings, and
    repeated '/?' all normalize the same both sides."""
    import duckdb

    from nass_summary_spark.functions.text import normalize_url

    urls = [
        "https://a.com/p?xutm_a=1&b=2",        # mid-param utm_: keep
        "https://a.com/p?utm_a=1&utm_b=2&c=3",  # consecutive utm
        "https://a.com/p?utm_a&utm_b&c",
        "https://a.com/p?utm_only=1",
        "https://a.com/a/?x=1&y=/?z",           # '/?' twice
        "https://a.com/p?utm_a=1",
        "HTTP://WWW.A.COM/p/",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = {u: r for u, r in zip(urls, [x["n"] for x in df.select(normalize_url("url").alias("n")).collect()])}
    assert got["https://a.com/p?xutm_a=1&b=2"] == "a.com/p?xutm_a=1&b=2"
    assert got["https://a.com/p?utm_a=1&utm_b=2&c=3"] == "a.com/p?c=3"
    assert got["https://a.com/p?utm_a&utm_b&c"] == "a.com/p?c"
    assert got["https://a.com/p?utm_only=1"] == "a.com/p"
    assert got["https://a.com/p?utm_a=1"] == "a.com/p"
    assert got["HTTP://WWW.A.COM/p/"] == "a.com/p"
    # engine parity: DuckDB replay of the registered oracle chain
    con = duckdb.connect()
    chain = (
        r"regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        r"regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        r"regexp_replace(lower(trim(?)), '^https?://', ''), '^www\.', ''),"
        r" '#.*$', ''), '([?&])utm_[^&#]*', '\1', 'g'), '&&+', '&', 'g'),"
        r" '\?&', '?', 'g'), '[?&]+$', ''), '/\?', '?', 'g'), '/$', '')"
    )
    for u in urls:
        oracle = con.execute(f"SELECT {chain}", [u]).fetchone()[0]
        assert got[u] == oracle, (u, got[u], oracle)


def test_duplicate_passages_flags_shared_spans(spark):
    from nass_summary_spark.operators.dedup import duplicate_passages

    shared = "one two three four five six seven eight"  # exactly 8 words
    df = spark.createDataFrame(
        [
            (1, shared + " tail1 tail2"),
            (2, "head " + shared),
            (3, "a b c d e f g h i"),  # 9 words, all grams unique
        ],
        ["doc_id", "text"],
    )
    got = {r["id"]: (r["n_grams"], r["n_dup_grams"]) for r in
           duplicate_passages(df, "doc_id", "text", n=8).collect()}
    # doc1: 3 grams, the first (the shared span) duplicated
    # doc2: 2 grams, the second duplicated; doc3: 2 grams, none
    assert got == {1: (3, 1), 2: (2, 1), 3: (2, 0)}


def test_data_profile_single_pass(spark):
    from nass_summary_spark.operators.stats import data_profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], ["k", "s"]
    )
    got = {r["column"]: r for r in data_profile(df).collect()}
    assert got["k"]["n_rows"] == 3 and got["k"]["n_null"] == 0
    assert got["k"]["n_distinct"] == 2
    assert (got["k"]["min_value"], got["k"]["max_value"]) == ("1", "2")
    assert got["s"]["n_null"] == 1 and got["s"]["n_distinct"] == 2


def test_sequence_gaps_reports_holes(spark):
    from nass_summary_spark.operators.stats import sequence_gaps

    df = spark.createDataFrame([(1,), (2,), (5,), (6,), (9,)], ["seq"])
    got = sorted(
        (r["gap_start"], r["gap_end"], r["n_missing"])
        for r in sequence_gaps(df, "seq").collect()
    )
    assert got == [(3, 4, 2), (7, 8, 2)]


def test_inverted_index_postings_ordered(spark):
    from nass_summary_spark.operators.tfidf import inverted_index

    df = spark.createDataFrame(
        [(2, "apple banana apple"), (1, "apple cherry")], ["doc_id", "text"]
    )
    got = {r["term"]: (r["df"], r["postings"]) for r in
           inverted_index(df, "doc_id", "text").collect()}
    assert got["apple"] == (2, "1:1,2:2")  # doc-id ordered, tf carried
    assert got["banana"] == (1, "2:1")
    assert got["cherry"] == (1, "1:1")


def test_snapshot_diff_statuses(spark):
    from nass_summary_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], ["k", "v"])
    new = spark.createDataFrame([(2, 20.0), (3, 99.0), (4, 40.0)], ["k", "v"])
    got = {r["k"]: r["status"] for r in snapshot_diff(old, new, ["k"], ["v"]).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_scd2_history_intervals(spark):
    from datetime import date

    from nass_summary_spark.operators.merge import scd2_history

    df = spark.createDataFrame(
        [
            (1, date(2024, 1, 1), "A"),
            (1, date(2024, 3, 1), "B"),
            (1, date(2024, 2, 1), "C"),
            (2, date(2024, 5, 1), "X"),
        ],
        ["k", "d", "attr"],
    )
    rows = scd2_history(df, "k", "d", ["attr"]).collect()
    h1 = sorted([r for r in rows if r["k"] == 1], key=lambda r: r["version"])
    assert [(r["attr"], r["valid_from"], r["valid_to"], r["is_current"]) for r in h1] == [
        ("A", date(2024, 1, 1), date(2024, 2, 1), False),
        ("C", date(2024, 2, 1), date(2024, 3, 1), False),
        ("B", date(2024, 3, 1), None, True),
    ]
    (h2,) = [r for r in rows if r["k"] == 2]
    assert h2["is_current"] and h2["version"] == 1


def test_bm25_prefers_rarer_term_and_shorter_doc(spark):
    from nass_summary_spark.operators.tfidf import bm25_score

    df = spark.createDataFrame(
        [
            (1, "rare common common common common"),
            (2, "common filler filler filler filler filler filler filler"),
            (3, "common"),
        ],
        ["doc_id", "text"],
    )
    got = {r["id"]: r for r in bm25_score(df, "doc_id", "text", ["rare", "common"]).collect()}
    # doc1 contains the rare term -> highest score
    assert got[1]["rank"] == 1
    # doc3 is much shorter than doc2 with the same tf -> scores higher
    assert got[3]["bm25"] > got[2]["bm25"]


def test_cooccurrence_pmi_ranks_associated_pair_first(spark):
    import math

    from nass_summary_spark.operators.tfidf import cooccurrence_pmi

    rows = []
    # "alpha beta" always co-occur (4 docs); "alpha gamma" once
    for i in range(4):
        rows.append((i, "alpha beta filler%d" % i))
    rows.append((4, "alpha gamma"))
    rows.append((5, "gamma delta"))
    for i in range(6, 10):
        rows.append((i, "gamma unrelated%d" % i))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = cooccurrence_pmi(df, "doc_id", "text", min_df=2, top_pairs=10).collect()
    by_pair = {(r["w1"], r["w2"]): r for r in got}
    top = got[0]
    assert (top["w1"], top["w2"]) == ("alpha", "beta")
    # exact PMI: n_ab=4, N=10, df_alpha=5, df_beta=4
    assert by_pair[("alpha", "beta")]["pmi"] == round(math.log(4 * 10 / (5 * 4)), 6)


def test_time_gapfill_materializes_missing_hours(spark):
    from datetime import datetime

    from nass_summary_spark.operators.grouping import time_gapfill_hourly

    df = spark.createDataFrame(
        [
            ("a", datetime(2024, 1, 1, 10, 5), 1.0),
            ("a", datetime(2024, 1, 1, 13, 30), 2.0),  # 11:00 and 12:00 missing
            ("b", datetime(2024, 1, 1, 11, 0), 5.0),
        ],
        ["event_type", "ts", "value"],
    )
    got = {(r["event_type"], r["hour"].hour): (r["n_events"], r["sum_value"])
           for r in time_gapfill_hourly(df).collect()}
    # dense grid: 2 groups x 4 hours (10..13)
    assert len(got) == 8
    assert got[("a", 10)] == (1, 1.0)
    assert got[("a", 11)] == (0, 0.0)
    assert got[("a", 12)] == (0, 0.0)
    assert got[("a", 13)] == (1, 2.0)
    assert got[("b", 11)] == (1, 5.0)
    assert got[("b", 10)] == (0, 0.0)


class TestQualityClassifier:
    def test_scores_deterministic_and_bounded(self, spark):
        from nass_summary_spark.operators.classifier import score_documents

        df = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "the quick brown fox"),
             (3, "lorem ipsum dolor sit amet"), (4, "   "), (5, "one")],
            ["id", "text"],
        )
        out = {r.id: r for r in score_documents(df, "id", "text").collect()}
        # identical text => identical score (hash determinism)
        assert out[1].quality_prob == out[2].quality_prob
        assert out[1].n_feats == 7  # 4 unigrams + 3 bigrams
        # single word: 1 unigram, 0 bigrams
        assert out[5].n_feats == 1
        # blank doc yields no features -> no row
        assert 4 not in out
        for r in out.values():
            assert 0.0 <= r.quality_prob <= 1.0
            assert r.keep == (r.quality_prob >= 0.5)

    def test_weight_sum_exact_integer(self, spark):
        # the per-doc weight numerator sum must be an exact BIGINT:
        # recompute driver-side from the same md5 formula
        import hashlib

        from pyspark.sql import functions as F

        from nass_summary_spark.operators.classifier import (
            _BIAS, _SCALE, _W_MOD, _W_MULT, _W_SHIFT, score_documents,
        )

        text = "alpha beta gamma alpha"
        grams = ["alpha", "beta", "gamma", "alpha",
                 "alpha beta", "beta gamma", "gamma alpha"]
        snum = 0
        for g in grams:
            b = int(hashlib.md5(g.encode()).hexdigest()[:12], 16) % 4096
            snum += (b * _W_MULT) % _W_MOD - _W_SHIFT
        import math

        want = round(1.0 / (1.0 + math.exp(-(_BIAS + snum / (_W_MOD * _SCALE)))), 6)
        df = spark.createDataFrame([(1, text)], ["id", "text"])
        got = score_documents(df, "id", "text").collect()[0]
        assert got.quality_prob == want and got.n_feats == 7

    def test_weighted_scoring_with_frozen_formula_weights_equals_b50(
        self, spark, sf_dir
    ):
        """B106's scorer generalizes B50: freezing the deterministic
        formula weights (wnum over every bucket, denom = _W_MOD*_SCALE,
        bias = _BIAS) must reproduce score_documents ROW-FOR-ROW —
        the numerator sum is exact either way, so the sigmoid inputs
        are the identical doubles."""
        from pyspark.sql import functions as F

        from nass_summary_spark.operators.classifier import (
            _BIAS, _SCALE, _W_MOD, N_BUCKETS, score_documents,
            score_documents_weighted, weight_numerator,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        formula_w = spark.range(N_BUCKETS).select(
            F.col("id").alias("bucket"),
            weight_numerator(F.col("id")).alias("wnum"),
        )
        got = sorted(
            map(tuple, score_documents_weighted(
                docs, "doc_id", "text", formula_w,
                denom=float(_W_MOD) * _SCALE, bias=_BIAS,
            ).collect())
        )
        want = sorted(
            map(tuple, score_documents(docs, "doc_id", "text").collect())
        )
        assert got == want and len(got) > 0

    def test_logreg_train_learns_planted_signal(self, spark):
        """The fit must actually LEARN: a toy corpus whose label is
        'contains the token zzz' — after a few iterations the trained
        model separates the classes (every scored keep-flag matches
        the label), while the zero-init model scores everything at
        exactly 0.5."""
        from nass_summary_spark.operators.classifier import (
            TRAIN_SCALE, logreg_train, score_documents_weighted,
            trained_bias,
        )

        rows = []
        for i in range(40):
            pos = i % 2 == 0
            body = f"alpha beta w{i % 7} gamma"
            rows.append((i, f"{body} zzz" if pos else body, 1 if pos else 0))
        df = spark.createDataFrame(rows, ["id", "text", "y"])
        w = logreg_train(df, "id", "text", "y", n_iter=8, lr=1.0)
        scored = score_documents_weighted(
            df, "id", "text", w,
            denom=float(TRAIN_SCALE), bias=trained_bias(w),
        )
        got = {r["id"]: r for r in scored.collect()}
        assert len(got) == 40
        for i, _text, y in rows:
            assert got[i]["keep"] == bool(y), (i, got[i])


def test_temporal_join_picks_version_valid_at_event_time(spark):
    """Hand-built SCD2 history: probes at interval starts, mid
    -interval, before the first version (no match), and on a same-day
    empty interval (must match only the surviving version)."""
    import datetime as dt

    from nass_summary_spark.operators.merge import scd2_history, temporal_join

    d = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    changes = spark.createDataFrame(
        [
            (1, d("2024-01-01"), "bronze"),
            (1, d("2024-03-01"), "silver"),
            (1, d("2024-03-01"), "gold"),   # same-day: bronze->silver empty?
            (2, d("2024-02-01"), "basic"),
        ],
        "key long, ts timestamp, tier string",
    )
    hist = scd2_history(changes, "key", "ts", ["tier"]).select(
        "key", F.col("tier").alias("v_tier"), "valid_from", "valid_to", "version"
    )
    probes = spark.createDataFrame(
        [
            (100, 1, d("2024-01-15")),  # inside v1 -> bronze
            (101, 1, d("2024-03-01")),  # on the tie date: only 'silver'
                                        # ([03-01,03-01) for... ordered by
                                        # (ts,tier): gold@03-01 then silver?
            (102, 1, d("2024-06-01")),  # open-ended current version
            (103, 2, d("2024-01-15")),  # before first version: no match
        ],
        "pid long, key long, ts timestamp",
    )
    out = {r["pid"]: r["v_tier"] for r in
           temporal_join(probes, hist, "key", "ts").collect()}
    # tie on 2024-03-01 orders by tier: gold < silver, so gold's
    # interval [03-01, 03-01) is empty and silver's [03-01, null)
    # survives; exactly ONE match per probe
    assert out == {100: "bronze", 101: "silver", 102: "silver"}
    assert 103 not in out


def test_keep_best_duplicate_prefers_quality_then_min_id(spark):
    """Group {1,2,3} connected: doc 2 has the highest score and wins;
    group {5,6} ties on score -> min id 5 wins; singleton 9 stays."""
    from nass_summary_spark.operators.dedup import keep_best_duplicate

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (5, 7), (6, 7), (9, 1)],
        ["doc_id", "q"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    kept = sorted(r["doc_id"] for r in
                  keep_best_duplicate(docs, "doc_id", pairs, "q").collect())
    assert kept == [2, 5, 9]


def test_novelty_scores_hand_computed(spark):
    """Doc 1 and 2 share all shingles (novelty 0); doc 3 is fully
    original (novelty 1); a two-word doc has no shingles and no row."""
    from nass_summary_spark.operators.dedup import novelty_scores

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # shingles: "a b c", "b c d"
            (2, "a b c d"),        # identical -> df 2 for both
            (3, "x y z w"),        # unique shingles
            (4, "too short"),
        ],
        ["doc_id", "text"],
    )
    got = {r["id"]: (r["n_shingles"], r["n_unique"], r["novelty"])
           for r in novelty_scores(docs, "doc_id", "text").collect()}
    assert got[1] == (2, 0, 0.0)
    assert got[2] == (2, 0, 0.0)
    assert got[3] == (2, 2, 1.0)
    assert 4 not in got


def test_remove_duplicated_spans_cuts_exact_passages(spark):
    """The shared 60-char passage is excised from both docs (prefix +
    suffix survive verbatim); the unrelated doc passes unchanged."""
    import random
    import string

    from nass_summary_spark.operators.dedup import remove_duplicated_spans

    rng = random.Random(5)

    def rand_text(n):
        return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))

    shared = rand_text(60)
    pre_a, post_a = rand_text(50), rand_text(70)
    pre_b, post_b = rand_text(120), rand_text(30)
    c = rand_text(200)
    df = spark.createDataFrame(
        [(1, pre_a + shared + post_a), (2, pre_b + shared + post_b), (3, c)],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["cleaned_text"], r["n_removed_chars"]) for r in
           remove_duplicated_spans(df, "doc_id", "text", gram_chars=40).collect()}
    assert got[1] == (pre_a + post_a, 60)
    assert got[2] == (pre_b + post_b, 60)
    assert got[3] == (c, 0)


def test_remove_duplicated_spans_overlapping_islands_count_once(spark):
    """Two shared passages separated by a gap SHORTER than
    gram_chars produce two overlapping detection spans (each island's
    span_end reaches gram_chars-1 past its last seed position, into
    the next island).  The splice always removed each character once,
    but n_removed_chars summed raw span lengths and double-counted
    the overlap — regression for the interval-merge fix: the count
    must equal the actual length difference, text-exact."""
    import random
    import string

    from nass_summary_spark.operators.dedup import remove_duplicated_spans

    rng = random.Random(11)

    def rand_text(n):
        return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))

    s1, s2 = rand_text(45), rand_text(45)
    gap_a, gap_b = rand_text(10), rand_text(10)  # gap < gram_chars=40
    pre_a, post_a = rand_text(55), rand_text(55)
    pre_b, post_b = rand_text(65), rand_text(35)
    df = spark.createDataFrame(
        [
            (1, pre_a + s1 + gap_a + s2 + post_a),
            (2, pre_b + s1 + gap_b + s2 + post_b),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in
            remove_duplicated_spans(df, "doc_id", "text", gram_chars=40).collect()}
    for doc_id, text in ((1, pre_a + s1 + gap_a + s2 + post_a),
                         (2, pre_b + s1 + gap_b + s2 + post_b)):
        r = rows[doc_id]
        assert r["n_removed_chars"] == len(text) - len(r["cleaned_text"])
        assert r["n_removed_chars"] > 0


def test_interval_overlap_join_sub_epsilon_intervals(spark):
    """Intervals shorter than the old 1e-9 epsilon used to enumerate
    a DESCENDING bucket sequence (spurious buckets) or skip the
    canonical overlap-start bucket — regression for the epsilon-free
    bucketing: tiny intervals still join exactly once, and
    bucket-boundary-exact ends emit nothing spurious."""
    from nass_summary_spark.operators.range_join import interval_overlap_join

    a = spark.createDataFrame(
        [(1, 10.0, 10.0 + 1e-12), (2, 31.9999999999, 32.0000000001),
         (3, 0.0, 32.0)],
        ["aid", "a_lo", "a_hi"],
    )
    b = spark.createDataFrame(
        [(1, 10.0 - 1e-12, 10.0 + 2e-12), (2, 32.0, 64.0), (3, 5.0, 11.0)],
        ["bid", "b_lo", "b_hi"],
    )
    got = sorted(
        (r["aid"], r["bid"])
        for r in interval_overlap_join(
            a, "a_lo", "a_hi", b, "b_lo", "b_hi", bucket_width=32.0
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, alo, ahi in [(1, 10.0, 10.0 + 1e-12),
                            (2, 31.9999999999, 32.0000000001),
                            (3, 0.0, 32.0)]
        for j, blo, bhi in [(1, 10.0 - 1e-12, 10.0 + 2e-12),
                            (2, 32.0, 64.0), (3, 5.0, 11.0)]
        if alo < ahi and blo < bhi and alo < bhi and blo < ahi
    )
    assert got == want


def test_winsorized_stats_null_population(spark):
    """NULL values are excluded from the population: n matches the
    winsorized_mean denominator and all-NULL groups disappear —
    regression for the n = COUNT(*) mismatch."""
    from nass_summary_spark.operators.stats import winsorized_stats

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", None),
         ("b", None), ("b", None)],
        ["g", "v"],
    )
    rows = {r["g"]: r for r in
            winsorized_stats(df, ["g"], "v", lower=0.0, upper=1.0).collect()}
    assert "b" not in rows
    assert rows["a"]["n"] == 3
    assert rows["a"]["winsorized_mean"] == 2.0


def test_nearest_event_join_bidirectional_with_ties(spark):
    """e@100: readings at 90 and 105 -> 105 wins (d=5 vs 10);
    e@50: readings at 45 and 55 equidistant -> earlier (45) wins;
    e@10: only a later reading exists -> forward match; key isolation."""
    from nass_summary_spark.operators.asof import nearest_event_join
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    left = spark.createDataFrame(
        [("u1", t(100), "e1"), ("u1", t(50), "e2"), ("u2", t(10), "e3")],
        "k string, ts timestamp, eid string",
    )
    right = spark.createDataFrame(
        [("u1", t(90), "o90"), ("u1", t(105), "o105"),
         ("u1", t(45), "o45"), ("u1", t(55), "o55"),
         ("u2", t(30), "o30")],
        "k string, rt timestamp, oid string",
    )
    out = {r["eid"]: (r["oid"], r["__nearest_dt_us"]) for r in
           nearest_event_join(left, right, ["k"], "ts", "rt", ["oid"]).collect()}
    assert out["e1"] == ("o105", 5_000_000)
    assert out["e2"] == ("o45", -5_000_000)   # tie -> earlier
    assert out["e3"] == ("o30", 20_000_000)   # forward-only match


def test_weighted_percentiles_p50_equals_weighted_median(spark, sf_dir):
    """weighted_median is the p=50 special case of
    weighted_percentiles — the two independent implementations must
    agree exactly on every group."""
    from nass_summary_spark.operators.stats import (
        weighted_median,
        weighted_percentiles,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    wp = {
        r["l_returnflag"]: r["p50"]
        for r in weighted_percentiles(
            li, ["l_returnflag"], "l_extendedprice", "l_quantity", ps=(50,)
        ).collect()
    }
    wm = {
        r["l_returnflag"]: round(r["wmedian"], 6)
        for r in weighted_median(
            li, ["l_returnflag"], "l_extendedprice", "l_quantity"
        ).collect()
    }
    assert wp and wp == wm


def test_weighted_percentiles_monotone_and_unit_weight_degenerate(spark):
    """Percentile columns are monotone in p, and with unit weights the
    lower weighted percentile equals the classic lower percentile
    (replayed with a tiny explicit case)."""
    from nass_summary_spark.operators.stats import weighted_percentiles

    df = spark.createDataFrame(
        [("g", float(v), 1.0) for v in [10, 20, 30, 40]], ["k", "v", "w"]
    )
    row = weighted_percentiles(df, ["k"], "v", "w", ps=(25, 50, 75, 100)).collect()[0]
    assert (row["p25"], row["p50"], row["p75"], row["p100"]) == (
        10.0, 20.0, 30.0, 40.0
    )


def test_blocked_agreements_rejects_equal_id_names(spark):
    """B102 guard: left_id == right_id would project two columns with
    the SAME name (ambiguous frame downstream, silent until a later
    resolve error) — loud ValueError instead, covering the streaming
    scorer too (it passes user-supplied id names straight through)."""
    import pytest

    from nass_summary_spark.operators.linkage import blocked_agreements

    df = spark.createDataFrame([(1, "b", "x")], ["id", "blk", "f1"])
    with pytest.raises(ValueError, match="must differ"):
        blocked_agreements(df, df, "id", "id", "blk", ["f1"])


def test_fellegi_sunter_scores_hand_replay(spark):
    """B102: replay the full FS computation in plain Python on a
    4x3-pair toy — u estimated from the candidate relation, clamped,
    log-likelihood weights summed — and compare exactly."""
    import math

    from nass_summary_spark.operators.linkage import fellegi_sunter_scores

    left = spark.createDataFrame(
        [(1, "b1", "x", True), (2, "b1", "y", False), (3, "b2", "x", True)],
        ["lid", "blk", "f1", "f2"],
    )
    right = spark.createDataFrame(
        [(10, "b1", "x", True), (11, "b1", "y", True), (12, "b2", "z", True)],
        ["rid", "blk", "f1", "f2"],
    )
    m = {"f1": 0.9, "f2": 0.8}
    got = {
        (r["lid"], r["rid"]): (r["agree_f1"], r["agree_f2"], r["score"])
        for r in fellegi_sunter_scores(
            left, right, "lid", "rid", "blk", m, threshold=-100.0
        ).collect()
    }
    # candidates: b1 = {1,2} x {10,11}, b2 = {3} x {12} -> 5 pairs
    pairs = {
        (1, 10): (1, 1), (1, 11): (0, 1), (2, 10): (0, 0),
        (2, 11): (1, 0), (3, 12): (0, 1),
    }
    n = len(pairs)
    eps = 0.5 / n
    u1 = min(max(sum(a for a, _ in pairs.values()) / n, eps), 1 - eps)
    u2 = min(max(sum(b for _, b in pairs.values()) / n, eps), 1 - eps)
    want = {}
    for (l, r), (a1, a2) in pairs.items():
        s = (math.log(0.9) - math.log(u1) if a1
             else math.log(1.0 - 0.9) - math.log(1.0 - u1))
        s += (math.log(0.8) - math.log(u2) if a2
              else math.log(1.0 - 0.8) - math.log(1.0 - u2))
        want[(l, r)] = (a1, a2, round(s, 6))
    assert got == want


def test_fellegi_sunter_salted_output_identical(spark, sf_dir):
    """The skew-mitigation salt only ROUTES rows (left pseudo-salted,
    right replicated S ways) — the candidate set, the u estimates,
    and every score must be identical for any S. Pinned on the gate
    query's real customer split at S in {1, 4, 7}."""
    from nass_summary_spark.operators.linkage import fellegi_sunter_scores

    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            "c_custkey",
            F.col("c_nationkey").alias("blk"),
            F.col("c_mktsegment").alias("seg"),
            (F.col("c_acctbal") < 0).alias("debt"),
        )
    )
    left = cust.where(F.col("c_custkey") % 2 == 1).withColumnRenamed(
        "c_custkey", "lid"
    )
    right = cust.where(F.col("c_custkey") % 2 == 0).withColumnRenamed(
        "c_custkey", "rid"
    )
    m = {"seg": 0.9, "debt": 0.7}

    def rows(s):
        return sorted(
            tuple(r) for r in fellegi_sunter_scores(
                left, right, "lid", "rid", "blk", m,
                threshold=0.5, salt=s,
            ).collect()
        )

    base = rows(1)
    assert base and rows(4) == base and rows(7) == base


def test_fellegi_sunter_em_recovers_planted_mixture(spark):
    """B104: EM over a candidate relation whose agreement-pattern
    counts are the EXACT expectations of a known 3-field mixture
    (λ=0.2, m=(0.95,0.9,0.85), u=(0.15,0.2,0.25)) recovers the
    planted parameters — the model is just-identified at F=3 (8
    pattern cells, 7 parameters), so the MLE of exact-expectation
    data IS the truth; finite n_iter and integer-rounded counts
    leave only a small gap."""
    from itertools import product

    from nass_summary_spark.operators.linkage import fellegi_sunter_em

    lam, m, u = 0.2, (0.95, 0.9, 0.85), (0.15, 0.2, 0.25)
    n = 200000
    rows = []
    for pattern in product((0, 1), repeat=3):
        pm = lam
        pu = 1.0 - lam
        for g, mf, uf in zip(pattern, m, u):
            pm *= mf if g else 1.0 - mf
            pu *= uf if g else 1.0 - uf
        cnt = round(n * (pm + pu))
        rows.extend([pattern] * max(cnt // 100, 1))
    df = spark.createDataFrame(
        rows, "agree_f1 int, agree_f2 int, agree_f3 int"
    )
    got = {
        r["field"]: r
        for r in fellegi_sunter_em(
            df, ["f1", "f2", "f3"], n_iter=40
        ).collect()
    }
    assert abs(got["f1"]["lam"] - lam) < 0.02
    for i, f in enumerate(["f1", "f2", "f3"]):
        assert abs(got[f]["m_est"] - m[i]) < 0.03, (f, got[f]["m_est"])
        assert abs(got[f]["u_est"] - u[i]) < 0.03, (f, got[f]["u_est"])


def test_fellegi_sunter_em_marginalizes_missing(spark):
    """B104d: EM under MCAR missingness. Pattern counts are the exact
    expectations of the same planted mixture as the dense test, but
    with f1 UNOBSERVED in 40% of pairs (independent of class).
    Marginalization (missing factor = 1, observed-only M-step
    denominators) must still recover the planted parameters —
    counting NULL as disagreement would instead bias m1 toward the
    disagree rate of the missing mass (~0.95·0.6 ≈ 0.57)."""
    from itertools import product

    from nass_summary_spark.operators.linkage import fellegi_sunter_em

    lam, m, u = 0.2, (0.95, 0.9, 0.85), (0.15, 0.2, 0.25)
    rho = 0.4  # P(f1 missing), class-independent
    n = 200000
    rows = []
    for f1 in (0, 1, None):
        for f2, f3 in product((0, 1), repeat=2):
            pm = lam
            pu = 1.0 - lam
            for g, mf, uf in zip((f1, f2, f3), m, u):
                if g is None:
                    continue
                pm *= mf if g else 1.0 - mf
                pu *= uf if g else 1.0 - uf
            obs = rho if f1 is None else (1.0 - rho)
            cnt = round(n * obs * (pm + pu))
            rows.extend([(f1, f2, f3)] * max(cnt // 100, 1))
    df = spark.createDataFrame(
        rows, "agree_f1 int, agree_f2 int, agree_f3 int"
    )
    got = {
        r["field"]: r
        for r in fellegi_sunter_em(
            df, ["f1", "f2", "f3"], n_iter=40
        ).collect()
    }
    assert abs(got["f1"]["lam"] - lam) < 0.02
    for i, f in enumerate(["f1", "f2", "f3"]):
        assert abs(got[f]["m_est"] - m[i]) < 0.03, (f, got[f]["m_est"])
        assert abs(got[f]["u_est"] - u[i]) < 0.03, (f, got[f]["u_est"])


def test_fellegi_sunter_em_quotes_field_names(spark):
    """A field name that is not a bare SQL identifier fits exactly like
    the same data under a plain name (the E-step renders SQL text, the
    parameter frame a DDL schema)."""
    from nass_summary_spark.operators.linkage import fellegi_sunter_em

    rows = [(1, 1)] * 6 + [(1, 0)] * 3 + [(0, 1)] * 4 + [(0, 0)] * 20

    def fit(name):
        df = spark.createDataFrame(rows, [f"agree_{name}", "agree_zip"])
        return {
            r["field"].replace(name, "f"): (r["m_est"], r["u_est"], r["lam"])
            for r in fellegi_sunter_em(df, [name, "zip"], n_iter=3).collect()
        }

    assert fit("first-name") == fit("first name") == fit("first_name")


def test_assign_cells_on_backticked_column(spark):
    """A vector column whose name holds a backtick is quoted, not
    spliced: cells and distances match the same data under a plain
    name."""
    from nass_summary_spark.operators.similarity import assign_cells

    # [0.5, 0.5] is equidistant from all three: the tie goes to cell 0
    rows = [([0.0, 0.0],), ([1.0, 0.9],), ([0.1, 1.0],), ([0.5, 0.5],)]
    centroids = [[0.0, 0.0], [1.0, 1.0], [0.0, 1.0]]

    def cells(name):
        df = spark.createDataFrame(rows, [name])
        out = assign_cells(df, name, centroids)
        return sorted((r["cell"], r["dist2"]) for r in out.collect())

    got = cells("v`x")
    assert got == cells("v")
    assert [c for c, _ in got] == [0, 0, 1, 2]


def test_fellegi_sunter_null_semantics(spark):
    """A NULL comparison must NEVER take the disagree branch (a
    missing field is not evidence of mismatch). Default: the pair's
    score is NULL and the threshold filter drops it. With
    null_as_no_info=True: zero weight — the pair scores exactly as
    if only its observed fields were compared (pinned against a
    one-field scorer on the same candidates)."""
    from nass_summary_spark.operators.linkage import fellegi_sunter_scores

    left = spark.createDataFrame(
        [(1, "b", "x", True), (2, "b", None, True)],
        "lid bigint, blk string, f1 string, f2 boolean",
    )
    right = spark.createDataFrame(
        [(10, "b", "x", True), (11, "b", "y", False)],
        "rid bigint, blk string, f1 string, f2 boolean",
    )
    m = {"f1": 0.9, "f2": 0.8}
    # default: NULL propagates — pairs (2,10) and (2,11) vanish
    kept = {
        (r["lid"], r["rid"])
        for r in fellegi_sunter_scores(
            left, right, "lid", "rid", "blk", m, threshold=-100.0
        ).collect()
    }
    assert kept == {(1, 10), (1, 11)}
    # no_info: all pairs kept; the NULL-f1 pairs score EXACTLY like a
    # scorer that never saw f1 (same u_f2 since u comes from the same
    # candidate relation restricted to f2 — replay with frozen u)
    rows = {
        (r["lid"], r["rid"]): r
        for r in fellegi_sunter_scores(
            left, right, "lid", "rid", "blk", m, threshold=-100.0,
            null_as_no_info=True,
        ).collect()
    }
    assert set(rows) == {(1, 10), (1, 11), (2, 10), (2, 11)}
    u_f2 = rows[(1, 10)]["u_f2"]
    only_f2 = {
        (r["lid"], r["rid"]): r["score"]
        for r in fellegi_sunter_scores(
            left, right, "lid", "rid", "blk", {"f2": 0.8},
            threshold=-100.0, u_probs={"f2": u_f2},
        ).collect()
    }
    assert rows[(2, 10)]["score"] == only_f2[(2, 10)]
    assert rows[(2, 11)]["score"] == only_f2[(2, 11)]
    assert rows[(2, 10)]["agree_f1"] is None  # audit column preserved


def test_fellegi_sunter_em_scores_equals_frozen_scoring(spark, sf_dir):
    """B104b composition invariance: fit-then-predict
    (fellegi_sunter_em_scores) must equal scoring the same blocked
    candidates with the SAME estimates frozen through em_params +
    fellegi_sunter_scores(u_probs=...) — the batch path and the
    streaming reference path share one arithmetic."""
    from nass_summary_spark.operators.linkage import (
        blocked_agreements,
        em_params,
        fellegi_sunter_em,
        fellegi_sunter_em_scores,
        fellegi_sunter_scores,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey",
        F.col("c_nationkey").alias("blk"),
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_acctbal") < 0).alias("debt"),
    )
    left = cust.where(F.col("c_custkey") % 2 == 1).withColumnRenamed(
        "c_custkey", "lid"
    )
    right = cust.where(F.col("c_custkey") % 2 == 0).withColumnRenamed(
        "c_custkey", "rid"
    )
    fields = ["seg", "debt"]
    cand = blocked_agreements(left, right, "lid", "rid", "blk", fields)
    got = {
        (r["lid"], r["rid"]): r["score"]
        for r in fellegi_sunter_em_scores(
            cand, fields, threshold=-100.0, n_iter=4,
            id_cols=["lid", "rid"],
        ).collect()
    }
    m_probs, u_probs = em_params(
        fellegi_sunter_em(cand, fields, n_iter=4)
    )
    want = {
        (r["lid"], r["rid"]): r["score"]
        for r in fellegi_sunter_scores(
            left, right, "lid", "rid", "blk", m_probs,
            threshold=-100.0, u_probs=u_probs,
        ).collect()
    }
    assert got and got == want


def test_ann_eval_report_properties(spark, sf_dir):
    """B107 ann_eval: the bruteforce control row must be EXACTLY 1.0
    (the report compared the baseline with itself — any deviation is
    a bug in the report arithmetic, not the indexes), n_exact is
    constant across methods, and each approximate method clears the
    floor measured on this corpus (isotropic vectors, ANN's worst
    case: lsh 0.10, ivf 0.48, pq 0.86, ivfpq 0.66 at sf0.01 —
    floors set safely below so only real regressions trip)."""
    from nass_summary_spark.plans.queries import QUERIES

    out = {r["method"]: r for r in QUERIES["ann_eval"](spark, sf_dir).collect()}
    assert set(out) == {"bruteforce", "lsh", "ivf", "pq", "ivfpq"}
    n = out["bruteforce"]["n_exact"]
    assert n > 0 and all(r["n_exact"] == n for r in out.values())
    assert out["bruteforce"]["recall"] == 1.0
    assert out["bruteforce"]["n_hit"] == n
    floors = {"lsh": 0.05, "ivf": 0.3, "pq": 0.7, "ivfpq": 0.5}
    for m, floor in floors.items():
        assert floor <= out[m]["recall"] <= 1.0, (m, out[m]["recall"])


def test_blocked_agreements_union_matches_naive_and_is_disjoint(spark):
    """B108: the rule-priority union must equal the naive
    union-then-distinct of per-rule blocked pairs (including NULL
    block keys, which join-drop on both paths), emit each pair
    EXACTLY once, and strictly widen recall vs any single rule."""
    from nass_summary_spark.operators.linkage import (
        blocked_agreements,
        blocked_agreements_union,
    )

    left = spark.createDataFrame(
        [(1, "z1", "sA", "x"), (2, "z1", None, "y"), (3, None, "sB", "x"),
         (4, "z9", "sB", "z")],
        ["lid", "zip", "surname", "f1"],
    )
    right = spark.createDataFrame(
        [(10, "z1", "sB", "x"), (11, None, "sA", "y"), (12, "z9", None, "x"),
         (13, "z1", "sA", "q")],
        ["rid", "zip", "surname", "f1"],
    )
    out = blocked_agreements_union(
        left, right, "lid", "rid", ["zip", "surname"], ["f1"]
    )
    rows = out.collect()
    pairs = [(r["lid"], r["rid"]) for r in rows]
    assert len(pairs) == len(set(pairs))  # disjoint by construction

    naive = set()
    for bc in ("zip", "surname"):
        naive |= {
            (r["lid"], r["rid"])
            for r in blocked_agreements(
                left, right, "lid", "rid", bc, ["f1"]
            ).collect()
        }
    assert set(pairs) == naive
    # each single rule is a strict subset on this fixture
    for bc in ("zip", "surname"):
        single = {
            (r["lid"], r["rid"])
            for r in blocked_agreements(
                left, right, "lid", "rid", bc, ["f1"]
            ).collect()
        }
        assert single < set(pairs)
    # agreement indicators match the single-rule computation per pair
    agree = {(r["lid"], r["rid"]): r["agree_f1"] for r in rows}
    assert agree[(1, 10)] == 1 and agree[(1, 13)] == 0
    # rule attribution: (1,13) blocked by zip (rule 0); (4,12) only by
    # zip; surname-only pairs carry rule 1
    rule = {(r["lid"], r["rid"]): r["rule"] for r in rows}
    assert rule[(1, 13)] == 0 and rule[(3, 10)] == 1


def test_priority_sample_merge_and_estimator_properties(spark):
    """A48: (1) k >= n makes the sample exhaustive with tau = 0 and
    est_weight == w exactly (the estimator is exact when nothing was
    dropped); (2) per-shard sketches re-sampled over their union
    reproduce the from-scratch sketch bit-for-bit (priorities are
    item-intrinsic, so the global top-k is inside every local
    top-k — mergeability); (3) est_weight >= w and the total
    estimator lands within a sane band of the true weight sum;
    (4) grouped sampling keeps k per group with per-group tau."""
    from nass_summary_spark.operators.sampling import priority_sample

    rows = [(i, f"g{i % 2}", (i * 7) % 23 + 1) for i in range(60)]
    df = spark.createDataFrame(rows, ["id", "g", "w"])

    # (1) exhaustive => exact
    full = priority_sample(df, "id", "w", k=200).collect()
    assert len(full) == 60
    assert all(r["est_weight"] == float(r["w"]) for r in full)

    # (2) mergeability: shard -> local sketch -> union -> re-sketch
    k = 10
    want = sorted(
        (r["id"], r["priority"], r["est_weight"])
        for r in priority_sample(df, "id", "w", k=k).collect()
    )
    shards = [
        priority_sample(df.where(F.col("id") % 3 == s), "id", "w", k=k)
        .select("id", "g", "w")
        for s in range(3)
    ]
    merged = shards[0].unionByName(shards[1]).unionByName(shards[2])
    got = sorted(
        (r["id"], r["priority"], r["est_weight"])
        for r in priority_sample(merged, "id", "w", k=k).collect()
    )
    assert got == want

    # (3) estimator sanity
    true_sum = sum(w for _, _, w in rows)
    sample = priority_sample(df, "id", "w", k=30).collect()
    assert len(sample) == 30
    assert all(r["est_weight"] >= float(r["w"]) for r in sample)
    est = sum(r["est_weight"] for r in sample)
    assert 0.5 * true_sum <= est <= 2.0 * true_sum, (est, true_sum)

    # (4) grouped: k per group, per-group tau => per-group exactness
    grouped = priority_sample(df, "id", "w", k=5, group_cols=["g"]).collect()
    from collections import Counter

    assert Counter(r["g"] for r in grouped) == {"g0": 5, "g1": 5}
    small = priority_sample(
        df.where(F.col("id") < 4), "id", "w", k=5, group_cols=["g"]
    ).collect()
    assert all(r["est_weight"] == float(r["w"]) for r in small)


def test_quality_classifier_eval_report(spark, sf_dir):
    """B106c: the held-out report must be internally consistent
    (confusion counts partition n_test; accuracy recomputes) and the
    trained model must genuinely RANK the held-out split (AUC >= 0.9
    on this corpus — the length label is learnable through the gram
    counts; accuracy@0.5 is deliberately not floored: mid-descent
    probabilities are uncalibrated, which is what the report's
    AUC-vs-accuracy split exposes)."""
    from nass_summary_spark.plans.queries import QUERIES

    r = QUERIES["quality_classifier_eval"](spark, sf_dir).collect()[0]
    assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == r["n_test"]
    assert r["n_pos"] + r["n_neg"] == r["n_test"]
    assert r["accuracy"] == round((r["tp"] + r["tn"]) / r["n_test"], 6)
    assert 0.9 <= r["auc"] <= 1.0, r["auc"]


def test_label_propagation_matches_reference_simulation(spark):
    """B111: synchronous min-tie-break label propagation must equal
    an independent pure-python round-for-round simulation on a seeded
    random graph (the pagerank-vs-numpy test pattern)."""
    import random

    from nass_summary_spark.operators.graph import label_propagation

    rng = random.Random(81)
    nodes = list(range(24))
    edges = {
        tuple(sorted(rng.sample(nodes, 2)))
        for _ in range(40)
    }
    edges = sorted(edges)

    # reference: synchronous rounds, most-frequent neighbour label,
    # smallest label breaks ties
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    labels = {n: n for n in adj}
    for _ in range(4):
        nxt = {}
        for n, neigh in adj.items():
            counts: dict[int, int] = {}
            for m in neigh:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            best = min(counts, key=lambda l: (-counts[l], l))
            nxt[n] = best
        labels = nxt

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["community"] for r in label_propagation(df, n_iter=4).collect()}
    assert got == labels


def test_label_propagation_two_cliques_bridge(spark):
    """Two triangles joined by one bridge edge resolve to two
    communities labelled by each clique's min node — communities are
    a FINER partition than connected components (CC would merge
    them through the bridge)."""
    from nass_summary_spark.operators.graph import label_propagation

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    df = spark.createDataFrame(tri1 + tri2 + [(3, 10)], ["id_a", "id_b"])
    got = {r["id"]: r["community"] for r in label_propagation(df, n_iter=4).collect()}
    assert got[1] == got[2] == got[3] == 1
    # the bridge leaks label 3 into the second clique before its own
    # min (10) stabilizes — hand-simulated: clique 2 converges to 3,
    # still a SEPARATE community from clique 1's
    assert got[10] == got[11] == got[12] == 3


def test_label_propagation_oracle_ctes_replay_in_duckdb(spark):
    """The DuckDB CTE replay is round-for-round identical to the
    Spark operator on the same edge list."""
    import random

    import duckdb

    from nass_summary_spark.operators.graph import (
        label_propagation,
        label_propagation_oracle_ctes,
    )

    rng = random.Random(4242)
    edges = sorted({tuple(sorted(rng.sample(range(30), 2))) for _ in range(55)})
    values = ", ".join(f"({a}, {b})" for a, b in edges)
    sql = (
        f"WITH pairs(id_a, id_b) AS (VALUES {values}),\n"
        + label_propagation_oracle_ctes("pairs", "id_a", "id_b", n_iter=4)
    )
    want = {int(r[0]): int(r[1]) for r in duckdb.sql(sql).fetchall()}
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["community"] for r in label_propagation(df, n_iter=4).collect()}
    assert got == want


def test_pii_redact_masks_every_contact_field(spark, sf_dir):
    """B109: every synthesized contact card carries exactly one
    email and two phone numbers; after masking, a python re replay
    of the same shared patterns on the same rendered text agrees
    with the reported counts and the md5 of the redacted string."""
    import hashlib
    import re

    from nass_summary_spark.functions.text import EMAIL_RE, PHONE_RE
    from nass_summary_spark.plans.queries import QUERIES, _t
    from nass_summary_spark.plans.queries import _PII_CONTACT_SQL  # noqa: F401

    out = QUERIES["pii_redact"](spark, sf_dir)
    rows = out.collect()
    assert rows, "customer table empty"
    for r in rows:
        assert r["n_emails"] == 1, r
        # 2 synthesized tel/alt numbers + the 9-digit run inside
        # Customer#%09d, which the conservative phone pattern also
        # masks (masking a name-embedded id is the SAFE direction)
        assert r["n_phones"] == 3, r

    # replay one card end-to-end in python re
    cust = _t(spark, sf_dir, "customer").orderBy("c_custkey").limit(1).collect()[0]
    k = cust["c_custkey"]

    def ph(mod2, m3a, m3b, m4):
        return (
            f"{k % mod2 + 10}-{(k * 7 if m3a == 7 else k * 3) % 900 + 100}"
            if False
            else f"{k % mod2 + 10}-{(k * m3a) % 900 + 100}-{(k * m3b) % 900 + 100}-{(k * m4) % 9000 + 1000}"
        )

    text = (
        f"{cust['c_name']} <{cust['c_mktsegment'].lower()}"
        f".user@customer.example.com> tel {ph(90, 7, 13, 31)} alt {ph(80, 3, 11, 17)}"
    )
    t1 = re.sub(EMAIL_RE, "[EMAIL]", text)
    redacted = re.sub(PHONE_RE, "[PHONE]", t1)
    got = {r["c_custkey"]: r for r in rows}[k]
    assert got["redacted_md5"] == hashlib.md5(redacted.encode()).hexdigest()


def test_fd_profile_holds_and_violates_as_designed(spark, sf_dir):
    """A49: keys certify (p_partkey->p_brand, n_nationkey->n_regionkey
    hold with zero violations); cross-attribute candidates violate
    (n_regionkey->n_name maps one region to several nations);
    violation_rate is consistent with its parts."""
    from nass_summary_spark.plans.queries import QUERIES

    rows = {r["fd"]: r for r in QUERIES["fd_profile"](spark, sf_dir).collect()}
    assert rows["p_partkey->p_brand"]["holds"] is True
    assert rows["p_partkey->p_brand"]["violating_keys"] == 0
    assert rows["n_nationkey->n_regionkey"]["holds"] is True
    assert rows["n_regionkey->n_name"]["holds"] is False
    assert rows["c_nationkey->c_mktsegment"]["holds"] is False
    for r in rows.values():
        assert r["n_keys"] > 0
        assert r["violation_rate"] == round(r["violating_keys"] / r["n_keys"], 6)
        assert r["holds"] == (r["violating_keys"] == 0)


def test_record_linkage_clusters_are_min_label_components_of_matches(spark):
    """B110: the cluster assignment must be exactly the min-label
    connected components of the >=threshold posterior match edges —
    recomputed here from the same certified pieces composed
    independently: every match pair lands in one cluster, every
    cluster id is its min member, every clustered id appears in some
    match. Runs at sf0.01 (the driver-gate scale): sf0.001's 150
    customers give the EM no >=0.5 posterior pairs at all."""
    from nass_summary_spark.operators.linkage import (
        blocked_agreements,
        fellegi_sunter_em_posteriors,
    )
    from nass_summary_spark.plans.queries import QUERIES, _t

    sf_dir = "/root/testdata/sf0.01"

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("blk"),
        F.col("c_mktsegment").alias("seg"),
        F.substring("c_name", -2, 1).alias("tag"),
        (F.col("c_acctbal") < 0).alias("debt"),
    )
    left = cust.where(F.col("c_custkey") % 2 == 1).withColumnRenamed("c_custkey", "cust_l")
    right = cust.where(F.col("c_custkey") % 2 == 0).withColumnRenamed("c_custkey", "cust_r")
    cand = blocked_agreements(left, right, "cust_l", "cust_r", "blk", ["seg", "tag", "debt"])
    matches = fellegi_sunter_em_posteriors(
        cand, ["seg", "tag", "debt"], threshold=0.5, n_iter=5,
        id_cols=["cust_l", "cust_r"],
    ).select("cust_l", "cust_r").collect()
    assert matches, "threshold should admit some matches at sf0.001"

    clusters = {
        r["id"]: r["cluster"]
        for r in QUERIES["record_linkage_clusters"](spark, sf_dir).collect()
    }
    matched_ids = set()
    for m in matches:
        matched_ids.update((m["cust_l"], m["cust_r"]))
        assert clusters[m["cust_l"]] == clusters[m["cust_r"]]
    assert set(clusters) == matched_ids
    members: dict[int, list[int]] = {}
    for i, c in clusters.items():
        members.setdefault(c, []).append(i)
    for c, ids in members.items():
        assert c == min(ids)


def test_gopher_rules_python_replay(spark, sf_dir):
    """B112: the rule battery replayed in pure python over the same
    documents — every integer feature and every flag must agree
    row-for-row (the rules are exact integer arithmetic, so there is
    no tolerance)."""
    import re
    from collections import Counter

    from nass_summary_spark.operators.quality_rules import (
        GOPHER_STOPWORDS,
        MAX_MEAN_WORD_LEN,
        MAX_WORDS,
        MIN_MEAN_WORD_LEN,
        MIN_STOPWORD_HITS,
        MIN_WORDS,
    )
    from nass_summary_spark.plans.queries import QUERIES, _t

    out = {r["doc_id"]: r for r in QUERIES["gopher_rules"](spark, sf_dir).collect()}
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(out) == len(docs) and docs
    kept = 0
    for d in docs:
        ws = [w for w in re.split(r"\s+", d["text"].strip().lower()) if w]
        n = len(ws)
        chars = sum(len(w) for w in ws)
        n_stop = sum(1 for w in ws if w in GOPHER_STOPWORDS)
        n_alpha = sum(1 for w in ws if re.search("[a-z]", w))
        n_sym = len(re.findall(r"#|\.\.\.", d["text"]))
        maxc = max(Counter(ws).values()) if ws else 0
        flags = {
            "word_count_ok": MIN_WORDS <= n <= MAX_WORDS,
            "mean_word_len_ok": MIN_MEAN_WORD_LEN * n <= chars <= MAX_MEAN_WORD_LEN * n,
            "symbol_ratio_ok": 10 * n_sym <= n,
            "alpha_word_ok": 5 * n_alpha >= 4 * n,
            "stopword_ok": n_stop >= MIN_STOPWORD_HITS,
            "repetition_ok": 10 * maxc <= n,
        }
        r = out[d["doc_id"]]
        assert r["n_words"] == n and r["n_stop"] == n_stop, r
        assert r["max_word_count"] == maxc, r
        for name, v in flags.items():
            assert r[name] == v, (d["doc_id"], name, r)
        assert r["keep"] == all(flags.values())
        kept += r["keep"]
    # at sf0.001 the battery must actually discriminate
    assert 0 < kept < len(docs)


def test_gopher_rules_edge_docs(spark):
    """B112 edges: empty text, single repeated word, symbol soup."""
    from nass_summary_spark.operators.quality_rules import gopher_rules

    df = spark.createDataFrame(
        [
            (1, ""),
            (2, "the " * 60),  # 60 words, all 'the': repetition fails
            (3, ("the of and that " * 15) + "# # # # # # # # # #"),
        ],
        "id bigint, text string",
    )
    rows = {r["id"]: r for r in gopher_rules(df, "text", "id").collect()}
    assert rows[1]["n_words"] == 0 and rows[1]["keep"] is False
    assert rows[2]["word_count_ok"] and not rows[2]["repetition_ok"]
    assert not rows[2]["keep"]
    assert rows[3]["stopword_ok"] and not rows[3]["symbol_ratio_ok"]


def test_dsir_planted_domain_signal(spark):
    """B113: documents sharing the target domain's distinctive
    vocabulary must score strictly above off-domain documents, and a
    pure-python replay of the hashed-bigram estimator must agree
    exactly (the scores are quantized integer sums)."""
    import hashlib
    import math
    from collections import Counter

    from nass_summary_spark.operators.importance import (
        LAM_SCALE,
        NUM_BUCKETS,
        dsir_scores,
    )
    from pyspark.sql import functions as F

    tgt_words = "quantum flux entangle qubit decohere"
    raw_words = "market price trade stock bond"
    rows = []
    for i in range(30):
        # targets: domain soup; raws: finance soup; probes: one of each
        rows.append((i, f"{tgt_words} {tgt_words} sample {i % 3}", "target"))
        rows.append((100 + i, f"{raw_words} {raw_words} sample {i % 3}", "web"))
    rows.append((500, tgt_words + " " + tgt_words, "web"))   # looks-target probe
    rows.append((501, raw_words + " " + raw_words, "web"))   # looks-raw probe
    df = spark.createDataFrame(rows, "doc_id bigint, text string, src string")
    out = {
        r["doc_id"]: r
        for r in dsir_scores(
            df, "doc_id", "text", F.col("src") == "target"
        ).collect()
    }
    assert out[500]["avg_logratio"] > out[501]["avg_logratio"]
    assert out[500]["keep"] and not out[501]["keep"]

    # ---- pure-python replay ----
    def buckets(text):
        ws = [w for w in text.strip().lower().split() if w]
        bgs = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        return [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % NUM_BUCKETS
            for g in bgs
        ]

    c_r, c_t = Counter(), Counter()
    for i, text, src in rows:
        bs = buckets(text)
        c_r.update(bs)
        if src == "target":
            c_t.update(bs)
    n_r, n_t = sum(c_r.values()), sum(c_t.values())
    lam = {
        b: math.floor(
            math.log(
                ((c_t.get(b, 0) + 1) / (n_t + NUM_BUCKETS))
                / ((c_r[b] + 1) / (n_r + NUM_BUCKETS))
            )
            * LAM_SCALE
            + 0.5
        )
        for b in c_r
    }
    scores = {
        i: (sum(lam[b] for b in buckets(text)), len(buckets(text)))
        for i, text, _ in rows
    }
    t_tot = sum(s for s, _ in scores.values())
    n_tot = sum(n for _, n in scores.values())
    for i, (s, n) in scores.items():
        r = out[i]
        assert r["score_q"] == s and r["n_bigrams"] == n, (i, r, s, n)
        assert r["keep"] == (n > 0 and s * n_tot >= t_tot * n), i


def test_distinct_sketch_persist_merge_lifecycle(spark, sf_dir, tmp_path):
    """B114: shard sketches survive a parquet round-trip as plain
    BINARY, merge to the same estimates as a from-scratch build, and
    equal exact counts in the sparse regime."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.distinct_sketch import (
        build_distinct_sketches,
        rollup_distinct,
    )
    from nass_summary_spark.plans.queries import _t

    docs = _t(spark, sf_dir, "documents")
    shards = build_distinct_sketches(
        docs, ["source", "lang"], "doc_id", shard=F.col("doc_id") % 4
    )
    path = str(tmp_path / "sketches")
    shards.write.parquet(path)
    reloaded = spark.read.parquet(path)

    got = {
        r["source"]: r["est_distinct"]
        for r in rollup_distinct(reloaded, ["source"]).collect()
    }
    scratch = {
        r["source"]: r["est_distinct"]
        for r in rollup_distinct(shards, ["source"]).collect()
    }
    exact = {
        r["source"]: r["x"]
        for r in docs.groupBy("source")
        .agg(F.countDistinct("doc_id").alias("x"))
        .collect()
    }
    assert got == scratch == exact and got


def test_distinct_sketch_merge_law_and_dense_regime(spark):
    """B114: past sparse promotion the estimate is approximate
    (within the lgK=12 error envelope) and union-of-shard-sketches
    gives the SAME estimate as one sketch over the union."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.distinct_sketch import (
        build_distinct_sketches,
        rollup_distinct,
    )

    n = 50_000
    df = spark.range(n).select(
        F.lit("g").alias("g"), F.col("id"), (F.col("id") % 8).alias("shard")
    )
    sharded = build_distinct_sketches(df, ["g"], "id", shard=F.col("shard"))
    merged = rollup_distinct(sharded, ["g"]).collect()[0]
    single = rollup_distinct(
        build_distinct_sketches(df, ["g"], "id"), ["g"]
    ).collect()[0]
    assert merged["est_distinct"] == single["est_distinct"]
    assert abs(merged["est_distinct"] - n) / n < 0.05
    assert merged["n_sketches"] == 8 and merged["n_rows"] == n


def test_ind_profile_certifies_fk_skeleton(spark, sf_dir):
    """A50: the real TPC-H FK INDs certify (containment 1.0) and the
    planted non-INDs violate with the exact containment a python
    set replay computes."""
    from nass_summary_spark.plans.queries import QUERIES, _IND_CANDIDATES, _t

    out = {r["ind"]: r for r in QUERIES["ind_profile"](spark, sf_dir).collect()}
    assert len(out) == len(_IND_CANDIDATES)
    for lt, lc, rt, rc in _IND_CANDIDATES:
        lhs = {str(r[0]) for r in _t(spark, sf_dir, lt).select(lc).collect()}
        rhs = {str(r[0]) for r in _t(spark, sf_dir, rt).select(rc).collect()}
        r = out[f"{lt}.{lc}<={rt}.{rc}"]
        assert r["n_lhs_values"] == len(lhs)
        assert r["n_contained"] == len(lhs & rhs)
        assert r["holds"] == (lhs <= rhs)
    assert out["customer.c_nationkey<=nation.n_nationkey"]["holds"]
    assert not out["part.p_size<=nation.n_nationkey"]["holds"]


def test_global_rank_matches_single_window(spark):
    """B115: the two-phase distributed rank is exactly ROW_NUMBER
    over the total order, at any partitioning."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.neighborhood import global_rank

    df = (
        spark.range(997)
        .select(
            F.col("id"),
            ((F.col("id") * 7919) % 101).alias("k1"),
            ((F.col("id") * 104729) % 13).alias("k2"),
        )
        .repartition(7)
    )
    got = global_rank(df, ["k1", "k2", "id"]).select("id", "rank")
    want = df.select(
        "id",
        F.row_number()
        .over(Window.orderBy("k1", "k2", "id"))
        .cast("bigint")
        .alias("rank"),
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_sorted_neighborhood_pair_volume_and_adjacency(spark, sf_dir):
    """B115: candidate volume is exactly (w-1)n - (w-1)w/2 and every
    adjacent pair of the sort order appears at dist=1."""
    from nass_summary_spark.plans.queries import QUERIES, _t

    out = QUERIES["sorted_neighborhood_pairs"](spark, sf_dir)
    n = _t(spark, sf_dir, "customer").count()
    w = 4
    assert out.count() == (w - 1) * n - (w - 1) * w // 2
    by_dist = {r["dist"]: r["cnt"] for r in out.groupBy("dist").count()
               .withColumnRenamed("count", "cnt").collect()}
    assert by_dist == {1: n - 1, 2: n - 2, 3: n - 3}


def test_theilsen_robust_to_planted_outlier(spark):
    """A51: one corrupted point leaves the Theil-Sen slope at the
    true trend while OLS is dragged away; python replay is exact."""
    import statistics

    from pyspark.sql import functions as F

    from nass_summary_spark.operators.stats import theilsen_slopes, trend_slopes

    pts = [(float(x), 2.0 * x + 1.0) for x in range(20)]
    pts[7] = (7.0, 500.0)  # the outlier
    df = spark.createDataFrame(
        [("g", x, y) for x, y in pts], "g string, x double, y double"
    )
    ts = theilsen_slopes(df, ["g"], "x", "y").collect()[0]
    ols = trend_slopes(
        df.select("g", F.col("x").cast("bigint").alias("x"), "y"),
        ["g"], "x", "y",
    ).collect()[0]
    slopes = [
        (y2 - y1) / (x2 - x1)
        for i, (x1, y1) in enumerate(pts)
        for (x2, y2) in pts[i + 1:]
    ]
    assert ts["n_pairs"] == len(slopes) == 190
    assert ts["theil_sen_slope"] == round(statistics.median(slopes), 8)
    assert abs(ts["theil_sen_slope"] - 2.0) < 0.1
    assert abs(ols["slope"] - 2.0) > 1.0  # OLS got dragged


def test_bootstrap_ci_python_replay_and_coverage(spark):
    """A52: pure-python replay of the Poisson bootstrap agrees
    exactly (multiplicities are integer-deterministic, sums exact);
    the CI brackets the sample mean and tightens with n."""
    import hashlib
    from decimal import Decimal

    from nass_summary_spark.operators.experiment import (
        POISSON1_CDF_BUCKETS,
        bootstrap_ci_mean,
    )

    def mult(i, r):
        b = int(hashlib.md5(f"{i}:{r}".encode()).hexdigest()[:8], 16) % 1_000_000
        for k, t in enumerate(POISSON1_CDF_BUCKETS):
            if b < t:
                return k
        return len(POISSON1_CDF_BUCKETS)

    def interp_pct(xs, p):
        xs = sorted(xs)
        rank = p * (len(xs) - 1)
        lo, g = int(rank), rank - int(rank)
        return xs[lo] if g == 0 else xs[lo] + g * (xs[lo + 1] - xs[lo])

    vals = {"small": [(i, 10.0 + (i * 37 % 100) / 10.0) for i in range(60)],
            "large": [(1000 + i, 10.0 + (i * 37 % 100) / 10.0) for i in range(3000)]}
    rows = [(g, i, v) for g, pts in vals.items() for i, v in pts]
    df = spark.createDataFrame(rows, "grp string, id bigint, v double")
    out = {r["grp"]: r for r in bootstrap_ci_mean(df, ["grp"], "v", "id").collect()}

    for g, pts in vals.items():
        means = []
        for r in range(64):
            sw = sum(mult(i, r) * Decimal(str(v)).quantize(Decimal("0.0001"))
                     for i, v in pts)
            n = sum(mult(i, r) for i, _ in pts)
            means.append(float(sw) / max(n, 1))
        want_lo = round(interp_pct(means, 0.025), 6)
        want_hi = round(interp_pct(means, 0.975), 6)
        got = out[g]
        assert got["ci_lo"] == want_lo and got["ci_hi"] == want_hi, (g, got)
        sample_mean = sum(v for _, v in pts) / len(pts)
        assert got["ci_lo"] <= sample_mean <= got["ci_hi"]
    small_w = out["small"]["ci_hi"] - out["small"]["ci_lo"]
    large_w = out["large"]["ci_hi"] - out["large"]["ci_lo"]
    assert large_w < small_w / 3  # ~ sqrt(n) tightening


def test_classifier_calibration_invariants(spark, sf_dir):
    """B116: bins partition the held-out set (n sums to the B106c
    n_test), per-bin identities hold, and a perfectly-calibrated
    synthetic check passes through the same binning."""
    from nass_summary_spark.plans.queries import QUERIES

    rows = QUERIES["classifier_calibration"](spark, sf_dir).collect()
    assert rows
    n_test = QUERIES["quality_classifier_eval"](spark, sf_dir).collect()[0][
        "n_test"
    ]
    assert sum(r["n"] for r in rows) == n_test
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["avg_pred"] <= 1.0 and 0.0 <= r["pos_rate"] <= 1.0
        assert abs(r["abs_gap"] - abs(r["avg_pred"] - r["pos_rate"])) < 2e-6
        # mean prediction must sit inside (or at the edge of) its bin
        assert r["bin"] / 10 - 1e-6 <= r["avg_pred"] <= (r["bin"] + 1) / 10 + 1e-6


def test_maxsim_python_replay(spark, sf_dir):
    """B117: a pure-python replay of the quantized MaxSim scoring
    agrees exactly, and the reported top-5 is the replay's exact
    (score desc, group asc) ranking."""
    import math

    from nass_summary_spark.plans.queries import QUERIES, _t

    out = QUERIES["ann_maxsim"](spark, sf_dir).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1}
    emb = {
        r["vec_id"]: (r["label"], [float(x) for x in r["embedding"]])
        for r in _t(spark, sf_dir, "embeddings").collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    for qid, rows in by_q.items():
        qtoks = [v for i, (_, v) in emb.items() if i < 16 and i % 2 == qid]
        assert qtoks
        scores = {}
        for g in range(10):
            dvecs = [v for (lab, v) in emb.values() if lab == g]
            s = sum(
                max(math.floor(cos(q, d) * 1e6 + 0.5) for d in dvecs)
                for q in qtoks
            )
            scores[g] = s
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        got = sorted(rows, key=lambda r: r["rank"])
        for (g, s), r in zip(want, got):
            assert r["doc_group"] == g and r["maxsim"] == round(s / 1e6, 6)
        # a bag scores strictly: top maxsim >= bottom of the top-5
        assert got[0]["maxsim"] >= got[-1]["maxsim"]


def test_maxsim_rewards_per_token_coverage(spark):
    """B117 planted signal: a document covering EVERY query token
    (one aligned vector each) must outrank a document that matches
    only one token perfectly, however many copies of it it has —
    the property pooled single-vector cosine lacks."""
    from nass_summary_spark.operators.similarity import maxsim_topk

    e = lambda i: [1.0 if j == i else 0.0 for j in range(4)]  # noqa: E731
    corpus = (
        [("covers_all", 10 + i, e(i)) for i in range(3)]
        + [("one_trick", 20 + i, e(0)) for i in range(6)]
    )
    queries = [(0, 100 + i, e(i)) for i in range(3)]
    cdf = spark.createDataFrame(
        corpus, "doc string, vid bigint, embedding array<double>"
    )
    qdf = spark.createDataFrame(
        queries, "qg bigint, vid bigint, embedding array<double>"
    )
    got = sorted(
        maxsim_topk(cdf, qdf, "doc", "qg", "vid", "embedding", k=2).collect(),
        key=lambda r: r["rank"],
    )
    assert got[0]["doc_group"] == "covers_all" and got[0]["maxsim"] == 3.0
    assert got[1]["doc_group"] == "one_trick" and got[1]["maxsim"] == 1.0


def test_blocking_eval_invariants(spark, sf_dir):
    """B118: the union strategy's hits are at least each component's
    and at most their sum; recalls are hits/truth exactly; candidate
    volumes match the component generators."""
    from nass_summary_spark.plans.queries import QUERIES

    rows = {r["strategy"]: r for r in QUERIES["blocking_eval"](spark, sf_dir).collect()}
    assert set(rows) == {"block_nation", "sorted_neighborhood", "union_both"}
    n_truth = {r["n_truth"] for r in rows.values()}
    assert len(n_truth) == 1 and n_truth.pop() > 0
    bn, sn, un = (rows[k] for k in ("block_nation", "sorted_neighborhood", "union_both"))
    assert max(bn["n_hit"], sn["n_hit"]) <= un["n_hit"] <= bn["n_hit"] + sn["n_hit"]
    assert un["n_candidates"] <= bn["n_candidates"] + sn["n_candidates"]
    for r in rows.values():
        assert r["n_hit"] <= r["n_truth"] and r["n_hit"] <= r["n_candidates"]
        assert abs(r["recall"] - r["n_hit"] / r["n_truth"]) < 2e-6


def test_epoch_plan_conservation_and_temperature(spark, sf_dir):
    """B119: allocations sum to (nearly) the budget (floor slack
    < #sources), shares sum to ~1, and the temperature exponent
    up-samples small sources: share/avail-share must rise as
    availability falls."""
    from nass_summary_spark.plans.queries import _EPOCH_BUDGET, QUERIES

    rows = QUERIES["epoch_plan"](spark, sf_dir).collect()
    assert rows
    total_alloc = sum(r["alloc_tokens"] for r in rows)
    assert _EPOCH_BUDGET - len(rows) <= total_alloc <= _EPOCH_BUDGET
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    tot_avail = sum(r["avail_tokens"] for r in rows)
    boosts = [
        (r["avail_tokens"], r["share"] / (r["avail_tokens"] / tot_avail))
        for r in rows
    ]
    boosts.sort()
    # smallest source gets the largest relative boost
    assert boosts[0][1] >= boosts[-1][1]
    for r in rows:
        assert r["capped"] == (
            r["alloc_tokens"] > 4 * r["avail_tokens"]
        )
        assert abs(r["epochs"] - r["alloc_tokens"] / r["avail_tokens"]) < 2e-6


def test_cluster_eval_contingency_identities(spark, sf_dir):
    """B120: the Rand-contingency counts obey the set identities
    (pairs_both bounded by both pair totals, F1 the harmonic mean),
    and a perfect clustering run through the same contingency
    arithmetic scores exactly 1.0 everywhere."""
    from pyspark.sql import functions as F

    from nass_summary_spark.plans.queries import QUERIES

    r = QUERIES["cluster_eval"](spark, sf_dir).collect()[0]
    assert r["pairs_both"] <= min(r["pred_pairs"], r["truth_pairs"])
    assert 0.0 <= r["precision"] <= 1.0 and 0.0 <= r["recall"] <= 1.0
    want_f1 = 2 * r["pairs_both"] / max(r["pred_pairs"] + r["truth_pairs"], 1)
    assert abs(r["f1"] - want_f1) < 2e-6
    # the odd/even candidacy restriction must cost recall: strictly <1
    assert r["recall"] < 1.0
    from nass_summary_spark.plans.queries import _t

    assert r["n_entities"] == _t(spark, sf_dir, "customer").count()

    # perfect-clustering control: cluster == class
    df = spark.createDataFrame(
        [(i, f"c{i % 5}") for i in range(100)], "id bigint, cls string"
    )
    cell = df.groupBy("cls").agg(F.count(F.lit(1)).alias("n"))
    both = cell.agg(
        F.sum((F.col("n") * (F.col("n") - 1) / 2).cast("bigint")).alias("b")
    ).collect()[0]["b"]
    assert both == 5 * (20 * 19 // 2)


def test_record_linkage_editdist_python_replay(spark, sf_dir):
    """B121: pure-python Levenshtein replay over the blocked pairs
    agrees exactly on distance, best-match choice, and similarity."""
    from nass_summary_spark.plans.queries import QUERIES, _t

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_name"
    ).collect()
    by_blk = {}
    for c in cust:
        by_blk.setdefault(c["c_nationkey"], []).append(c)
    want = {}
    for blk, rows in by_blk.items():
        ls = [c for c in rows if c["c_custkey"] % 2 == 1]
        rs = [c for c in rows if c["c_custkey"] % 2 == 0]
        for lrow in ls:
            cands = sorted(
                (lev(lrow["c_name"], rrow["c_name"]), rrow["c_custkey"],
                 rrow["c_name"])
                for rrow in rs
            )
            cands = [c for c in cands if c[0] <= 3]
            if cands:
                d, rid, rname = cands[0]
                sim = round(
                    1.0 - d / max(len(lrow["c_name"]), len(rname)), 6
                )
                want[lrow["c_custkey"]] = (rid, d, sim)
    got = {
        r["lid"]: (r["rid"], r["lev"], r["sim"])
        for r in QUERIES["record_linkage_editdist"](spark, sf_dir).collect()
    }
    assert got == want and got


def test_threshold_select_conformal_behavior(spark, sf_dir):
    """B122: the threshold is exactly the interpolating 95th
    percentile of calibration-negative scores, and the achieved test
    FPR sits near the 5% target (within the small-sample conformal
    slack) with identities holding."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.classifier import (
        TRAIN_SCALE,
        logreg_train,
        score_documents_weighted,
        trained_bias,
    )
    from nass_summary_spark.operators.sampling import id_bucket
    from nass_summary_spark.plans.queries import (
        _TS_ITER,
        _TS_LR,
        QUERIES,
        _logreg_labeled_docs,
    )

    r = QUERIES["threshold_select"](spark, sf_dir).collect()[0]
    assert 0.0 < r["threshold"] < 1.0
    assert abs(r["fpr"] - 0.05) < 0.05 + 2.0 / max(r["n_cal_neg"], 1)
    assert 0.0 <= r["tpr"] <= 1.0 and r["fp"] <= r["n_test"]

    # replay the threshold: exact interpolating percentile of the
    # calibration split's negative scores
    docs = _logreg_labeled_docs(spark, sf_dir)
    b = id_bucket("doc_id", 4)
    w = logreg_train(
        docs.where(b.isin(0, 1)), "doc_id", "text", "y",
        n_iter=_TS_ITER, lr=_TS_LR,
    )
    cal = (
        score_documents_weighted(
            docs.where(b == 2), "doc_id", "text", w,
            denom=float(TRAIN_SCALE), bias=trained_bias(w),
        )
        .join(
            docs.where(b == 2).select(F.col("doc_id").alias("id"), "y"), "id"
        )
        .where(F.col("y") == 0)
        .select("quality_prob")
        .collect()
    )
    xs = sorted(row["quality_prob"] for row in cal)
    rank = 0.95 * (len(xs) - 1)
    lo, g = int(rank), rank - int(rank)
    want = xs[lo] if g == 0 else xs[lo] + g * (xs[lo + 1] - xs[lo])
    assert r["threshold"] == round(want, 6)
    assert r["n_cal_neg"] == len(xs)


def test_lsh_param_plan_python_replay(spark):
    """B123: pure-python replay of the quantized S-curve integrals
    agrees exactly; fp grows and fn shrinks with band count; chosen
    = min total cost."""
    import math

    from nass_summary_spark.operators.dedup import lsh_param_plan

    rows = {
        (r["bands"], r["rows_per_band"]): r
        for r in lsh_param_plan(spark, 32, 0.35, 100).collect()
    }
    want = {}
    for b in [1, 2, 4, 8, 16, 32]:
        rr = 32 // b
        fp = fn = 0
        for i in range(100):
            s = (i + 0.5) / 100
            p = 1.0 - (1.0 - s ** rr) ** b
            q = math.floor(p * 1e6 + 0.5)
            if s < 0.35:
                fp += q
            else:
                fn += 1_000_000 - q
        want[(b, rr)] = (fp, fn)
    assert set(rows) == set(want)
    for k, (fp, fn) in want.items():
        assert rows[k]["fp_weight"] == round(fp / 1e8, 6), k
        assert rows[k]["fn_weight"] == round(fn / 1e8, 6), k
    best = min(want, key=lambda k: (sum(want[k]), -k[0]))
    assert [k for k, r in rows.items() if r["chosen"]] == [best]
    ordered = sorted(want, key=lambda k: k[0])
    fps = [want[k][0] for k in ordered]
    fns = [want[k][1] for k in ordered]
    assert fps == sorted(fps) and fns == sorted(fns, reverse=True)


def test_split_leakage_audit_partitions_pairs(spark, sf_dir):
    """B124: the audit classifies EVERY certified near-dup pair
    exactly once, flags exactly the cross-split classes leaky, and
    the class of each pair matches an independent split replay."""
    from nass_summary_spark.operators.dedup import minhash_lsh_pairs
    from nass_summary_spark.operators.sampling import deterministic_split
    from nass_summary_spark.plans.queries import _SPLITS, QUERIES, _t

    rows = QUERIES["split_leakage_audit"](spark, sf_dir).collect()
    docs = _t(spark, sf_dir, "documents")
    n_pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perm=32, bands=8, threshold=0.35
    ).count()
    assert sum(r["n_pairs"] for r in rows) == n_pairs > 0
    split_of = {
        r["doc_id"]: r["split"]
        for r in deterministic_split(docs, "doc_id", _SPLITS)
        .select("doc_id", "split")
        .collect()
    }
    for r in rows:
        assert r["leaky"] == (r["split_a"] != r["split_b"])
        assert r["split_a"] <= r["split_b"]
        ida, idb = divmod(r["example_pair"], 100000)
        got = tuple(sorted((split_of[ida], split_of[idb])))
        assert got == (r["split_a"], r["split_b"]), r


def test_global_rank_balanced_under_constant_keys(spark):
    """B115 skew guard: a CONSTANT sort key is the pathological case
    for range partitioning (every row has the same key) — the
    appended unique-id tiebreak must keep the scatter balanced
    instead of collapsing to one partition, and ranks stay exact."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.neighborhood import global_rank

    df = spark.range(50_000).select(
        F.lit("same").alias("k"), F.col("id")
    )
    ranked = global_rank(df, ["k", "id"])
    # ranks are exactly 1..n in id order
    bad = ranked.where(F.col("rank") != F.col("id") + 1).count()
    assert bad == 0
    # partition balance: with an EXPLICIT partition count (AQE
    # coalesces implicit tiny shuffles to 1 — size-driven, not
    # key-driven), the unique-id tiebreak must spread the constant
    # key across all partitions; a key-only scatter would collapse
    # every row into one range
    parts = (
        df.repartitionByRange(8, F.col("k"), F.col("id"))
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    assert len(parts) == 8
    assert max(r["count"] for r in parts) < 12_000
    collapsed = (
        df.repartitionByRange(8, F.col("k"))
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    assert max(r["count"] for r in collapsed) == 50_000
