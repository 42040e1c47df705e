"""Round-9 session-2 additions: nonparametric stats (B131-B133) —
KS drift, grouped Spearman, per-series ACF."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from nass_summary_spark.operators.experiment import ks_drift
from nass_summary_spark.operators.stats import acf_lags, spearman_corr
from tests.conftest import await_stream


# ---------------------------------------------------------------------------
# ks_drift
# ---------------------------------------------------------------------------

def test_ks_identical_groups_score_zero(spark):
    # two groups drawn as the SAME multiset: each-vs-rest ECDFs
    # coincide at every pooled value -> D == 0 exactly
    rows = [("a", float(v)) for v in [1, 2, 2, 3, 5]] + [
        ("b", float(v)) for v in [1, 2, 2, 3, 5]
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r["g"]: r for r in ks_drift(df, "g", "v").collect()}
    assert out["a"]["ks_d"] == 0.0 and out["b"]["ks_d"] == 0.0
    assert out["a"]["n_g"] == 5 and out["a"]["n_rest"] == 5
    # tie-break: smallest value attaining the (everywhere-0) sup
    assert out["a"]["at_value"] == 1.0


def test_ks_disjoint_supports_score_one(spark):
    rows = [("lo", float(v)) for v in range(10)] + [
        ("hi", float(v + 100)) for v in range(10)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r["g"]: r for r in ks_drift(df, "g", "v").collect()}
    assert out["lo"]["ks_d"] == 1.0
    # sup first attained at the largest lo value (ECDF_lo hits 1,
    # rest still 0)
    assert out["lo"]["at_value"] == 9.0
    assert out["hi"]["ks_d"] == 1.0
    assert out["lo"]["d_scaled"] == round(math.sqrt(100 / 20), 6)


def test_ks_matches_scipy_style_bruteforce(spark):
    rng = np.random.RandomState(7)
    a = np.round(rng.normal(0, 1, 200), 1)
    b = np.round(rng.normal(0.5, 1.3, 300), 1)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {r["g"]: r["ks_d"] for r in ks_drift(df, "g", "v").collect()}
    pooled = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), pooled, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), pooled, side="right") / len(b)
    want = round(float(np.max(np.abs(fa - fb))), 6)
    assert got["a"] == want and got["b"] == want


def test_ks_null_values_and_groups_dropped(spark):
    rows = [("a", 1.0), ("a", None), (None, 2.0), ("b", 2.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r["g"]: r for r in ks_drift(df, "g", "v").collect()}
    assert out["a"]["n_g"] == 1 and out["a"]["n_rest"] == 2


# ---------------------------------------------------------------------------
# spearman_corr
# ---------------------------------------------------------------------------

def test_spearman_perfect_monotone(spark):
    rows = [("g", float(x), float(x * x)) for x in range(1, 30)]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    out = spearman_corr(df, ["g"], "x", "y").collect()
    assert out[0]["spearman_rho"] == 1.0
    anti = spark.createDataFrame(
        [("g", float(x), float(-(x ** 3))) for x in range(1, 30)],
        ["g", "x", "y"],
    )
    assert spearman_corr(anti, ["g"], "x", "y").collect()[0][
        "spearman_rho"
    ] == -1.0


def test_spearman_ties_match_scipy_formula(spark):
    # heavy tie runs in x (quantity-like) — compare to a local
    # average-rank Pearson computed with numpy
    rng = np.random.RandomState(3)
    x = rng.randint(1, 8, 150).astype(float)
    y = x * 10 + rng.normal(0, 5, 150)
    rows = [("g", float(a), float(b)) for a, b in zip(x, y)]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    got = spearman_corr(df, ["g"], "x", "y").collect()[0]["spearman_rho"]

    def avg_rank(v):
        order = np.argsort(v, kind="stable")
        ranks = np.empty(len(v))
        sv = v[order]
        i = 0
        while i < len(v):
            j = i
            while j < len(v) and sv[j] == sv[i]:
                j += 1
            ranks[order[i:j]] = (i + j + 1) / 2.0
            i = j
        return ranks

    rx, ry = avg_rank(x), avg_rank(y)
    want = np.corrcoef(rx, ry)[0, 1]
    assert got == pytest.approx(want, abs=1e-6)


def test_spearman_groups_independent(spark):
    rows = [("up", float(x), float(x)) for x in range(10)] + [
        ("dn", float(x), float(9 - x)) for x in range(10)
    ]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    out = {r["g"]: r["spearman_rho"] for r in
           spearman_corr(df, ["g"], "x", "y").collect()}
    assert out == {"up": 1.0, "dn": -1.0}


# ---------------------------------------------------------------------------
# acf_lags
# ---------------------------------------------------------------------------

def _np_acf(x: np.ndarray, k: int) -> float:
    m = x.mean()
    return float(
        np.sum((x[k:] - m) * (x[:-k] - m)) / np.sum((x - m) ** 2)
    )


def test_acf_matches_numpy(spark):
    rng = np.random.RandomState(11)
    vals = rng.randint(5, 100, 60)
    rows = [("k", i, int(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = acf_lags(df, "k", "t", "v", max_lag=3).collect()
    assert [r["lag"] for r in out] == [1, 2, 3]
    for r in out:
        assert r["n_obs"] == 60 and r["n_pairs"] == 60 - r["lag"]
        assert r["acf"] == pytest.approx(
            _np_acf(vals.astype(float), r["lag"]), abs=1e-6
        )


def test_acf_periodic_series_sign_structure(spark):
    # strict period-2 alternation: lag-1 strongly negative, lag-2
    # strongly positive
    vals = np.array([0, 10] * 30)
    rows = [("k", i, int(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = {r["lag"]: r["acf"] for r in
           acf_lags(df, "k", "t", "v", max_lag=2).collect()}
    assert out[1] < -0.9 and out[2] > 0.9
    assert out[1] == pytest.approx(_np_acf(vals.astype(float), 1), abs=1e-6)


def test_acf_constant_series_null(spark):
    rows = [("k", i, 7) for i in range(20)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    for r in acf_lags(df, "k", "t", "v", max_lag=2).collect():
        assert r["acf"] is None  # zero variance: no defined ACF


def test_acf_multiple_keys(spark):
    rows = [("a", i, i % 2 * 10) for i in range(20)] + [
        ("b", i, i) for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = acf_lags(df, "k", "t", "v", max_lag=1).collect()
    by = {r["k"]: r["acf"] for r in out}
    assert by["a"] < 0 < by["b"]


# ---------------------------------------------------------------------------
# count-min sketch (B134)
# ---------------------------------------------------------------------------

def test_countmin_one_sided_bound_and_merge(spark):
    from nass_summary_spark.operators.countmin import (
        build_countmin,
        merge_countmin,
        probe_countmin,
    )

    rng = np.random.RandomState(5)
    items = rng.zipf(1.5, 3000) % 400  # skewed frequencies
    rows = [(int(i), int(v)) for i, v in enumerate(items)]
    df = spark.createDataFrame(rows, ["rid", "item"])
    direct = build_countmin(df, [], "item", depth=4, width=64)
    sharded = merge_countmin(
        build_countmin(
            df, [], "item", depth=4, width=64, shard=F.col("rid") % 3
        ).drop("__shard"),
        [],
    )
    # mergeability law: shard-then-add == direct build, cell by cell
    a = {(r["row"], r["bucket"]): r["cnt"] for r in direct.collect()}
    b = {(r["row"], r["bucket"]): r["cnt"] for r in sharded.collect()}
    assert a == b

    truth = df.groupBy("item").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = probe_countmin(direct, truth, "item", depth=4, width=64)
    got = est.collect()
    assert len(got) > 50
    n_total = len(rows)
    over = 0
    for r in got:
        assert r["est_cnt"] >= r["true_cnt"]  # never underestimates
        over = max(over, r["est_cnt"] - r["true_cnt"])
    # width=64 on 3000 rows: loose sanity ceiling for the overcount
    assert over <= n_total


def test_countmin_exact_when_no_collisions(spark):
    from nass_summary_spark.operators.countmin import (
        build_countmin,
        probe_countmin,
    )

    rows = [(i, i % 5) for i in range(100)]
    df = spark.createDataFrame(rows, ["rid", "item"])
    sk = build_countmin(df, [], "item", depth=4, width=4096)
    truth = df.groupBy("item").agg(F.count(F.lit(1)).alias("true_cnt"))
    for r in probe_countmin(sk, truth, "item", depth=4, width=4096).collect():
        # 5 items in 4096 buckets x 4 rows: a collision in EVERY row
        # is (~5/4096)^4-improbable; md5 is fixed so this is stable
        assert r["est_cnt"] == r["true_cnt"]


# ---------------------------------------------------------------------------
# link prediction (B135)
# ---------------------------------------------------------------------------

def test_link_prediction_path_graph(spark):
    from nass_summary_spark.operators.graph import link_prediction

    # path 1-2-3: only candidate pair (1,3) via pivot 2 (deg 2)
    df = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    out = link_prediction(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["u"], r["v"], r["common_neighbors"]) == (1, 3, 1)
    assert r["adamic_adar"] == pytest.approx(
        math.floor(1 / math.log(2) * 1e6 + 0.5) / 1e6
    )


def test_link_prediction_excludes_known_edges(spark):
    from nass_summary_spark.operators.graph import link_prediction

    # triangle 1-2-3 plus pendant 4 on node 1: (2,4),(3,4) are the
    # open wedges; (2,3) is a known edge -> excluded
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], ["src", "dst"]
    )
    got = {(r["u"], r["v"]) for r in link_prediction(df).collect()}
    assert got == {(2, 4), (3, 4)}


def test_link_prediction_hub_cap_drops_pivot(spark):
    from nass_summary_spark.operators.graph import link_prediction

    # star: hub 0 with 6 spokes — capping below 6 kills every wedge
    df = spark.createDataFrame([(0, i) for i in range(1, 7)], ["src", "dst"])
    assert link_prediction(df, max_hub_degree=5).count() == 0
    assert link_prediction(df, max_hub_degree=6).count() == 15


def test_link_prediction_undirected_dedup(spark):
    from nass_summary_spark.operators.graph import link_prediction

    # duplicate and reversed edges must not double-count neighbors
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2)], ["src", "dst"]
    )
    out = link_prediction(df).collect()
    assert len(out) == 1 and out[0]["common_neighbors"] == 1


# ---------------------------------------------------------------------------
# distributed BPE training (B136)
# ---------------------------------------------------------------------------

def _bpe_replica(word_counts, n_merges):
    """Pure-Python replay of bpe_train_distributed's semantics:
    greedy left-to-right merge, ties count desc -> left asc -> right
    asc, stop below pair count 2."""
    vocab = {}
    for w, c in word_counts.items():
        vocab[tuple(w)] = vocab.get(tuple(w), 0) + c
    merges = []
    for k in range(1, n_merges + 1):
        pairs = {}
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        (a, b), pc = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if pc < 2:
            break
        merges.append((k, a, b, a + b, pc))
        new = {}
        for sym, c in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            new[key] = new.get(key, 0) + c
        vocab = new
    return merges


def test_bpe_distributed_matches_replica_random_corpus(spark):
    from nass_summary_spark.operators.bpe import bpe_train_distributed

    # tiny alphabet -> heavy pair collisions and repeated-symbol
    # runs; a boundary-unsafe replace would diverge from the replica
    rng = np.random.RandomState(17)
    words = [
        "".join(rng.choice(list("abcd"), rng.randint(2, 9)))
        for _ in range(400)
    ]
    docs = spark.createDataFrame(
        [(" ".join(words[i::40]),) for i in range(40)], ["text"]
    )
    got = [
        (r["rank"], r["pair_left"], r["pair_right"], r["merged"],
         r["pair_count"])
        for r in bpe_train_distributed(docs, "text", n_merges=8)
        .orderBy("rank").collect()
    ]
    wc = {}
    for w in words:
        wc[w] = wc.get(w, 0) + 1
    assert got == _bpe_replica(wc, 8)


def test_bpe_distributed_multichar_merge_boundaries(spark):
    from nass_summary_spark.operators.bpe import bpe_train_distributed

    # forces a merge whose LEFT side is itself a merged multi-char
    # symbol ("jo" + "in"): mid-symbol matches would corrupt "xjoin"
    docs = spark.createDataFrame(
        [("join join join joins xjoin nojo",)], ["text"]
    )
    out = bpe_train_distributed(docs, "text", n_merges=4).collect()
    merged = [r["merged"] for r in out]
    wc = {"join": 3, "joins": 1, "xjoin": 1, "nojo": 1}
    assert [
        (r["rank"], r["pair_left"], r["pair_right"], r["merged"],
         r["pair_count"])
        for r in out
    ] == _bpe_replica(wc, 4)
    assert "join" in merged  # the 4-char unit is actually learned


def test_bpe_distributed_early_stop(spark):
    from nass_summary_spark.operators.bpe import bpe_train_distributed

    # every pair unique -> best count 1 -> zero merges learned
    docs = spark.createDataFrame([("ab cd ef",)], ["text"])
    assert bpe_train_distributed(docs, "text", n_merges=5).count() == 0


# ---------------------------------------------------------------------------
# bpe_segment_stats (B137)
# ---------------------------------------------------------------------------

def test_bpe_segment_stats_closed_form(spark):
    from nass_summary_spark.operators.bpe import bpe_segment_stats

    # merges learned: (a,b) pc=4 then (ab,ab) pc=2; (c,d) pc=1 stops.
    # final: "abab" -> 1 token, "cd" -> 2 tokens
    docs = spark.createDataFrame(
        [("s1", "abab abab cd")], ["source", "text"]
    )
    out = bpe_segment_stats(docs, "text", "source", n_merges=4).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_words"], r["n_tokens"], r["n_chars"]) == (3, 4, 10)
    assert r["tokens_per_word"] == round(4 / 3, 6)
    assert r["compression_ratio"] == 0.4


def test_bpe_segment_stats_out_of_distribution_source(spark):
    from nass_summary_spark.operators.bpe import bpe_segment_stats

    # merges learn s1's vocabulary; s2's alien words stay ~1
    # token/char (no merge applies)
    docs = spark.createDataFrame(
        [("s1", "the the the the and and and"),
         ("s2", "zq xv pk")],
        ["source", "text"],
    )
    out = {r["source"]: r for r in
           bpe_segment_stats(docs, "text", "source", n_merges=6).collect()}
    assert out["s1"]["compression_ratio"] < 0.5
    assert out["s2"]["compression_ratio"] == 1.0  # chars == tokens


# ---------------------------------------------------------------------------
# hll pairwise overlap (B138)
# ---------------------------------------------------------------------------

def test_pairwise_overlap_small_sets_exact(spark):
    from nass_summary_spark.operators.distinct_sketch import (
        build_distinct_sketches,
        pairwise_overlap,
    )

    rows = [("X", str(i)) for i in range(1, 11)] + [
        ("Y", str(i)) for i in range(6, 16)
    ] + [("Z", str(i)) for i in range(100, 105)]
    k = spark.createDataFrame(rows, ["g", "key"])
    sk = build_distinct_sketches(k, ["g"], "key", lg_k=21)
    out = {(r["type_a"], r["type_b"]): r for r in pairwise_overlap(
        sk.select("g", "sketch"), "g", exact_keys=k
    ).collect()}
    xy = out[("X", "Y")]
    assert xy["est_a"] == 10 and xy["est_b"] == 10
    assert xy["est_union"] == 15 and xy["est_overlap"] == 5
    assert xy["exact_overlap"] == 5
    xz = out[("X", "Z")]
    assert xz["est_overlap"] == 0 and xz["exact_overlap"] == 0


def test_pairwise_overlap_sketch_only_mode(spark):
    from nass_summary_spark.operators.distinct_sketch import (
        build_distinct_sketches,
        pairwise_overlap,
    )

    rows = [("A", str(i)) for i in range(20)] + [
        ("B", str(i)) for i in range(10, 30)
    ]
    k = spark.createDataFrame(rows, ["g", "key"])
    sk = build_distinct_sketches(k, ["g"], "key", lg_k=21)
    out = pairwise_overlap(sk.select("g", "sketch"), "g").collect()
    assert len(out) == 1 and out[0]["est_overlap"] == 10
    assert "exact_overlap" not in out[0].asDict()


# ---------------------------------------------------------------------------
# ucb_allocation (B139)
# ---------------------------------------------------------------------------

def test_ucb_allocation_matches_closed_form(spark):
    from nass_summary_spark.operators.experiment import ucb_allocation

    rows = [("a", 1.0)] * 40 + [("b", 2.0)] * 10 + [("c", 0.5)] * 50
    df = spark.createDataFrame(rows, ["arm", "reward"])
    out = {r["arm"]: r for r in
           ucb_allocation(df, "arm", "reward").collect()}
    N = 100
    fp = {}
    for arm, mean, n in [("a", 1.0, 40), ("b", 2.0, 10), ("c", 0.5, 50)]:
        ucb = mean + math.sqrt(2 * math.log(N) / n)
        fp[arm] = math.floor(ucb * 1e6 + 0.5)
        assert out[arm]["ucb_score"] == pytest.approx(fp[arm] / 1e6)
        assert out[arm]["mean_reward"] == mean
        assert out[arm]["n"] == n
    tot = sum(fp.values())
    for arm in fp:
        assert out[arm]["alloc_share"] == round(fp[arm] / tot, 6)
    # under-sampled arm keeps a larger explore bonus
    assert (out["b"]["ucb_score"] - 2.0) > (out["a"]["ucb_score"] - 1.0)


def test_ucb_allocation_shares_sum_to_one(spark):
    from nass_summary_spark.operators.experiment import ucb_allocation

    rng = np.random.RandomState(9)
    rows = [(f"arm{i % 7}", float(rng.rand())) for i in range(500)]
    df = spark.createDataFrame(rows, ["arm", "reward"])
    shares = [r["alloc_share"] for r in
              ucb_allocation(df, "arm", "reward").collect()]
    assert sum(shares) == pytest.approx(1.0, abs=1e-5)


# ---------------------------------------------------------------------------
# emd_drift (B140)
# ---------------------------------------------------------------------------

def test_emd_identical_groups_zero(spark):
    from nass_summary_spark.operators.experiment import emd_drift

    rows = [("a", v) for v in [1, 2, 2, 5]] + [
        ("b", v) for v in [1, 2, 2, 5]
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    for r in emd_drift(df, "g", "v").collect():
        assert r["emd"] == 0.0


def test_emd_matches_numpy_w1(spark):
    from nass_summary_spark.operators.experiment import emd_drift

    rng = np.random.RandomState(23)
    a = rng.randint(1, 60, 200)
    b = rng.randint(20, 90, 300)
    rows = [("a", int(v)) for v in a] + [("b", int(v)) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {r["g"]: r["emd"] for r in emd_drift(df, "g", "v").collect()}
    pooled = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), pooled, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), pooled, side="right") / len(b)
    gaps = np.diff(pooled)
    want = float(np.sum(np.abs(fa - fb)[:-1] * gaps))
    assert got["a"] == pytest.approx(want, abs=1e-5)
    assert got["b"] == pytest.approx(want, abs=1e-5)


def test_emd_shift_equals_distance(spark):
    from nass_summary_spark.operators.experiment import emd_drift

    # shifting a distribution by +c moves every unit of mass c:
    # W1 == c exactly
    rows = [("a", v) for v in range(10)] + [
        ("b", v + 7) for v in range(10)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r["g"]: r["emd"] for r in emd_drift(df, "g", "v").collect()}
    assert out["a"] == pytest.approx(7.0, abs=1e-6)


# ---------------------------------------------------------------------------
# streaming count-min ingest (C29) + freq-cap gate (B141)
# ---------------------------------------------------------------------------

def test_countmin_stream_matches_direct_build(
    spark, sf_dir, tmp_path_factory
):
    from nass_summary_spark.operators.countmin import build_countmin
    from nass_summary_spark.streaming.sketch_stream import (
        countmin_ingest_stream,
        rollup_stream_countmin,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("user_id").isNotNull()
    ).select("event_type", "user_id")
    d = str(tmp_path_factory.mktemp("cms_stream_in"))
    ev.repartition(4).write.mode("overwrite").parquet(d)
    sk = str(tmp_path_factory.mktemp("cms_shards"))
    ck = str(tmp_path_factory.mktemp("cms_ck"))

    stream_in = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = countmin_ingest_stream(stream_in, [], "user_id", sk, ck)
    await_stream(q, 120)

    merged = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in rollup_stream_countmin(spark, sk, []).collect()
    }
    direct = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in build_countmin(ev, [], "user_id").collect()
    }
    # addition-mergeability across the engine's own micro-batch
    # split: cell-for-cell identical counters
    assert merged == direct and merged


def test_freq_cap_gate_conserves_rows(spark):
    from nass_summary_spark.plans.queries import QUERIES

    out = QUERIES["freq_cap_gate"](spark, "/root/testdata/sf0.001")
    for r in out.collect():
        assert r["n_capped"] + r["n_kept"] == r["n_rows"]


# ---------------------------------------------------------------------------
# prefix_filter_join (B142)
# ---------------------------------------------------------------------------

def _brute_jaccard_pairs(sets, t):
    ids = sorted(sets)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= t:
                out[(a, b)] = inter
    return out


def test_prefix_filter_matches_bruteforce(spark):
    from nass_summary_spark.operators.dedup import prefix_filter_join

    rng = np.random.RandomState(31)
    vocab = [f"t{i}" for i in range(40)]
    sets = {}
    for d in range(60):
        base = set(
            map(str, rng.choice(vocab, rng.randint(4, 12), replace=False))
        )
        sets[d] = base
        if rng.rand() < 0.3:  # planted near-dup: drop one element
            dup = set(base)
            if len(dup) > 4:
                dup.discard(sorted(dup)[0])
            sets[d + 1000] = dup
    rows = [(i, t) for i, s in sets.items() for t in s]
    tokens = spark.createDataFrame(rows, ["id", "tok"])
    for t in (0.5, 0.8):
        got = {
            (r["id_a"], r["id_b"]): r["inter"]
            for r in prefix_filter_join(tokens, "id", "tok", t).collect()
        }
        assert got == _brute_jaccard_pairs(sets, t)  # lossless


def test_prefix_filter_exact_duplicates(spark):
    from nass_summary_spark.operators.dedup import prefix_filter_join

    rows = [(1, t) for t in "abcde"] + [(2, t) for t in "abcde"]
    tokens = spark.createDataFrame(rows, ["id", "tok"])
    out = prefix_filter_join(tokens, "id", "tok", 1.0).collect()
    assert len(out) == 1 and out[0]["jac"] == 1.0
    assert out[0]["inter"] == 5


def test_prefix_filter_threshold_validation(spark):
    from nass_summary_spark.operators.dedup import prefix_filter_join

    tokens = spark.createDataFrame([(1, "a")], ["id", "tok"])
    with pytest.raises(ValueError, match="threshold"):
        prefix_filter_join(tokens, "id", "tok", 0.0)


# ---------------------------------------------------------------------------
# zorder_layout (B143)
# ---------------------------------------------------------------------------

def _py_z(x, y, bits=10):
    z = 0
    for b in range(bits):
        z += ((x >> b) & 1) << (2 * b)
        z += ((y >> b) & 1) << (2 * b + 1)
    return z


def test_z_value_matches_python_interleave(spark):
    from nass_summary_spark.operators.zorder import z_value

    rng = np.random.RandomState(41)
    pts = [(int(a), int(b)) for a, b in rng.randint(0, 1024, (200, 2))]
    df = spark.createDataFrame(pts, ["x", "y"])
    out = df.select(
        "x", "y", z_value(F.col("x"), F.col("y")).alias("z")
    ).collect()
    for r in out:
        assert r["z"] == _py_z(r["x"], r["y"])


def test_zorder_buckets_are_quadrants(spark):
    from nass_summary_spark.operators.zorder import zorder_layout

    # 16 equi-width z buckets = the top 4 z bits = 2 bits per
    # dimension: every bucket's bbox fits a 256x256 quadrant no
    # matter what the data looks like — the pruning guarantee
    rng = np.random.RandomState(43)
    pts = [(int(a), int(b)) for a, b in rng.randint(0, 1024, (3000, 2))]
    df = spark.createDataFrame(pts, ["x", "y"])
    out = zorder_layout(df, F.col("x"), F.col("y")).collect()
    assert sum(r["n_rows"] for r in out) == 3000
    for r in out:
        assert r["x_span"] <= 255 and r["y_span"] <= 255
        assert r["x_min"] % 256 + r["x_span"] <= 256


# ---------------------------------------------------------------------------
# neyman_allocation (B144)
# ---------------------------------------------------------------------------

def test_neyman_closed_form_two_strata(spark):
    from nass_summary_spark.operators.sampling import neyman_allocation

    # stratum a: N=4, values 0/10 alternating -> sigma = sqrt(100/3)
    # stratum b: N=4, constant -> sigma 0 -> no budget
    rows = [("a", v) for v in (0.0, 10.0, 0.0, 10.0)] + [
        ("b", 5.0)
    ] * 4
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r["stratum"]: r for r in
           neyman_allocation(df, "g", "v", total_n=100).collect()}
    assert out["a"]["alloc_n"] == 100 and out["b"]["alloc_n"] == 0
    assert out["a"]["sigma"] == round(math.sqrt(100 / 3), 6)


def test_neyman_sums_exactly_and_tracks_volatility(spark):
    from nass_summary_spark.operators.sampling import neyman_allocation

    rng = np.random.RandomState(47)
    rows = (
        [("low", float(v)) for v in rng.normal(50, 1, 300)]
        + [("high", float(v)) for v in rng.normal(50, 20, 300)]
        + [("tiny", float(v)) for v in rng.normal(50, 20, 10)]
    )
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r["stratum"]: r["alloc_n"] for r in
           neyman_allocation(df, "g", "v", total_n=997).collect()}
    assert sum(out.values()) == 997  # largest remainder: exact total
    # equal N, 20x sigma -> high gets ~20x low's budget
    assert out["high"] > 10 * out["low"]
    # equal sigma, 30x N -> tiny gets ~N-proportional budget
    assert out["tiny"] < out["high"]


def test_neyman_singleton_stratum_zero_weight(spark):
    from nass_summary_spark.operators.sampling import neyman_allocation

    rows = [("a", 1.0), ("a", 9.0), ("only", 42.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r["stratum"]: r for r in
           neyman_allocation(df, "g", "v", total_n=10).collect()}
    assert out["only"]["alloc_n"] == 0 and out["only"]["sigma"] == 0.0
    assert out["a"]["alloc_n"] == 10


# ---------------------------------------------------------------------------
# sample_diversity (B145)
# ---------------------------------------------------------------------------

def test_sample_diversity_invariants(spark):
    from nass_summary_spark.plans.queries import QUERIES

    out = QUERIES["sample_diversity"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_docs_sampled"] <= r["n_docs"]
        assert 0 <= r["n_covered"] <= r["n_trigrams"]
        assert 0.0 <= r["coverage"] <= 1.0


# ---------------------------------------------------------------------------
# drift_panel (B146) / equidepth_histogram (B147)
# ---------------------------------------------------------------------------

def test_drift_panel_consistent_with_members(spark):
    from nass_summary_spark.operators.experiment import (
        drift_panel,
        emd_drift,
    )

    rng = np.random.RandomState(53)
    rows = [("a", int(v)) for v in rng.randint(1, 50, 200)] + [
        ("b", int(v)) for v in rng.randint(30, 120, 200)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    panel = {r["g"]: r for r in drift_panel(df, "g", "v").collect()}
    ks = {r["g"]: r for r in ks_drift(df, "g", "v").collect()}
    em = {r["g"]: r for r in emd_drift(df, "g", "v").collect()}
    for g in ("a", "b"):
        assert panel[g]["ks_d"] == ks[g]["ks_d"]
        assert panel[g]["d_scaled"] == ks[g]["d_scaled"]
        assert panel[g]["emd"] == em[g]["emd"]
        assert panel[g]["severity"] in (0, 1, 2)
    # two clearly-shifted halves: both flags fire
    assert panel["a"]["severity"] == 2


def test_drift_panel_no_drift_severity_zero(spark):
    from nass_summary_spark.operators.experiment import drift_panel

    rows = [("a", v) for v in range(50)] + [("b", v) for v in range(50)]
    df = spark.createDataFrame(rows, ["g", "v"])
    for r in drift_panel(df, "g", "v").collect():
        assert r["severity"] == 0 and r["ks_d"] == 0.0


def test_equidepth_balanced_on_continuous_data(spark):
    from nass_summary_spark.operators.stats import equidepth_histogram

    rng = np.random.RandomState(59)
    df = spark.createDataFrame(
        [(float(v),) for v in rng.lognormal(3, 1, 4000)], ["v"]
    )
    out = equidepth_histogram(df, "v", n_buckets=8).collect()
    assert [r["bucket"] for r in out] == list(range(8))
    assert sum(r["n_rows"] for r in out) == 4000
    for r in out:
        # equi-DEPTH: every bucket near 1/8 even on lognormal skew
        assert abs(r["share"] - 0.125) < 0.01
    los = [r["lo"] for r in out]
    his = [r["hi"] for r in out]
    assert los == sorted(los) and his == sorted(his)
    for a_hi, b_lo in zip(his, los[1:]):
        assert a_hi <= b_lo  # disjoint ranges


def test_equidepth_massive_ties_lump_into_one_bucket(spark):
    from nass_summary_spark.operators.stats import equidepth_histogram

    # 90% of rows are the same value: ties cannot be split across a
    # boundary — the dominant value lands in ONE bucket
    rows = [(5.0,)] * 900 + [(float(v),) for v in range(100)]
    df = spark.createDataFrame(rows, ["v"])
    out = equidepth_histogram(df, "v", n_buckets=4).collect()
    assert sum(r["n_rows"] for r in out) == 1000
    biggest = max(out, key=lambda r: r["n_rows"])
    assert biggest["n_rows"] >= 900
    assert biggest["lo"] <= 5.0 <= biggest["hi"]


# ---------------------------------------------------------------------------
# pseudonymize_key (B148) / linkage_review_queue (B149)
# ---------------------------------------------------------------------------

def test_pseudonymize_referential_integrity(spark):
    from nass_summary_spark.operators.encoding import pseudonymize_key

    dim = spark.createDataFrame([(k, f"d{k}") for k in range(50)],
                                ["k", "attr"])
    fact = spark.createDataFrame([(i, i % 50) for i in range(500)],
                                 ["fid", "k"])
    dp = dim.select(pseudonymize_key("k", "salt").alias("p"), "attr")
    fp = fact.select("fid", pseudonymize_key("k", "salt").alias("p"))
    # every fact row still finds exactly one dim row
    assert fp.join(dp, "p").count() == 500
    # pseudonyms are injective on this domain and always positive
    assert dp.select("p").distinct().count() == 50
    assert dp.where(F.col("p") < 0).count() == 0


def test_pseudonymize_salt_separates_universes(spark):
    from nass_summary_spark.operators.encoding import pseudonymize_key

    df = spark.createDataFrame([(k,) for k in range(100)], ["k"])
    a = df.select(pseudonymize_key("k", "sA").alias("p"))
    b = df.select(pseudonymize_key("k", "sB").alias("p"))
    # different salts share no pseudonyms: un-linkable across releases
    assert a.join(b, "p").count() == 0


def test_linkage_review_queue_uncertainty_order(spark):
    from nass_summary_spark.plans.queries import QUERIES

    out = QUERIES["linkage_review_queue"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert 0 < len(out) <= 50
    uncs = [r["uncertainty"] for r in out]
    assert uncs == sorted(uncs)  # most uncertain first
    for r in out:
        assert 0.0 <= r["posterior"] <= 1.0
        assert abs(abs(r["posterior"] - 0.5) - r["uncertainty"]) < 1e-9


# ---------------------------------------------------------------------------
# hard_negatives (B150) / dp_noisy_counts (B151)
# ---------------------------------------------------------------------------

def test_hard_negatives_label_exclusion_and_order(spark):
    from nass_summary_spark.operators.similarity import hard_negatives

    rng = np.random.RandomState(61)
    rows = [
        (i, int(i % 3), [float(x) for x in rng.normal(0, 1, 8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = hard_negatives(
        df, df.where(F.col("vec_id") < 5), "vec_id", "embedding",
        "label", k=4,
    ).collect()
    by_anchor = {}
    for r in out:
        assert r["neighbor_label"] != r["anchor_label"]
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    assert set(by_anchor) == set(range(5))
    vecs = {i: np.array(v) for i, lb, v in rows}
    lbls = {i: lb for i, lb, v in rows}
    for a, nbrs in by_anchor.items():
        nbrs.sort(key=lambda r: r["rank"])
        cos = {
            j: round(float(
                vecs[a] @ vecs[j]
                / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[j]))
            ), 6)
            for j in vecs if lbls[j] != lbls[a]
        }
        want = sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
        assert [(r["neighbor_id"], r["cosine"]) for r in nbrs] == want


def test_dp_noise_deterministic_and_salted(spark):
    from nass_summary_spark.operators.encoding import dp_noisy_counts

    rows = [(f"g{i % 7}",) for i in range(700)]
    df = spark.createDataFrame(rows, ["g"])
    a = {r["g"]: r for r in dp_noisy_counts(df, ["g"]).collect()}
    b = {r["g"]: r for r in dp_noisy_counts(df, ["g"]).collect()}
    assert a.keys() == b.keys()
    for g in a:
        assert a[g]["noise"] == b[g]["noise"]  # seeded: replayable
        assert a[g]["n_noised"] == round(
            a[g]["n_true"] + a[g]["noise"], 6
        )
    c = {r["g"]: r["noise"] for r in
         dp_noisy_counts(df, ["g"], salt="other").collect()}
    assert any(c[g] != a[g]["noise"] for g in c)  # salt moves noise


def test_dp_noise_scale_tracks_epsilon(spark):
    from nass_summary_spark.operators.encoding import dp_noisy_counts

    rows = [(f"g{i}",) for i in range(200)]
    df = spark.createDataFrame(rows, ["g"])
    n1 = [abs(r["noise"]) for r in dp_noisy_counts(df, ["g"], 1.0).collect()]
    n4 = [abs(r["noise"]) for r in dp_noisy_counts(df, ["g"], 4.0).collect()]
    # Laplace scale 1/eps: quadrupling eps shrinks |noise| 4x
    for a, b in zip(n1, n4):
        assert b == pytest.approx(a / 4, abs=1e-5)
    # median |noise| ~ ln(2)/eps for eps=1: loose two-sided sanity
    med = sorted(n1)[len(n1) // 2]
    assert 0.3 < med < 1.6


def test_prefix_filter_group_cap_bounds_hot_tokens(spark):
    from nass_summary_spark.operators.dedup import prefix_filter_join

    # 20 mutually-near-identical sets: every pair is a true match and
    # every prefix token is shared by all 20 — the copy-explosion
    # shape. Uncapped: all C(20,2)=190 pairs. Capped below 20: the
    # hot prefix tokens stop generating candidates, so the join
    # returns nothing — the documented bounded-cost trade.
    rows = [(i, t) for i in range(20) for t in ("a", "b", "c", "d")]
    tokens = spark.createDataFrame(rows, ["id", "tok"])
    full = prefix_filter_join(tokens, "id", "tok", 0.9)
    assert full.count() == 190
    capped = prefix_filter_join(
        tokens, "id", "tok", 0.9, max_prefix_group=10
    )
    assert capped.count() == 0
    # a sub-cap rare token still routes its pair through the cap
    rows += [(100, t) for t in ("x", "y", "z")] + [
        (101, t) for t in ("x", "y", "z")
    ]
    tokens2 = spark.createDataFrame(rows, ["id", "tok"])
    got = prefix_filter_join(
        tokens2, "id", "tok", 0.9, max_prefix_group=10
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(100, 101)}
