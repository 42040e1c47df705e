"""Property-based tests (hypothesis): invariants that must hold for
ANY input, not just the hand-picked frames — the distributed
re-expressions must be exactly equivalent to their sequential
definitions regardless of data shape, key skew, or partitioning.

Examples are kept small (each one builds a DataFrame and runs Spark
jobs) and deadlines disabled (JVM warm-up makes wall-clock noisy).
"""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# small alphabets force key collisions / skew
keys_st = st.lists(
    st.tuples(st.sampled_from("abc"), st.integers(-100, 100)),
    min_size=1,
    max_size=30,
)

paths_st = st.lists(
    st.tuples(
        st.lists(st.sampled_from("xyz"), min_size=1, max_size=3),
        st.integers(0, 50),
    ),
    min_size=1,
    max_size=20,
)


@given(rows=keys_st)
@SETTINGS
def test_salted_agg_equals_plain_groupby(spark, rows):
    from nass_summary_spark.operators.skew import salted_agg

    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        (r["k"],): (r["s"], r["n"])
        for r in salted_agg(df, ["k"], {"s": ("sum", "v"), "n": ("count", "v")},
                            salt_buckets=4).collect()
    }
    want = {
        (k,): (sum(v for kk, v in rows if kk == k), sum(1 for kk, _ in rows if kk == k))
        for k, _ in rows
    }
    assert got == want


@given(rows=paths_st)
@SETTINGS
def test_path_rollup_parent_equals_sum_of_descendant_rows(spark, rows):
    from nass_summary_spark.operators.rollup import path_rollup

    df = spark.createDataFrame(rows, ["path", "v"])
    got = {
        tuple(r["path"]): r["total"]
        for r in path_rollup(df, "path", [], {"total": ("sum", "v")}).collect()
    }
    # sequential definition: every prefix accumulates every row it
    # prefixes, the empty prefix (the root) included
    want: Counter = Counter()
    for path, v in rows:
        for i in range(0, len(path) + 1):
            want[tuple(path[:i])] += v
    assert got[()] == sum(v for _, v in rows)
    assert got == dict(want)


@given(
    ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=40, unique=True),
    extra=st.lists(st.integers(10_001, 20_000), min_size=0, max_size=10, unique=True),
)
@SETTINGS
def test_deterministic_split_is_total_and_growth_stable(spark, ids, extra):
    from nass_summary_spark.operators.sampling import deterministic_split

    def assign(id_list):
        df = spark.createDataFrame([(i,) for i in id_list], ["id"])
        return {r["id"]: r["split"] for r in deterministic_split(df, "id").collect()}

    small = assign(ids)
    assert set(small) == set(ids)  # every row gets exactly one split
    grown = assign(ids + extra)
    # leakage safety: adding data never moves an existing id's split
    assert all(grown[i] == small[i] for i in ids)


pack_st = st.lists(
    st.tuples(st.sampled_from("pq"), st.integers(0, 40)),
    min_size=1,
    max_size=25,
)


@given(rows=pack_st)
@SETTINGS
def test_pack_token_bins_equals_sequential_packing(spark, rows):
    """The windowed bin decomposition must equal the sequential
    definition: walk each partition's docs in order, append tokens
    to a stream, cut every `budget` tokens — for ANY doc sizes,
    including zero-token docs (dropped) and docs spanning several
    bins (size >> budget)."""
    from nass_summary_spark.operators.packing import pack_token_bins

    budget = 7
    data = [(i, part, n) for i, (part, n) in enumerate(rows)]
    df = spark.createDataFrame(data, ["doc_id", "part", "n_tok"])
    got = {
        (r["part"], r["bin"]): (r["n_docs"], r["n_whole_docs"], r["n_tokens"])
        for r in pack_token_bins(df, "doc_id", "part", "n_tok", budget=budget).collect()
    }

    want: dict[tuple[str, int], list[int]] = {}
    offsets: dict[str, int] = {}
    for _i, part, n in data:
        if n == 0:
            continue
        start = offsets.get(part, 0)
        offsets[part] = start + n
        first_bin, last_bin = start // budget, (start + n - 1) // budget
        for b in range(first_bin, last_bin + 1):
            lo, hi = b * budget, (b + 1) * budget
            tok = min(start + n - 1, hi - 1) - max(start, lo) + 1
            agg = want.setdefault((part, b), [0, 0, 0])
            agg[0] += 1
            agg[1] += 1 if (start >= lo and start + n - 1 < hi) else 0
            agg[2] += tok
    assert got == {k: tuple(v) for k, v in want.items()}


changes_st = st.lists(
    st.tuples(
        st.sampled_from("pq"),              # key
        st.integers(0, 20),                 # ts
        st.sampled_from("AB"),              # attr
    ),
    min_size=1,
    max_size=25,
)


@given(rows=changes_st)
@SETTINGS
def test_scd2_intervals_chain_and_single_current(spark, rows):
    """SCD2 invariants for ANY change log: per key, version k's
    valid_to equals version k+1's valid_from, exactly one row is
    current (valid_to NULL), and version numbers are 1..n dense."""
    from nass_summary_spark.operators.merge import scd2_history

    df = spark.createDataFrame(rows, ["k", "ts", "attr"])
    out = scd2_history(df, "k", "ts", ["attr"]).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    assert sum(len(v) for v in by_key.values()) == len(rows)
    for k, versions in by_key.items():
        versions.sort(key=lambda r: r["version"])
        assert [r["version"] for r in versions] == list(range(1, len(versions) + 1))
        assert sum(1 for r in versions if r["is_current"]) == 1
        assert versions[-1]["is_current"] and versions[-1]["valid_to"] is None
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["valid_from"] <= a["valid_to"]


snap_st = st.lists(st.integers(0, 15), min_size=0, max_size=12, unique=True)


@given(old_keys=snap_st, new_keys=snap_st, changed=st.sets(st.integers(0, 15)))
@SETTINGS
def test_snapshot_diff_set_arithmetic(spark, old_keys, new_keys, changed):
    """snapshot_diff must reproduce exact set arithmetic for ANY pair
    of snapshots: added = new−old, removed = old−new, changed =
    (old∩new with a different value), unchanged = the rest."""
    from nass_summary_spark.operators.merge import snapshot_diff

    if not old_keys and not new_keys:
        return
    old = spark.createDataFrame([(k, 1.0) for k in old_keys] or [(99, 1.0)], ["k", "v"])
    new = spark.createDataFrame(
        [(k, 2.0 if k in changed else 1.0) for k in new_keys] or [(99, 1.0)], ["k", "v"]
    )
    if not old_keys:
        old = old.where(F.lit(False))
    if not new_keys:
        new = new.where(F.lit(False))
    got = {r["k"]: r["status"] for r in snapshot_diff(old, new, ["k"], ["v"]).collect()}
    o, n = set(old_keys), set(new_keys)
    want = {}
    for k in o | n:
        if k not in o:
            want[k] = "added"
        elif k not in n:
            want[k] = "removed"
        elif k in changed:
            want[k] = "changed"
        else:
            want[k] = "unchanged"
    assert got == want


docs_st = st.lists(
    st.lists(st.sampled_from(["w%d" % i for i in range(6)]), min_size=0, max_size=12),
    min_size=1,
    max_size=8,
)


@given(docs=docs_st)
@SETTINGS
def test_duplicate_passages_matches_bruteforce(spark, docs):
    """duplicate_passages must agree with a sequential re-computation
    of shared n-gram spans for ANY corpus (n=3 to exercise short
    docs, boundary docs with <n words, and heavy duplication)."""
    from nass_summary_spark.operators.dedup import duplicate_passages

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["id"]: (r["n_grams"], r["n_dup_grams"]) for r in
           duplicate_passages(df, "doc_id", "text", n=3).collect()}
    grams = {}
    for i, ws in enumerate(docs):
        gs = [" ".join(ws[j:j + 3]) for j in range(len(ws) - 2)]
        grams[i] = gs
    from collections import Counter
    doc_freq = Counter()
    for i, gs in grams.items():
        for g in set(gs):
            doc_freq[g] += 1
    want = {}
    for i, gs in grams.items():
        if gs:
            want[i] = (len(gs), sum(1 for g in gs if doc_freq[g] > 1))
    assert got == want


intervals_st = st.lists(
    st.tuples(
        st.sampled_from("pq"),
        st.integers(0, 40),
        st.integers(0, 15),
    ),
    min_size=1,
    max_size=25,
)


@given(rows=intervals_st)
@SETTINGS
def test_interval_merge_spans_are_disjoint_and_cover_union(spark, rows):
    """For ANY interval set: merged spans per key are pairwise
    disjoint with gaps between them, their point-union equals the
    input union, and interval counts are preserved."""
    from nass_summary_spark.operators.stats import interval_merge

    data = [(k, float(lo), float(lo + w)) for k, lo, w in rows]
    df = spark.createDataFrame(data, ["k", "lo", "hi"])
    got = {}
    for r in interval_merge(df, ["k"], "lo", "hi").collect():
        got.setdefault(r["k"], []).append(
            (r["span_lo"], r["span_hi"], r["n_intervals"])
        )
    for k in got:
        spans = sorted(got[k])
        for (l1, h1, _), (l2, _, _) in zip(spans, spans[1:]):
            assert h1 < l2  # disjoint with a genuine gap
    # coverage + counts vs the sequential definition
    for k in set(r[0] for r in data):
        nonempty = [(lo, hi) for kk, lo, hi in data if kk == k and lo < hi]
        union_pts = set()
        for lo, hi in nonempty:
            union_pts.update(range(int(lo), int(hi)))
        span_pts = set()
        for lo, hi, _ in got.get(k, []):
            span_pts.update(range(int(lo), int(hi)))
        assert span_pts == union_pts
        assert sum(n for _, _, n in got.get(k, [])) == len(nonempty)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.integers(1, 9)),
        min_size=1, max_size=40, unique_by=lambda t: t[0],
    )
)
@SETTINGS
def test_shard_plan_positions_gapless_offsets_exact(spark, rows):
    from nass_summary_spark.operators.sampling import shard_plan

    df = spark.createDataFrame(rows, ["doc_id", "tok"])
    out = shard_plan(df, "doc_id", "tok", n_shards=3).collect()
    toks = dict(rows)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(out) == len(rows)
    for members in by_shard.values():
        members.sort(key=lambda r: r["position"])
        assert [m["position"] for m in members] == list(range(1, len(members) + 1))
        running = 0
        for m in members:
            running += toks[m["doc_id"]]
            assert m["cum_tokens"] == running


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 300), st.integers(1, 20)),
        min_size=1, max_size=30, unique_by=lambda t: t[0],
    ),
    k=st.integers(1, 10),
)
@SETTINGS
def test_weighted_sample_size_and_membership(spark, rows, k):
    """Sample size is min(k, n), every sampled id is an input id,
    and the selection is a pure function of (ids, weights)."""
    from nass_summary_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(rows, ["doc_id", "w"])
    s = sorted(r["doc_id"] for r in weighted_sample(df, "doc_id", "w", k=k).collect())
    assert len(s) == min(k, len(rows))
    ids = {i for i, _ in rows}
    assert all(i in ids for i in s)
    s2 = sorted(r["doc_id"] for r in weighted_sample(df, "doc_id", "w", k=k).collect())
    assert s == s2


cdc_st = st.lists(
    st.tuples(
        st.integers(1, 8),                 # key (small → collisions)
        st.integers(1, 6),                 # seq
        st.sampled_from(["U", "D", "I"]),  # op
        st.integers(-50, 50),              # payload
    ),
    min_size=0,
    max_size=25,
)


@given(base=st.lists(st.tuples(st.integers(1, 8), st.integers(-50, 50)),
                     min_size=0, max_size=8, unique_by=lambda t: t[0]),
       changes=cdc_st)
@SETTINGS
def test_cdc_apply_equals_dict_replay(spark, base, changes):
    """cdc_apply == a sequential dict replay of the changelog in
    sequence order, for ANY base/changelog (duplicate (key, seq)
    pairs dropped to honor the operator's uniqueness contract)."""
    from nass_summary_spark.operators.merge import cdc_apply

    seen: set[tuple[int, int]] = set()
    uniq = []
    for k, seq, op, v in changes:
        if (k, seq) not in seen:
            seen.add((k, seq))
            uniq.append((k, seq, op, v))

    state = {k: v for k, v in base}
    for k, seq, op, v in sorted(uniq, key=lambda t: t[1]):
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v

    base_df = spark.createDataFrame(base or [(999, 0)], "k int, v int")
    if not base:
        base_df = base_df.where(F.lit(False))
    ch_df = spark.createDataFrame(
        [(k, v, s, o) for k, s, o, v in uniq] or [(999, 0, 1, "U")],
        "k int, v int, seq int, op string",
    )
    if not uniq:
        ch_df = ch_df.where(F.lit(False))
    got = {r["k"]: r["v"]
           for r in cdc_apply(base_df, ch_df, ["k"], ["v"]).collect()}
    assert got == state


@given(rows=st.lists(st.tuples(st.integers(0, 3), st.integers(-9, 9),
                               st.text("ab", min_size=0, max_size=2)),
                     min_size=1, max_size=25))
@SETTINGS
def test_table_checksum_is_partition_and_order_invariant(spark, rows):
    from nass_summary_spark.operators.integrity import table_checksum

    a = spark.createDataFrame(rows, "g int, x int, s string")
    b = spark.createDataFrame(
        list(reversed(rows)), "g int, x int, s string"
    ).repartition(5)
    ka = sorted(tuple(r) for r in table_checksum(a, ["x", "s"], ["g"]).collect())
    kb = sorted(tuple(r) for r in table_checksum(b, ["x", "s"], ["g"]).collect())
    assert ka == kb


@given(vals=st.lists(st.integers(0, 20), min_size=2, max_size=15),
       shift=st.integers(-5, 5))
@SETTINGS
def test_cusum_statistic_is_shift_invariant(spark, vals, shift):
    """D_t*T = T*S_t - t*S_T is invariant to adding a constant to
    every slot (S_t gains c*t, S_T gains c*T → the terms cancel), so
    the located change-point and the scaled statistic must not move.
    The explicit demeaning step every textbook CUSUM starts with is
    therefore unnecessary here — pinned for ANY series."""
    from nass_summary_spark.operators.stats import cusum_changepoint

    rows = [("g", i, v) for i, v in enumerate(vals, 1)]
    shifted = [("g", i, v + shift) for i, v in enumerate(vals, 1)]
    df = spark.createDataFrame(rows, "g string, slot int, v int")
    df2 = spark.createDataFrame(shifted, "g string, slot int, v int")
    r1 = cusum_changepoint(df, ["g"], "slot", "v").collect()[0]
    r2 = cusum_changepoint(df2, ["g"], "slot", "v").collect()[0]
    assert (r1["changepoint_slot"], r1["cusum_scaled"]) == (
        r2["changepoint_slot"], r2["cusum_scaled"])


def _waterfill_reference(rows, budget):
    """Sequential integer waterfill: sort by avail/weight, saturate
    the maximal prefix, split the remainder by weight with DIV."""
    ordered = sorted(rows, key=lambda t: (t[2] / t[1], t[0]))
    sat = set()
    a_before = 0
    w_rem = sum(w for _, w, _ in ordered)
    for k, w, a in ordered:
        if a * w_rem <= (budget - a_before) * w:
            sat.add(k)
            a_before += a
            w_rem -= w
        else:
            break
    b_unsat = budget - sum(a for k, w, a in rows if k in sat)
    w_unsat = sum(w for k, w, a in rows if k not in sat)
    return {
        k: a if k in sat else (w * b_unsat) // w_unsat
        for k, w, a in rows
    }


@given(rows=st.lists(
    st.tuples(st.integers(0, 9), st.integers(1, 5), st.integers(0, 400)),
    min_size=1, max_size=10, unique_by=lambda t: t[0]),
    budget=st.integers(0, 1500))
@SETTINGS
def test_waterfill_equals_sequential_reference(spark, rows, budget):
    from nass_summary_spark.operators.sampling import waterfill_allocation

    src = spark.createDataFrame(rows, "key int, w int, avail int")
    got = {r["key"]: r["alloc_tokens"] for r in
           waterfill_allocation(src, "key", "w", "avail", budget).collect()}
    want = _waterfill_reference(rows, budget)
    assert got == want
    assert all(got[k] <= a for k, _, a in rows for k2 in [k] if k2 == k)
    assert sum(got.values()) <= max(budget, 0) or all(
        got[k] == a for k, _, a in rows)
