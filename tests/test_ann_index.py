"""Persisted IVF ANN index (operators/ann_index).

Soundness ladder: (1) probing ALL cells must reproduce exact
brute-force top-k row-for-row — with nprobe = k_cells the candidate
set is the whole corpus, so any difference is a bug in the index
path, not approximation; (2) a partial disk probe matches an
independent numpy replay that ranks probe cells by L2 (the
assign_cells metric; knn_ivf's dot-product cell ranking can diverge
at partial probe); (3) the extend cycle makes new
vectors findable with the STORED quantizer; (4) the probe plan
carries dynamic-partition-pruning on the cell partition column."""

from __future__ import annotations

from pyspark.sql import functions as F

from nass_summary_spark.operators.ann_index import (
    ann_index_probe,
    build_ann_index,
    extend_ann_index,
    load_centroids,
)


import pytest


@pytest.fixture
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in df.collect()
    )


def test_full_probe_equals_bruteforce(spark, tmp_path, emb):
    from nass_summary_spark.operators.similarity import knn_bruteforce

    q = emb.where(F.col("vec_id") < 8)
    idx = str(tmp_path / "ann")
    build_ann_index(emb, "vec_id", "embedding", idx, k_cells=4, n_iter=3)
    got = _rows(
        ann_index_probe(
            spark, q, "vec_id", "embedding", idx, k=5, nprobe=4
        )
    )
    want = _rows(knn_bruteforce(emb, q, "vec_id", "embedding", k=5))
    assert got == want and len(got) == 8 * 5


def test_partial_probe_equals_numpy_replay(spark, tmp_path, emb):
    """nprobe=1: the probe must return exactly the cosine top-k over
    the corpus vectors stored in each query's L2-nearest cell —
    replayed here with an independent numpy argmin over the persisted
    codes (same floor/tie rules, zero shared code)."""
    import numpy as np

    q = emb.where(F.col("vec_id") < 8)
    idx = str(tmp_path / "ann")
    build_ann_index(emb, "vec_id", "embedding", idx, k_cells=4, n_iter=3)
    cents = np.array(load_centroids(spark, idx))
    codes = {
        r["id"]: (np.array(r["vec"], dtype=float), r["cell"])
        for r in spark.read.parquet(f"{idx}/codes").collect()
    }
    got = _rows(
        ann_index_probe(spark, q, "vec_id", "embedding", idx, k=5, nprobe=1)
    )
    want = []
    for r in q.collect():
        qid, qv = r["vec_id"], np.array(r["embedding"], dtype=float)
        cell = int(np.argmin(((cents - qv) ** 2).sum(axis=1)))
        cand = [
            (
                round(
                    float(
                        np.dot(qv, v)
                        / (np.linalg.norm(qv) * np.linalg.norm(v))
                    ),
                    6,
                ),
                cid,
            )
            for cid, (v, c) in codes.items()
            if c == cell and cid != qid
        ]
        cand.sort(key=lambda t: (-t[0], t[1]))
        for rank, (cos, cid) in enumerate(cand[:5], start=1):
            want.append((qid, rank, cid, cos))
    assert got == sorted(want)


def test_probe_deterministic_and_monotone_recall(spark, tmp_path, emb):
    from nass_summary_spark.operators.similarity import knn_bruteforce

    q = emb.where(F.col("vec_id") < 8)
    idx = str(tmp_path / "ann")
    build_ann_index(emb, "vec_id", "embedding", idx, k_cells=4, n_iter=3)
    one = _rows(ann_index_probe(spark, q, "vec_id", "embedding", idx, k=5, nprobe=2))
    two = _rows(ann_index_probe(spark, q, "vec_id", "embedding", idx, k=5, nprobe=2))
    assert one == two
    exact = {
        (r[0], r[2])
        for r in _rows(knn_bruteforce(emb, q, "vec_id", "embedding", k=5))
    }

    def recall(nprobe):
        got = {
            (r[0], r[2])
            for r in _rows(
                ann_index_probe(
                    spark, q, "vec_id", "embedding", idx, k=5, nprobe=nprobe
                )
            )
        }
        return len(got & exact) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r1 <= r4 == 1.0


def test_extend_makes_new_vectors_findable(spark, tmp_path, emb):
    base = emb.where(F.col("vec_id") >= 20)
    newb = emb.where(F.col("vec_id") < 20)
    idx = str(tmp_path / "ann")
    build_ann_index(base, "vec_id", "embedding", idx, k_cells=4, n_iter=3)
    extend_ann_index(newb, "vec_id", "embedding", idx)
    # after extension the index holds the full corpus and a full
    # probe again equals brute force over everything
    from nass_summary_spark.operators.similarity import knn_bruteforce

    q = emb.where(F.col("vec_id") < 8)
    got = _rows(
        ann_index_probe(spark, q, "vec_id", "embedding", idx, k=5, nprobe=4)
    )
    want = _rows(knn_bruteforce(emb, q, "vec_id", "embedding", k=5))
    assert got == want


def test_probe_plan_has_dynamic_partition_pruning(spark, tmp_path, emb):
    idx = str(tmp_path / "ann")
    build_ann_index(emb, "vec_id", "embedding", idx, k_cells=4, n_iter=2)
    probe = ann_index_probe(
        spark, emb.where(F.col("vec_id") < 4), "vec_id", "embedding",
        idx, k=3, nprobe=1,
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert "CartesianProduct" not in plan


def test_probe_exclude_ids_is_replay_proof(spark, tmp_path, emb):
    """The streaming twin's crash-replay: after a batch is appended,
    probing it with exclude_ids=its own ids must be row-identical to
    the pre-append probe (exclusion happens BEFORE ranking)."""
    base = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ann")
    build_ann_index(base, "vec_id", "embedding", idx, k_cells=4, n_iter=3)
    before = _rows(
        ann_index_probe(spark, batch, "vec_id", "embedding", idx, k=5, nprobe=2)
    )
    extend_ann_index(batch, "vec_id", "embedding", idx)
    after = _rows(
        ann_index_probe(
            spark, batch, "vec_id", "embedding", idx, k=5, nprobe=2,
            exclude_ids=batch.select(F.col("vec_id").alias("id")),
        )
    )
    assert after == before


def test_rebalance_restores_balance_and_parity_after_drift(
    spark, tmp_path, emb
):
    """The maintenance gap VERDICT r6 flagged: extend assigns with
    the stored quantizer forever, so a drifted ingest piles into few
    cells and probe pruning degrades. Pinned end-to-end: (1) a
    shifted-distribution append measurably unbalances the cells,
    (2) rebalance_ann_index re-trains + re-encodes and the imbalance
    drops, (3) the rebalanced index still probes correctly — full
    probe equals brute force over the union corpus row-for-row, and
    the probe plan still carries dynamic partition pruning."""
    from nass_summary_spark.operators.ann_index import (
        cell_balance_audit,
        rebalance_ann_index,
    )
    from nass_summary_spark.operators.similarity import knn_bruteforce

    idx = str(tmp_path / "ann")
    build_ann_index(emb, "vec_id", "embedding", idx, k_cells=4, n_iter=3)
    healthy = cell_balance_audit(spark, idx)

    # drifted ingest: every component shifted far outside the trained
    # distribution -> the stored quantizer funnels it into one cell.
    # Cast back to the stored element type (transform promoted to
    # double): extend refuses mixed-type appends, and the raises path
    # is pinned below
    drifted = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(10.0))
        .cast("array<float>")
        .alias("embedding"),
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vector type mismatch"):
        extend_ann_index(
            drifted.select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("embedding"),
            ),
            "vec_id", "embedding", idx,
        )
    extend_ann_index(drifted, "vec_id", "embedding", idx)
    skewed = cell_balance_audit(spark, idx)
    assert skewed["imbalance"] > healthy["imbalance"] * 1.3, (
        healthy,
        skewed,
    )
    assert skewed["total"] == 2 * healthy["total"]

    out = rebalance_ann_index(spark, idx, n_iter=3)
    assert out["rows"] == skewed["total"]
    assert out["imbalance_after"] < out["imbalance_before"], out

    # parity on the rebalanced index: full probe == brute force over
    # the union corpus (base + drifted)
    union = emb.unionByName(drifted)
    q = emb.where(F.col("vec_id") < 6)
    got = _rows(
        ann_index_probe(spark, q, "vec_id", "embedding", idx, k=5, nprobe=4)
    )
    want = _rows(knn_bruteforce(union, q, "vec_id", "embedding", k=5))
    assert got == want

    # and pruning still plans: the probe scan stays DPP-driven
    probe = ann_index_probe(
        spark, q, "vec_id", "embedding", idx, k=3, nprobe=1
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_rebalance_validation_aborts_untouched(
    spark, tmp_path, emb, lossy_rewrite_session
):
    """A rewrite that loses rows must abort BEFORE the swap with the
    live index intact — simulated by racing a concurrent writer is
    flaky, so instead the session's read of the staged generation
    drops rows: the call must raise, remove its sibling and leave
    every live table row-equal. A clean run (counts agree) then swaps
    while leaving no __rebalancing / __pre_rebalance litter."""
    import os

    from nass_summary_spark.operators.ann_index import rebalance_ann_index

    idx = str(tmp_path / "ann")
    build_ann_index(emb, "vec_id", "embedding", idx, k_cells=4, n_iter=2)

    def snap():
        return {
            t: sorted(map(tuple, spark.read.parquet(f"{idx}/{t}").collect()))
            for t in ("centroids", "codes")
        }

    before = snap()
    with pytest.raises(RuntimeError, match="validation failed"):
        rebalance_ann_index(
            lossy_rewrite_session("__rebalancing"), idx, n_iter=2
        )
    assert snap() == before
    assert sorted(os.listdir(tmp_path)) == ["ann"]

    rebalance_ann_index(spark, idx, n_iter=2)
    left = set(os.listdir(idx))
    assert left == {"codes", "centroids"}, left
    siblings = [
        d for d in os.listdir(tmp_path)
        if "__rebalancing" in d or "__pre_rebalance" in d
    ]
    assert siblings == [], siblings


def test_codes_compaction_preserves_probe(spark, tmp_path, emb):
    """Index-family maintenance symmetry: repeated extends accrete
    per-batch part files under every cell partition; the SAME
    compact_table pass the band table uses (sources/writers.py) must
    work on the cell-partitioned codes directory — fewer files,
    identical rows, byte-identical probe."""
    import glob

    from nass_summary_spark.sources.writers import compact_table

    idx = str(tmp_path / "ann")
    base = emb.where(F.col("vec_id") % 4 == 0)
    build_ann_index(base, "vec_id", "embedding", idx, k_cells=4, n_iter=3)
    for k in (1, 2, 3):
        extend_ann_index(
            emb.where(F.col("vec_id") % 4 == k), "vec_id", "embedding", idx
        )
    q = emb.where(F.col("vec_id") < 6)
    before = _rows(
        ann_index_probe(spark, q, "vec_id", "embedding", idx, k=5, nprobe=4)
    )
    n_files_before = len(glob.glob(f"{idx}/codes/cell=*/*.parquet"))
    report = compact_table(
        spark, f"{idx}/codes", partition_by=["cell"]
    )
    n_files_after = len(glob.glob(f"{idx}/codes/cell=*/*.parquet"))
    assert n_files_after < n_files_before
    assert report["rows"] == emb.count()
    after = _rows(
        ann_index_probe(spark, q, "vec_id", "embedding", idx, k=5, nprobe=4)
    )
    assert after == before
