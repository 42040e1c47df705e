"""Maintenance of the persisted vector indexes (operators/ann_index,
pq_index, ivfpq_index): ``rebalance_ann_index``, ``retrain_pq_index``
and ``retrain_ivfpq_index`` rebuild a whole index generation with the
index's own build function into a sibling directory and publish it
with ONE directory swap.

Pinned two ways: (1) structurally — each maintenance function calls
its ``build_*_index`` and ``swap_in`` exactly once and writes nothing
itself; (2) behaviorally — with ``swap_in`` failing on its k-th call
(k = 1, 2, 3) before it renames anything, the index afterwards holds
ONE generation: every table row-equal to a copy taken before the
maintenance when the call failed, or to a fresh build of the same
corpus when it completed. A per-table swap sequence fails this at
k = 2 (new codebooks or centroids next to old codes)."""

from __future__ import annotations

import ast
import inspect
import os
import shutil

import pytest
from pyspark.sql import functions as F

from nass_summary_spark.functions import fsio
from nass_summary_spark.operators import ann_index, ivfpq_index, pq_index

DIM = 64
_PQ_KW = dict(dim=DIM, m=8, ksub=16, n_iter=2)
_IVFPQ_KW = dict(dim=DIM, k_cells=4, m=8, ksub=16, n_iter=2)

_MAINTENANCE = [
    (ann_index.rebalance_ann_index, "build_ann_index"),
    (pq_index.retrain_pq_index, "build_pq_index"),
    (ivfpq_index.retrain_ivfpq_index, "build_ivfpq_index"),
]


@pytest.mark.parametrize(
    "fn,build", _MAINTENANCE, ids=[f.__name__ for f, _ in _MAINTENANCE]
)
def test_maintenance_is_one_build_and_one_swap(fn, build):
    nodes = list(ast.walk(ast.parse(inspect.getsource(fn))))
    calls = [
        n.func.id if isinstance(n.func, ast.Name) else n.func.attr
        for n in nodes
        if isinstance(n, ast.Call)
        and isinstance(n.func, (ast.Name, ast.Attribute))
    ]
    assert calls.count("swap_in") == 1, calls
    assert calls.count(build) == 1, calls
    writes = [
        n.lineno for n in nodes
        if isinstance(n, ast.Attribute) and n.attr == "write"
    ]
    assert writes == [], writes


def _drifted(emb):
    return emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(10.0))
        .cast("array<float>")
        .alias("embedding"),
    )


def _ann(spark, emb, path):
    ann_index.build_ann_index(emb, "vec_id", "embedding", path, k_cells=4, n_iter=2)
    ann_index.extend_ann_index(_drifted(emb), "vec_id", "embedding", path)

    def fresh(into, pristine):
        codes = spark.read.parquet(f"{pristine}/codes").select("id", "vec")
        ann_index.build_ann_index(codes, "id", "vec", into, k_cells=4, n_iter=2)

    return (
        lambda p: ann_index.rebalance_ann_index(spark, p, n_iter=2),
        fresh,
    )


def _pq(spark, emb, path):
    pq_index.build_pq_index(emb, "vec_id", "embedding", path, **_PQ_KW)
    pq_index.extend_pq_index(_drifted(emb), "vec_id", "embedding", path)
    union = emb.unionByName(_drifted(emb))
    return (
        lambda p: pq_index.retrain_pq_index(
            union, "vec_id", "embedding", p, n_iter=2
        ),
        lambda into, _: pq_index.build_pq_index(
            union, "vec_id", "embedding", into, **_PQ_KW
        ),
    )


def _ivfpq(spark, emb, path):
    ivfpq_index.build_ivfpq_index(emb, "vec_id", "embedding", path, **_IVFPQ_KW)
    ivfpq_index.extend_ivfpq_index(_drifted(emb), "vec_id", "embedding", path)
    union = emb.unionByName(_drifted(emb))
    return (
        lambda p: ivfpq_index.retrain_ivfpq_index(
            union, "vec_id", "embedding", p, n_iter=2
        ),
        lambda into, _: ivfpq_index.build_ivfpq_index(
            union, "vec_id", "embedding", into, **_IVFPQ_KW
        ),
    )


@pytest.mark.parametrize("setup", [_ann, _pq, _ivfpq], ids=["ann", "pq", "ivfpq"])
def test_failed_swap_leaves_one_whole_generation(
    spark, sf_dir, tmp_path, monkeypatch, setup
):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    pristine = str(tmp_path / "pristine")
    maintain, build_fresh = setup(spark, emb, pristine)
    fresh = str(tmp_path / "fresh")
    build_fresh(fresh, pristine)

    tables = sorted(os.listdir(pristine))

    def snap(path):
        return {
            t: sorted(map(tuple, spark.read.parquet(f"{path}/{t}").collect()))
            for t in tables
        }

    old_gen, new_gen = snap(pristine), snap(fresh)
    assert sorted(os.listdir(fresh)) == tables and old_gen != new_gen

    real_swap_in = fsio.swap_in
    for k in (1, 2, 3):
        idx = str(tmp_path / f"idx{k}")
        shutil.copytree(pristine, idx)
        calls = []

        def flaky_swap_in(*args, **kwargs):
            calls.append(args[1])
            if len(calls) == k:
                raise RuntimeError(f"injected swap_in failure (call {k})")
            return real_swap_in(*args, **kwargs)

        monkeypatch.setattr(fsio, "swap_in", flaky_swap_in)
        try:
            maintain(idx)
            failed = False
        except RuntimeError as exc:
            assert "injected swap_in failure" in str(exc)
            failed = True
        monkeypatch.setattr(fsio, "swap_in", real_swap_in)
        state = snap(idx)
        assert state == (old_gen if failed else new_gen), (
            k,
            failed,
            calls,
            {t for t in tables if state[t] != old_gen[t]},
        )
