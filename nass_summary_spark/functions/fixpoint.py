"""Fixpoint drivers for the iterative operators: one Spark job per round.

A round materializes its frame with an eager ``localCheckpoint``, so
no round's plan reaches back past the round before it, and ``observe``
carries the round's exit metric on that same job (the "one job per
round" shape of operator fusion, ICDE 2025, PAPERS.md). Two loops:

* :func:`semi_naive` — PostgreSQL's ``WITH RECURSIVE … UNION``: each
  round sees the rows the previous round added and everything emitted
  so far; the loop ends at the first round that adds no row.
* :func:`until_stable` — each round replaces the state; the loop ends
  when the metric repeats and raises at the round bound.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _round(frame: DataFrame, metric: Column) -> tuple[DataFrame, object]:
    """Materialize ``frame`` and return it with ``metric`` observed on
    the materializing job."""
    obs = Observation()
    out = frame.observe(obs, metric.alias("m")).localCheckpoint()
    return out, obs.get["m"]


def semi_naive(
    seed: DataFrame,
    step: Callable[[DataFrame, DataFrame, int], DataFrame],
    max_rounds: int | None = None,
) -> DataFrame:
    """Semi-naive evaluation of a recursive UNION.

    ``step(last, seen, round_no)`` builds round ``round_no``'s rows
    from the rows the previous round added (``last``; the seed for
    round 1) and everything emitted so far (``seen``); dropping rows
    already in ``seen`` is the step's job. ``seen`` is the lazy union
    of the per-round checkpoints, a scan of partitions already
    materialized. The loop stops at the first round that adds no row,
    or after ``max_rounds`` rounds when given (a radius, as in BFS,
    not a convergence bound). Returns every emitted row."""
    rows = F.count(F.lit(1))
    last, n = _round(seed, rows)
    levels = [last]
    round_no = 0
    while n and (max_rounds is None or round_no < max_rounds):
        round_no += 1
        last, n = _round(
            step(last, reduce(DataFrame.unionByName, levels), round_no), rows
        )
        if n:
            levels.append(last)
    return reduce(DataFrame.unionByName, levels)


def until_stable(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    metric: Column,
    max_rounds: int,
) -> DataFrame:
    """Iterate ``state = step(state)`` from ``seed`` until the
    aggregate ``metric`` over the state repeats, and return that
    state. The metric must be constant only at the fixpoint (a sum of
    labels that only decrease, the size of a set that only shrinks).
    Raises ``RuntimeError`` when ``max_rounds`` rounds do not reach
    it, rather than return a state short of the fixpoint."""
    state, prev = _round(seed, metric)
    for _ in range(max_rounds):
        state, cur = _round(step(state), metric)
        if cur == prev:
            return state
        prev = cur
    raise RuntimeError(
        f"fixpoint not converged after {max_rounds} rounds (last metric"
        f" {prev}); raise the round bound"
    )
