"""Pivot operators.

Reference shapes:
- ``yield_by_type`` (nass.sql:77-106): per-class aggregates FULL
  OUTER JOINed into one wide row — in Spark this is conditional
  aggregation (``agg(avg(when(cls, v)))``): one scan, one shuffle,
  no joins, map-side partials. Callers: ``plans.nass.yield_by_type``
  and the ``irrigation_split`` query.
- ``swap_net`` / ``swap_price`` / ``swap_yield`` (swap.sql:215-397):
  a location × commodity ``crosstab()`` matrix —
  ``groupBy().pivot(col, values).agg()``. Passing the explicit value
  list skips Spark's extra distinct-scan job and keeps the column
  set stable (the reference also hardcodes the column list).
  Callers: ``plans.swap.run_swap_pipeline`` (the three crosstabs) and
  the ``crosstab_matrix`` query.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def class_pivot(
    df: DataFrame,
    keys: Sequence[str],
    classes: Mapping[str, Column],
    value_col: str,
    agg_fn: str = "avg",
) -> DataFrame:
    """Conditional-aggregation pivot: one output column per class
    predicate, aggregating ``value_col`` where the predicate holds.

    ``classes``: output_name -> boolean Column. Rows matching no
    class still contribute a group row (with NULLs), matching the
    reference's FULL OUTER JOIN semantics.
    """
    aggs = [
        getattr(F, agg_fn)(F.when(pred, F.col(value_col))).alias(name)
        for name, pred in classes.items()
    ]
    return df.groupBy(*keys).agg(*aggs)


def crosstab(
    df: DataFrame,
    row_key: Sequence[str],
    pivot_col: str,
    pivot_values: Sequence[str],
    value_col: str,
    agg_fn: str = "sum",
) -> DataFrame:
    """location × commodity style matrix (swap.sql crosstabs)."""
    return (
        df.groupBy(*row_key)
        .pivot(pivot_col, list(pivot_values))
        .agg(getattr(F, agg_fn)(F.col(value_col)))
    )
