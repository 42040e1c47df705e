"""Fractional-weight rollup.

Reference: ``nass_cmz.sql`` — counties are split across climate
zones by area fraction; county statistics are re-aggregated to zones
as ``sum(value * fraction) having sum > 0``. The geometry
(PostGIS ``st_area``) produces the weight table; the relational part
is a weighted re-aggregation, which is what this operator provides.
Callers: ``plans.cmz.cmz_commodity_total_harvest`` and the
``fractional_weighted_rollup`` query; both round first and then
apply the ``> 0`` filter themselves.

Weight tables are tiny (one row per (child, parent) pair of a
geographic crosswalk) → always broadcast; the fact side aggregates
with map-side partials.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def fractional_weighted_rollup(
    facts: DataFrame,
    weights: DataFrame,
    child_key: str,
    parent_key: str,
    weight_col: str,
    keys: Sequence[str],
    values: Sequence[str],
) -> DataFrame:
    """Reassign ``facts`` rows keyed by ``child_key`` to
    ``parent_key`` groups with fractional weights and sum:
    one ``sum(v * weight)`` per value, grouped by
    (``parent_key``, ``keys``)."""
    w = broadcast(weights.select(child_key, parent_key, weight_col))
    joined = facts.join(w, on=child_key, how="inner")
    return joined.groupBy(parent_key, *keys).agg(
        *[F.sum(F.col(v) * F.col(weight_col)).alias(v) for v in values]
    )
