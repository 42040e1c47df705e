"""Multi-grain fallback join.

Reference: ``commodity_county_yield`` (nass.sql:466-533) looks a
statistic up at the finest grain (county), falls back to
ag-district, then state — ``coalesce`` across three LEFT JOINs.
Callers: ``plans.nass.commodity_county_yield`` and the
``multilevel_fallback`` query. (``swap.harvest_yield``,
swap.sql:139-169, falls back four values per grain and keeps its own
lookup.)

Spark-first: each grain table is an aggregate over the fact data —
dimension-sized — so every join side is broadcast; the fact table
never shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def multilevel_fallback(
    base: DataFrame,
    levels: Sequence[tuple[DataFrame, Sequence[str], str]],
    out_col: str,
) -> DataFrame:
    """LEFT JOIN ``base`` against each broadcast (lookup_df,
    join_keys, value_col) in priority order; ``out_col`` = first
    non-null.

    Each lookup's value column must be uniquely named (they stay as
    the audit columns, like the reference's county_yield / ad_yield /
    st_yield).
    """
    out = base
    for lookup, keys, value_col in levels:
        out = out.join(
            broadcast(lookup.select(*keys, value_col)), on=list(keys), how="left"
        )
    return out.withColumn(
        out_col, F.coalesce(*[F.col(value_col) for _, _, value_col in levels])
    )
