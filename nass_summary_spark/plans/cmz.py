"""Climate-zone (CMZ) fractional spatial rollup — view-for-view twin
of the reference's ``nass_cmz.sql``.

The reference splits counties across climate zones with PostGIS
(``st_intersection``/``st_area``, nass_cmz.sql:1-7) and then works
relationally. The geometry step produces nothing but (zone, county,
overlap_area) rows — since r3 that stage runs IN SPARK too:
``operators/geo.py`` provides the grid-partitioned spatial join +
convex-clip intersection area (see ``overlap_fraction_table`` and
the ``cmz_geo_fraction`` query), so the pipeline no longer depends
on an external geo tool; this module also still accepts a
precomputed overlap table. Everything downstream is the relational
twin:

- ``cmz_fips_fraction`` (nass_cmz.sql:9-17): per (zone, county)
  area fraction of the county covered by the zone, ``decimal(6,2)``
  cast, ``fraction > 0`` filter.
- ``cmz_commodity_total_harvest`` (nass_cmz.sql:19-28): county
  harvest totals reassigned to zones with fractional weights,
  integer-cast sums, ``having sum(total*fraction) > 0``.

Scale posture: the fraction table is zones×counties (tiny) →
broadcast; the fact table never shuffles for the reweighting, only
for the final zone-grain aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nass_summary_spark.operators.weighted import fractional_weighted_rollup


def normalize_zone(zone: Column | str) -> Column:
    """Zone-name key cleanup (nass_cmz.sql:2):
    ``lower(regexp_replace(cmz, ' ', '', 'g'))``."""
    c = F.col(zone) if isinstance(zone, str) else zone
    return F.lower(F.regexp_replace(c, " ", ""))


def cmz_fips_fraction(overlaps: DataFrame, counties: DataFrame) -> DataFrame:
    """nass_cmz.sql:9-17. ``overlaps`` carries (cmz, fips,
    overlap_area) from the geometry stage; ``counties`` carries
    (fips, county_area)."""
    f = (
        overlaps.select(normalize_zone("cmz").alias("cmz"), "fips", "overlap_area")
        .join(F.broadcast(counties.select("fips", "county_area")), "fips")
        .select(
            "cmz",
            "fips",
            (F.col("overlap_area") / F.col("county_area"))
            .cast("decimal(6,2)")
            .alias("fraction"),
        )
    )
    return f.where(F.col("fraction") > 0)


def cmz_commodity_total_harvest(
    harvest: DataFrame, fractions: DataFrame
) -> DataFrame:
    """nass_cmz.sql:19-28: county totals → zone totals via the
    fraction weights; integer casts and the ``> 0`` guard mirror the
    reference output columns exactly."""
    facts = harvest.withColumnRenamed("location", "fips")
    out = fractional_weighted_rollup(
        facts,
        fractions.withColumnRenamed("cmz", "zone"),
        child_key="fips",
        parent_key="zone",
        weight_col="fraction",
        keys=["commodity", "year"],
        values=["irrigated", "non_irr", "total"],
    )

    # ``::integer`` on numeric ROUNDS in PostgreSQL (half away from
    # zero); Spark's int cast truncates — round explicitly first.
    def as_int(c: str) -> Column:
        return F.round(F.col(c), 0).cast("bigint").alias(c)

    return (
        out.withColumnRenamed("zone", "location")
        .select("commodity", "location", "year",
                as_int("irrigated"), as_int("non_irr"), as_int("total"))
        .where(F.col("total") > 0)
    )
