"""NASS pipeline tests: hand-built quickstats rows with known
answers, plus a parity check against the reference repo's own
exported CSV on the real input slice it ships."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nass_summary_spark.plans import nass

QS_COLS = [
    "program", "year", "period", "weekending", "geolevel", "state",
    "statefips", "agdistrict", "agdistrictcode", "county", "countycode",
    "zipcode", "region", "watershedcode", "watershed", "commodity",
    "dataitem", "domain", "domaincategory", "value", "cv",
]


def qs_row(**kw):
    base = {c: "" for c in QS_COLS}
    base.update(
        program="CENSUS", year="2012", period="YEAR", domain="TOTAL",
        statefips="16", countycode="001",
    )
    base.update(kw)
    return tuple(base[c] for c in QS_COLS)


@pytest.fixture()
def quickstats(spark):
    rows = [
        qs_row(commodity="CORN", dataitem="CORN, GRAIN - ACRES HARVESTED", value="100"),
        qs_row(commodity="CORN", dataitem="CORN, GRAIN, IRRIGATED - ACRES HARVESTED", value="40"),
        qs_row(commodity="CORN", dataitem="CORN, SILAGE - ACRES HARVESTED", value="20"),
        qs_row(commodity="CORN", dataitem="CORN - ACRES HARVESTED", value="110"),
        qs_row(commodity="CORN", dataitem="CORN, GRAIN - PRODUCTION, MEASURED IN BU", value="5,000"),
        qs_row(commodity="CORN", dataitem="CORN, GRAIN - YIELD, MEASURED IN BU / ACRE", value="50"),
        # suppressed value must vanish
        qs_row(commodity="CORN", dataitem="CORN, SILAGE - PRODUCTION, MEASURED IN TONS", value="(D)"),
        # survey price row
        qs_row(program="SURVEY", commodity="CORN",
               dataitem="CORN, GRAIN - PRICE RECEIVED, MEASURED IN $ / BU",
               countycode="", value="6.5"),
        # land rent row
        qs_row(program="SURVEY", commodity="RENT",
               dataitem="RENT, CASH, CROPLAND, IRRIGATED - EXPENSE, MEASURED IN $ / ACRE",
               countycode="", value="340"),
    ]
    return spark.createDataFrame(rows, QS_COLS)


def test_land_rent_flags(spark, quickstats):
    out = nass.land_rent(quickstats).collect()
    assert len(out) == 1
    r = out[0]
    assert r["location"] == "16" and r["irrigated"] and not r["pasture"]
    assert r["value"] == 340.0


def test_stats_location_parsing(spark, quickstats):
    stats = nass.stats_location(quickstats)
    rows = stats.where(F.col("dataitem").contains("PRODUCTION")).collect()
    # suppressed (D) silage production must be excluded entirely
    assert len(rows) == 1
    r = rows[0]
    assert r["value"] == 5000.0
    assert r["commodity_a"] == ["CORN", "GRAIN"]
    assert r["item_a"] == ["PRODUCTION", "MEASURED IN BU"]
    assert r["location"] == "16001"


def test_harvest_chain_reconciliation(spark, quickstats):
    stats = nass.stats_location(quickstats)
    hli = nass.harvest_location_irrigated(nass.harvest_location(stats))
    got = {
        tuple(r["subcommodity"]): (
            r["irrigated_acres"], r["total_acres"], r["total_production"]
        )
        for r in hli.collect()
    }
    # GRAIN row: irrigated split extracted, production attached
    assert got[("GRAIN",)] == (40.0, 100.0, 5000.0)
    # SILAGE row: no irrigated sibling
    assert got[("SILAGE",)] == (None, 20.0, None)
    # top CORN row reported at 110 acres
    assert got[()][1] == 110.0

    ch = nass.commodity_harvest(nass.harvest_total_and_sum(hli))
    by_key = {(r["commodity"], r["unit"], r["reported"]): r for r in ch.collect()}
    # SQL NULL-unit keys never join (verified against the reference's
    # own export: 'BARLEY,06001,1997,t,…' and a separate 'f' row), so
    # the reported top row and the derived leaf-sum coexist:
    assert by_key[("CORN", None, True)]["total_acres"] == 110.0
    assert by_key[("CORN", None, False)]["total_acres"] == 120.0
    # per-unit sibling carries the ACROSS-unit sum (nass.sql:221
    # window excludes unit), like 'CORN,16027,2012,f,…,TONS|BU' pairs
    assert by_key[("CORN", "BU", False)]["total_acres"] == 120.0
    # GRAIN has matching unit both sides → reconciled in one row
    g = by_key[("CORN, GRAIN", "BU", True)]
    assert g["irrigated_acres"] == 40.0 and g["total_acres"] == 100.0


def test_price_chain(spark, quickstats):
    ploc = nass.price_location(quickstats)
    cp = nass.commodity_price(nass.price_total_and_sum(ploc))
    rows = cp.collect()
    by_name = {r["commodity"]: r["price"] for r in rows}
    assert by_name["CORN, GRAIN"] == 6.5
    # rolled up to the bare commodity by avg-of-avgs
    assert by_name["CORN"] == 6.5


def test_yield_generation_cohort_average(spark):
    """The reference recursion's generation-cohort average
    (tree_rollup_pg docstring): HAY's direct leaves ALFALFA, SMALL
    GRAIN, WILD form cohort 1 = avg(7.3, 3.0, 1.6); the deeper leaf
    TAME→(EXCL …) reaches the root one generation later as cohort 2
    = 4.7; the root publishes avg(3.967, 4.7) = 4.33, not the flat
    average over direct children (4.15)."""
    leaves = [
        (["ALFALFA"], 7.3),
        (["SMALL GRAIN"], 3.0),
        (["WILD"], 1.6),
        (["TAME", "(EXCL ALFALFA & SMALL GRAIN)"], 4.7),
    ]
    yli = spark.createDataFrame(
        [("HAY", "06", 2007, p, "TONS / ACRE", v, None, None, None) for p, v in leaves],
        "commodity string, location string, year int, subcommodity array<string>, "
        "unit string, irrigated double, partial double, none double, unspecified double",
    )
    got = {
        tuple(r["subcommodity"]): (r["reported"], r["irrigated"])
        for r in nass.yield_total_and_sum(yli).collect()
    }
    assert got[()] == (False, 4.33)
    assert got[("TAME",)] == (False, 4.7)
    assert got[("ALFALFA",)] == (True, 7.3)


def test_price_rollup_reaches_root_of_deep_path(spark):
    """A 5-deep subcommodity path rolls up to every prefix, the bare
    commodity () included: the recursion runs until a generation
    adds nothing, not to a fixed depth."""
    path = ["A", "B", "C", "D", "E"]
    ploc = spark.createDataFrame(
        [("CORN", "16", 2012, 2.5, path, "price", "$ / BU")],
        "commodity string, location string, year int, price double, "
        "subcommodity array<string>, item string, unit string",
    )
    got = {
        tuple(r["subcommodity"]): r["price"]
        for r in nass.price_total_and_sum(ploc).collect()
    }
    assert got == {tuple(path[:n]): 2.5 for n in range(len(path) + 1)}


def test_commodity_explicitly_irrigated(spark):
    """nass.sql:164-166 twin: distinct commodities carrying any
    explicitly-IRRIGATED subcommodity path — hand-computed frame."""
    hl = spark.createDataFrame(
        [
            ("CORN", ["GRAIN", "IRRIGATED"], "16ag1", 2012, 1.0, 2.0, "BU"),
            ("CORN", ["GRAIN"], "16ag1", 2012, 3.0, 4.0, "BU"),
            ("CORN", ["SILAGE", "IRRIGATED"], "16ag2", 2012, 1.0, 2.0, "TONS"),
            ("WHEAT", ["WINTER"], "16ag1", 2012, 5.0, 6.0, "BU"),
            ("HAY", ["IRRIGATED"], "16ag1", 2012, 7.0, 8.0, "TONS"),
        ],
        ["commodity", "subcommodity", "location", "year", "acres", "production", "unit"],
    )
    got = {r["commodity"] for r in nass.commodity_explicitly_irrigated(hl).collect()}
    assert got == {"CORN", "HAY"}  # WHEAT has no IRRIGATED path
    # and the subcommodity-level view strips the marker, keeps the rest
    sub = {
        (r["commodity"], tuple(r["subcommodity"]))
        for r in nass.subcommodity_explicitly_irrigated(hl).collect()
    }
    assert sub == {("CORN", ("GRAIN",)), ("CORN", ("SILAGE",)), ("HAY", ())}


def test_yield_by_type_classes(spark):
    api_cols = [
        "year", "commodity_desc", "statisticcat_desc", "county_code",
        "source_desc", "unit_desc", "prodn_practice_desc", "freq_desc",
        "domain_desc", "util_practice_desc", "value",
        "reference_period_desc", "class_desc", "asd_code",
        "agg_level_desc", "domaincat_desc", "state_fips_code",
        "state_alpha", "group_desc",
    ]

    def api_row(practice, value):
        base = dict.fromkeys(api_cols, "")
        base.update(
            year="2013", commodity_desc="WHEAT", statisticcat_desc="YIELD",
            unit_desc="BU / ACRE", prodn_practice_desc=practice,
            freq_desc="ANNUAL", domain_desc="TOTAL",
            util_practice_desc="ALL UTILIZATION PRACTICES", value=value,
            reference_period_desc="YEAR", class_desc="ALL CLASSES",
            agg_level_desc="STATE", state_fips_code="16", state_alpha="ID",
        )
        return tuple(base[c] for c in api_cols)

    api = spark.createDataFrame(
        [
            api_row("IRRIGATED", "100"),
            api_row("NON-IRRIGATED", "40"),
            api_row("ALL PRODUCTION PRACTICES", "70"),
            api_row("IRRIGATED", "(D)"),  # suppressed
        ],
        api_cols,
    )
    out = nass.yield_by_type(nass.explicit_yield(api)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["irrigated"], r["nonirrigated"], r["total"]) == (100.0, 40.0, 70.0)


@pytest.mark.slow
def test_reference_csv_parity(spark):
    """Run the pipeline over the real 2012 ID/MT census slice the
    reference ships and compare against the reference's own
    commodity_harvest.csv export, merging on the FULL key
    (commodity, location, year, unit, reported). The shipped input
    is partial (other source pulls are stripped from the repo), so
    key coverage is partial, but on the co-present keys the values
    must match at very high rates — the PG-recursion replay
    (tree_rollup_pg) is what lifts total_acres above 99%."""
    qs = nass.load_quickstats_csv(
        spark, "/root/reference/src/quickstats/c_pro_idmt_2012.csv"
    )
    stats = nass.stats_location(qs)
    hli = nass.harvest_location_irrigated(nass.harvest_location(stats))
    ours = nass.commodity_harvest(nass.harvest_total_and_sum(hli)).toPandas()
    ours = ours[ours.location.str.match("^16...$")].copy()
    ours["year"] = ours["year"].astype(int)
    ours["unit"] = ours["unit"].fillna("")

    ref = pd.read_csv("/root/reference/commodity_harvest.csv", dtype={"location": str})
    ref = ref[(ref.year == 2012) & ref.location.str.match("^16...$")].copy()
    ref["unit"] = ref["unit"].fillna("")
    ref["reported"] = ref["reported"].map({"t": True, "f": False})
    m = ours.merge(
        ref,
        on=["commodity", "location", "year", "unit", "reported"],
        suffixes=("_us", "_ref"),
    )
    assert len(m) > 1500
    for col, floor in [
        ("total_acres", 0.99),
        ("irrigated_acres", 0.99),
        ("total_production", 0.99),
    ]:
        a = m[f"{col}_us"].astype(float)
        b = m[f"{col}_ref"].astype(float)
        match = (np.isclose(a, b) | (a.isna() & b.isna())).mean()
        assert match >= floor, f"{col} match rate {match:.3f}"


def test_reference_yield_csv_parity(spark):
    """The FULL yield chain (stats_location → yield_location →
    yield_location_irrigated → yield_total_and_sum →
    commodity_yield) over the reference's shipped
    production_yield.csv pull must reproduce the reference's own
    commodity_yield.csv export EXACTLY: every key present both ways
    and every value equal. This pins the PG recursive-CTE
    generation-cohort semantics (tree_rollup_pg) — e.g. HAY/06/2007
    irrigated is 4.33 (avg of cohort averages), not 4.15 (flat avg
    over direct children)."""
    qs = nass.load_quickstats_csv(
        spark, "/root/reference/src/quickstats/production_yield.csv"
    )
    stats = nass.stats_location(qs)
    yli = nass.yield_location_irrigated(nass.yield_location(stats))
    ours = nass.commodity_yield(nass.yield_total_and_sum(yli)).toPandas()
    ours["year"] = ours["year"].astype(int)

    ref = pd.read_csv("/root/reference/commodity_yield.csv", dtype={"location": str})
    m = ours.merge(
        ref,
        on=["commodity", "location", "year", "unit"],
        suffixes=("_us", "_ref"),
        how="outer",
        indicator=True,
    )
    assert (m["_merge"] == "both").all(), m[m._merge != "both"].head()
    assert len(m) == 244
    for col in ["irrigated", "partial", "none", "unspecified"]:
        a = pd.to_numeric(m[f"{col}_us"], errors="coerce")
        b = pd.to_numeric(m[f"{col}_ref"], errors="coerce")
        ok = np.isclose(a, b) | (a.isna() & b.isna())
        assert ok.all(), m.loc[~ok, ["commodity", "location", "year", "unit"]].head()
    # spot-pin the cohort semantics on the motivating case
    hay = m[(m.commodity == "HAY") & (m.location == "06") & (m.year == 2007)]
    assert float(hay["irrigated_us"].iloc[0]) == 4.33


def test_reference_county_adc_csv_parity(spark):
    """county_adc (nass.sql:27-34) rebuilt from the region columns of
    BOTH shipped quickstats pulls must reproduce the reference's
    county_adc.csv export exactly: 233/233 (fips, adc) pairs, no
    extras either way, and the district/county names agree."""
    frames = []
    for f in ["c_pro_idmt_2012.csv", "production_yield.csv"]:
        qs = nass.load_quickstats_csv(
            spark, f"/root/reference/src/quickstats/{f}"
        )
        frames.append(
            qs.select(
                F.col("statefips").alias("state_fips_code"),
                F.col("countycode").alias("county_code"),
                F.col("agdistrictcode").alias("asd_code"),
                F.col("state").alias("state_alpha"),
                F.col("agdistrict").alias("asd_name"),
                F.col("county").alias("county_name"),
            )
        )
    region = frames[0].unionByName(frames[1]).distinct()
    ours = nass.county_adc(region).toPandas()
    names = (
        region.select("state_fips_code", "county_code", "asd_name", "county_name")
        .distinct()
        .toPandas()
    )
    ours["__fips"] = ours["fips"]
    ref = pd.read_csv("/root/reference/county_adc.csv", dtype=str)
    m = ours.merge(
        ref, left_on=["fips", "asd"], right_on=["fips", "adc"],
        how="outer", indicator=True,
    )
    assert (m["_merge"] == "both").all() and len(m) == 233
    names["fips"] = names.state_fips_code + names.county_code
    nm = ref.merge(names, on="fips")
    assert (nm.agdistrict == nm.asd_name).all()
    assert (nm.county == nm.county_name).all()


def test_cmz_fips_fraction_and_zone_harvest(spark):
    """nass_cmz.sql twin on hand-computed frames: county 100 is 60%
    zone A / 40% zone B; county 200 fully zone A."""
    from nass_summary_spark.plans.cmz import (
        cmz_commodity_total_harvest,
        cmz_fips_fraction,
    )

    overlaps = spark.createDataFrame(
        [("Zone A", "100", 60.0), ("zonea", "200", 50.0), ("ZONE B", "100", 40.0),
         ("zoneb", "300", 0.0)],
        ["cmz", "fips", "overlap_area"],
    )
    counties = spark.createDataFrame(
        [("100", 100.0), ("200", 50.0), ("300", 80.0)], ["fips", "county_area"]
    )
    fr = cmz_fips_fraction(overlaps, counties)
    got = {(r["cmz"], r["fips"]): float(r["fraction"]) for r in fr.collect()}
    # zone names normalized (lower, spaces stripped); zero fractions dropped
    assert got == {("zonea", "100"): 0.6, ("zonea", "200"): 1.0, ("zoneb", "100"): 0.4}

    harvest = spark.createDataFrame(
        [("CORN", "100", 2012, 10, 5, 15), ("CORN", "200", 2012, 2, 1, 3),
         ("CORN", "300", 2012, 9, 9, 18)],
        ["commodity", "location", "year", "irrigated", "non_irr", "total"],
    )
    zh = cmz_commodity_total_harvest(harvest, fr)
    rows = {(r["commodity"], r["location"], r["year"]): (r["irrigated"], r["non_irr"], r["total"])
            for r in zh.collect()}
    # zonea: 0.6*(10,5,15) + 1.0*(2,1,3) = (8, 4, 12); zoneb: 0.4*(10,5,15) = (4, 2, 6)
    assert rows == {
        ("CORN", "zonea", 2012): (8, 4, 12),
        ("CORN", "zoneb", 2012): (4, 2, 6),
    }
    # county 300 contributes nowhere (its only zone overlap was 0)
