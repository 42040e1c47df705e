"""The reference's swap schema (``src/swap.sql``): irrigation-swap
scenario tables for crop budgets — state prices with derived-unit
fallbacks, 2012 census harvest slices, yield lookups with
county → ag-district → state fallback, the irrigated/non-irrigated
yield apportionment, and the location × commodity crosstab exports.

Inputs are the nass-schema outputs (plans/nass.py) plus the
usda_api table. The location × commodity crosstabs go through
``operators.pivot.crosstab``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from nass_summary_spark.functions.parsing import commodity_name, safe_number
from nass_summary_spark.functions.smalldf import local_struct_df
from nass_summary_spark.operators.pivot import crosstab

#: swap.counties (swap.sql:5-10) — the study-area county FIPS list.
SWAP_COUNTIES = [
    "06001", "06003", "06005", "06007", "06009", "06011", "06013", "06015",
    "06017", "06019", "06021", "06023", "06033", "06035", "06039", "06041",
    "06043", "06045", "06047", "06049", "06051", "06055", "06057", "06061",
    "06063", "06067", "06075", "06077", "06081", "06089", "06091", "06093",
    "06095", "06097", "06099", "06101", "06103", "06105", "06109", "06113",
    "06115", "16001", "16003", "16009", "16013", "16015", "16017", "16021",
    "16023", "16025", "16027", "16031", "16035", "16037", "16039", "16045",
    "16047", "16049", "16053", "16055", "16057", "16059", "16061", "16063",
    "16067", "16069", "16073", "16075", "16079", "16083", "16085", "16087",
    "30001", "30023", "30029", "30035", "30039", "30047", "30049", "30053",
    "30061", "30063", "30073", "30077", "30081", "30089", "30099", "32001",
    "32005", "32007", "32009", "32011", "32013", "32015", "32017", "32019",
    "32021", "32023", "32027", "32029", "32031", "32033", "32510", "41001",
    "41003", "41005", "41007", "41009", "41011", "41013", "41015", "41017",
    "41019", "41021", "41023", "41025", "41027", "41029", "41031", "41033",
    "41035", "41037", "41039", "41041", "41043", "41045", "41047", "41049",
    "41051", "41053", "41055", "41057", "41059", "41061", "41063", "41065",
    "41067", "41069", "41071", "49001", "49003", "49021", "49023", "49027",
    "49045", "53000", "53001", "53003", "53005", "53007", "53009", "53011",
    "53013", "53015", "53017", "53019", "53021", "53023", "53025", "53027",
    "53029", "53031", "53033", "53035", "53037", "53039", "53041", "53043",
    "53045", "53047", "53049", "53051", "53053", "53055", "53057", "53059",
    "53061", "53063", "53065", "53067", "53069", "53071", "53073", "53075",
    "53077",
]

#: swap.commodity (swap.sql:12-20) — the budgeted commodity list.
SWAP_COMMODITIES = [
    "HAY, ALFALFA", "HAYLAGE, ALFALFA", "BARLEY", "BEANS, DRY EDIBLE",
    "BEANS, DRY EDIBLE, LIMA", "CORN, GRAIN", "CORN, SILAGE",
    "HAY, TAME, (EXCL ALFALFA & SMALL GRAIN)", "HAYLAGE, (EXCL ALFALFA)",
    "LENTILS", "OATS", "POPLAR", "POTATOES", "WHEAT, SPRING", "SUGARBEETS",
    "WHEAT, WINTER",
]


def counties_table(spark: SparkSession) -> DataFrame:
    return local_struct_df(spark, "location string", [(c,) for c in SWAP_COUNTIES])


def commodity_table(spark: SparkSession) -> DataFrame:
    return local_struct_df(spark, "commodity string", [(c,) for c in SWAP_COMMODITIES])


def commodity_price_state(usda_api: DataFrame) -> DataFrame:
    """swap.commodity_price (swap.sql:22-39): annual state-level
    prices received."""
    df = usda_api.where(
        (F.col("statisticcat_desc") == "PRICE RECEIVED")
        & (F.col("domain_desc") == "TOTAL")
        & (F.col("prodn_practice_desc") == "ALL PRODUCTION PRACTICES")
        & (F.col("freq_desc") == "ANNUAL")
        & (F.col("agg_level_desc") == "STATE")
        & ~F.col("value").rlike(r"\(.*\)")
    )
    return df.select(
        F.col("state_fips_code").alias("location"),
        F.col("year"),
        commodity_name("commodity_desc", "class_desc", "util_practice_desc").alias(
            "commodity"
        ),
        F.round(safe_number("value"), 2).alias("price"),
        F.col("unit_desc").alias("unit"),
    )


def commodity_avg_price(price: DataFrame) -> DataFrame:
    """swap.commodity_avg_price (swap.sql:41-47)."""
    return (
        price.groupBy("location", "commodity", "unit")
        .agg(F.round(F.avg("price"), 2).alias("price"))
        .select("location", "commodity", "price", "unit")
    )


def commodity_missing_price(avg_price: DataFrame) -> DataFrame:
    """swap.commodity_missing_price (swap.sql:49-86): prices for
    commodities NASS doesn't quote, derived by unit/commodity
    conversion from quoted ones. One aggregate, many projections —
    the UNION reuses the avg_price subplan."""
    ap = avg_price

    def conv(src: str, dst: str, factor, unit=None, unit_filter=None, loc=None):
        df = ap.where(F.col("commodity") == src)
        if unit_filter is not None:
            df = df.where(F.col("unit") == unit_filter)
        if loc is not None:
            df = df.where(F.col("location") == loc[0]).withColumn(
                "location", F.lit(loc[1])
            )
        out_unit = F.lit(unit) if unit is not None else F.col("unit")
        return df.select(
            "location",
            F.lit(dst).alias("commodity"),
            F.round(factor(F.col("price")), 3).alias("price"),
            out_unit.alias("unit"),
        )

    pieces = [
        # 1 TON silage ≈ 5 BU grain at 0.2 $/BU ratio (swap.sql:51-53)
        conv("CORN, GRAIN", "CORN, SILAGE", lambda p: 0.2 * 5 * p,
             unit="$ / TON", unit_filter="$ / BU"),
        conv("HAY, ALFALFA", "HAYLAGE, ALFALFA", lambda p: 0.2 * p),
        conv("HAY, (EXCL ALFALFA)", "HAYLAGE, (EXCL ALFALFA)", lambda p: 0.2 * p),
        conv("HAY", "HAY, TAME, (EXCL ALFALFA & SMALL GRAIN)", lambda p: p),
        conv("LENTILS", "LENTILS", lambda p: p / 100, unit="$ / LB",
             unit_filter="$ / CWT"),
        # Oregon borrows Idaho's lentil price (swap.sql:71-75)
        conv("LENTILS", "LENTILS", lambda p: p / 100, unit="$ / LB",
             unit_filter="$ / CWT", loc=("16", "41")),
        conv("BEANS, DRY EDIBLE", "BEANS, DRY EDIBLE, LIMA", lambda p: p),
        conv("BEANS, DRY EDIBLE", "BEANS, DRY EDIBLE, LIMA", lambda p: p / 100,
             unit="$ / LB", unit_filter="$ / CWT"),
        conv("BEANS, DRY EDIBLE", "BEANS, DRY EDIBLE", lambda p: p / 100,
             unit="$ / LB", unit_filter="$ / CWT"),
    ]
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.distinct()


def harvest_2012(commodity_harvest: DataFrame, commodities: DataFrame) -> DataFrame:
    """swap.harvest_2012 (swap.sql:89-96)."""
    return (
        commodity_harvest.join(broadcast(commodities), on="commodity")
        .where(
            (F.col("year").cast("int") == 2012)
            & F.col("location").rlike(r"^\d{5}$")
            & F.col("total_acres").isNotNull()
        )
        .select("location", "commodity", "irrigated_acres", "total_acres")
        .distinct()
    )


def yield_avg_by_type(yield_by_type_df: DataFrame) -> DataFrame:
    """swap.yield_avg_by_type (swap.sql:99-118): per-acre averages
    with the BEANS CWT → LB unit normalization."""
    base = yield_by_type_df.where(F.col("unit").rlike("/ ACRE"))
    plain = (
        base.where(
            ~F.col("commodity").rlike("^BEANS") | (F.col("unit") != "CWT / ACRE")
        )
        .groupBy("commodity", "location", "unit")
        .agg(
            F.round(F.avg("nonirrigated"), 2).alias("nonirrigated"),
            F.round(F.avg("irrigated"), 2).alias("irrigated"),
            F.round(F.avg("total"), 2).alias("total"),
            F.count(F.lit(1)).alias("count"),
        )
    )
    beans = (
        base.where(F.col("commodity").rlike("^BEANS") & (F.col("unit") == "CWT / ACRE"))
        .groupBy("commodity", "location")
        .agg(
            F.round(100 * F.avg("nonirrigated"), 2).alias("nonirrigated"),
            F.round(100 * F.avg("irrigated"), 2).alias("irrigated"),
            F.round(100 * F.avg("total"), 2).alias("total"),
            F.count(F.lit(1)).alias("count"),
        )
        .withColumn("unit", F.lit("LB / ACRE"))
        .select("commodity", "location", "unit", "nonirrigated", "irrigated", "total", "count")
    )
    return plain.unionByName(beans)


def harvest_production_yield(
    commodity_harvest: DataFrame, commodities: DataFrame
) -> DataFrame:
    """swap.harvest_production_yield (swap.sql:120-136)."""
    h = (
        commodity_harvest.join(broadcast(commodities), on="commodity")
        .where(
            F.col("location").rlike(r"^\d{5}$")
            & F.col("total_acres").isNotNull()
            & F.col("total_production").isNotNull()
        )
        .select(
            "location", "commodity", "irrigated_acres", "total_acres",
            "total_production", "unit",
        )
        .distinct()
    )
    return h.groupBy("location", "commodity", "unit").agg(
        F.round(F.avg(F.col("total_production") / F.col("total_acres")), 2).alias(
            "production_yield"
        )
    ).withColumn("unit", F.concat("unit", F.lit(" / ACRE")))


def harvest_yield(
    h2012: DataFrame,
    counties: DataFrame,
    adc: DataFrame,
    yavg: DataFrame,
    hpy: DataFrame,
    avg_price: DataFrame,
    missing_price: DataFrame,
) -> DataFrame:
    """swap.harvest_yield (swap.sql:139-169): per (county, commodity)
    harvest with yields resolved county → ag-district → state and a
    unit-matched state price. All lookup sides broadcast."""
    adc = adc.withColumnsRenamed({"asd": "adc"}) if "asd" in adc.columns else adc
    u = yavg.where(F.col("unit").rlike("/ ACRE$")).select("commodity", "unit").distinct()
    p = avg_price.unionByName(missing_price).select(
        "location", "commodity", "price", "unit"
    )

    h = (
        h2012.join(broadcast(counties), on="location")
        .join(broadcast(u), on="commodity")
        .join(
            broadcast(adc.select(F.col("fips").alias("location"), "adc", "state_fips")),
            on="location",
        )
    )

    def ylookup(grain_col: str, alias: str) -> DataFrame:
        return yavg.select(
            F.col("location").alias(grain_col),
            F.col("commodity"),
            F.col("unit"),
            F.col("nonirrigated").alias(f"{alias}_nonirrigated"),
            F.col("irrigated").alias(f"{alias}_irrigated"),
            F.col("total").alias(f"{alias}_total"),
            F.col("location").alias(f"{alias}_loc"),
        )

    yc = ylookup("location", "yc")
    ya = ylookup("adc", "ya")
    ys = ylookup("state_fips", "ys")
    out = (
        h.join(broadcast(yc), on=["location", "commodity", "unit"], how="left")
        .join(broadcast(ya), on=["adc", "commodity", "unit"], how="left")
        .join(broadcast(ys), on=["state_fips", "commodity", "unit"], how="left")
        .join(
            broadcast(
                hpy.select(
                    F.col("location"), F.col("commodity"), F.col("unit"),
                    F.col("production_yield"),
                )
            ),
            on=["location", "commodity", "unit"],
            how="left",
        )
    )
    # price joins on state and unit-noun match: 'BU / ACRE' ↔ '$ / BU'
    # (with singular/plural tolerance, swap.sql:167-168)
    yield_noun = F.element_at(F.split(F.col("unit"), " / "), 1)
    price_noun = F.element_at(F.split(F.col("p_unit"), " / "), 2)
    pr = p.select(
        F.col("location").alias("state_fips"),
        F.col("commodity"),
        F.col("price"),
        F.col("unit").alias("p_unit"),
    )
    out = out.join(broadcast(pr), on=["state_fips", "commodity"], how="left").where(
        (price_noun.isNull())
        | (yield_noun == price_noun)
        | (yield_noun == F.concat(price_noun, F.lit("S")))
    )
    return out.select(
        "location",
        "commodity",
        "irrigated_acres",
        "total_acres",
        "unit",
        F.coalesce("yc_nonirrigated", "ya_nonirrigated", "ys_nonirrigated").alias(
            "nonirrigated"
        ),
        F.coalesce("yc_irrigated", "ya_irrigated", "ys_irrigated").alias("irrigated"),
        F.coalesce("yc_total", "ya_total", "ys_total").alias("total"),
        F.coalesce("yc_loc", "ya_loc", "ys_loc").alias("yield_source"),
        "production_yield",
        "price",
        F.col("p_unit").alias("price_unit"),
    )


def swap_table(hy: DataFrame) -> DataFrame:
    """swap.swap (swap.sql:171-213): apportion the blended yield into
    irrigated / non-irrigated rows with the ratio formula."""
    t, i = F.col("total_acres"), F.col("irrigated_acres")
    py, ni, ir = F.col("production_yield"), F.col("nonirrigated"), F.col("irrigated")
    apportionable = py.isNotNull() & ni.isNotNull() & ir.isNotNull()

    non_irr = hy.where(i.isNotNull()).select(
        "location",
        F.concat("commodity", F.lit(", NON-IRRIGATED")).alias("commodity"),
        (t - i).alias("acres"),
        F.round(
            F.when(apportionable & (ni != 0), py * t / (i * (ir / ni) + (t - i)))
            .otherwise(F.coalesce(ni, F.col("total"))),
            2,
        ).alias("yield"),
        "price",
        "unit",
        "price_unit",
    )
    irr = hy.where(i.isNotNull()).select(
        "location",
        F.concat("commodity", F.lit(", IRRIGATED")).alias("commodity"),
        i.alias("acres"),
        F.round(
            F.when(apportionable, py * t / (i + (t - i) * (ni / ir)))
            .otherwise(F.coalesce(ir, F.col("total"))),
            2,
        ).alias("yield"),
        "price",
        "unit",
        "price_unit",
    )
    whole = hy.where(i.isNull()).select(
        "location",
        "commodity",
        t.alias("acres"),
        F.round(F.when(py.isNotNull(), py).otherwise(F.col("total")), 2).alias("yield"),
        "price",
        "unit",
        "price_unit",
    )
    return non_irr.unionByName(irr).unionByName(whole)


def run_swap_pipeline(
    spark: SparkSession,
    commodity_harvest: DataFrame,
    yield_by_type_df: DataFrame,
    usda_api: DataFrame,
    county_adc_df: DataFrame,
) -> dict[str, DataFrame]:
    """Build the swap-schema export set (nass.mk:48-49 swapouts)."""
    counties = counties_table(spark)
    commodities = commodity_table(spark)
    price = commodity_price_state(usda_api)
    ap = commodity_avg_price(price)
    mp = commodity_missing_price(ap)
    h2012 = harvest_2012(commodity_harvest, commodities)
    yavg = yield_avg_by_type(yield_by_type_df)
    hpy = harvest_production_yield(commodity_harvest, commodities)
    hy = harvest_yield(h2012, counties, county_adc_df, yavg, hpy, ap, mp)
    sw = swap_table(hy)
    # swap_net / swap_price / swap_yield (swap.sql:215-351): location ×
    # commodity matrices of one swap column each. The pivot values are
    # the sorted distinct commodity set (like the reference's
    # hardcoded column list), one dimension-sized collect for all three
    pivot_values = sorted(
        r["commodity"] for r in sw.select("commodity").distinct().collect()
    )

    def matrix(value_col: str) -> DataFrame:
        return crosstab(
            sw, ["location"], "commodity", pivot_values, value_col, agg_fn="first"
        ).orderBy("location")

    return {
        "commodity_price": price,
        "commodity_avg_price": ap,
        "commodity_missing_price": mp,
        "harvest_2012": h2012,
        "yield_avg_by_type": yavg,
        "harvest_production_yield": hpy,
        "harvest_yield": hy,
        "swap": sw,
        "swap_net": matrix("acres"),
        "swap_price": matrix("price"),
        "swap_yield": matrix("yield"),
    }
