"""Seeded input generators for the benchmark.

Everything here is plain Python / numpy / pyarrow: no Spark, so the
time spent generating (``bench.gen_s``) never mixes with session
set-up or the timed work.

- :func:`write_nass_inputs`: a Quick Stats bulk CSV (the 21 reference
  headers), a ``usda_region`` crosswalk CSV and ``usda_api`` JSON
  records, plus the facts the output checks need.
- :func:`write_star_schema`: the eight sf0.1 star-schema tables the
  query mix reads, in the layout of the engine's test tables.
"""

from __future__ import annotations

import csv
import json
import os
import random

import numpy as np
import pandas as pd

from nass_summary_spark.plans.swap import SWAP_COUNTIES

# ---------------------------------------------------------------------------
# NASS inputs
# ---------------------------------------------------------------------------

#: Quick Stats bulk-download headers, in file order.
QS_HEADERS = [
    "Program", "Year", "Period", "Week Ending", "Geo Level", "State",
    "State ANSI", "Ag District", "Ag District Code", "County", "County ANSI",
    "Zip Code", "Region", "watershed_code", "Watershed", "Commodity",
    "Data Item", "Domain", "Domain Category", "Value", "CV (%)",
]

STATE_ALPHA = {"06": "CA", "16": "ID", "30": "MT", "32": "NV", "41": "OR", "49": "UT", "53": "WA"}

SUPPRESSED = ["(D)", "(NA)", "(S)"]
#: share of census values replaced by a suppression code
SUPPRESSED_SHARE = 0.08
#: share of rows written twice (bulk downloads repeat rows; ingest dedups)
DUPLICATE_SHARE = 0.02
YEARS = ["2007", "2012", "2017"]

#: census crops: commodity -> (census paths, production unit, yield unit,
#: typical yield). A path is the dataitem's commodity part; paths with
#: IRRIGATED carry the irrigated split, deeper paths make multi-level
#: trees (HAY, BEANS).
CROPS = {
    "CORN": (["CORN, GRAIN", "CORN, GRAIN, IRRIGATED", "CORN, SILAGE", "CORN, SILAGE, IRRIGATED"], None, None, 0),
    "WHEAT": (["WHEAT, WINTER", "WHEAT, WINTER, IRRIGATED", "WHEAT, SPRING", "WHEAT, SPRING, IRRIGATED"], "BU", "BU / ACRE", 70),
    "BARLEY": (["BARLEY", "BARLEY, IRRIGATED"], "BU", "BU / ACRE", 80),
    "OATS": (["OATS"], "BU", "BU / ACRE", 65),
    "HAY": (
        ["HAY, ALFALFA", "HAY, ALFALFA, IRRIGATED", "HAY, TAME, (EXCL ALFALFA & SMALL GRAIN)",
         "HAY, SMALL GRAIN", "HAY, WILD"],
        "TONS", "TONS / ACRE", 4,
    ),
    "BEANS": (["BEANS, DRY EDIBLE, LIMA", "BEANS, DRY EDIBLE, (EXCL LIMA)", "BEANS, DRY EDIBLE, (EXCL LIMA), IRRIGATED"], "CWT", "CWT / ACRE", 22),
    "POTATOES": (["POTATOES", "POTATOES, IRRIGATED"], "CWT", "CWT / ACRE", 400),
    "SUGARBEETS": (["SUGARBEETS"], "TONS", "TONS / ACRE", 35),
    "LENTILS": (["LENTILS"], "CWT", "CWT / ACRE", 12),
}
_CORN_UNITS = {"GRAIN": ("BU", "BU / ACRE", 170), "SILAGE": ("TONS", "TONS / ACRE", 25)}

#: irrigation yield classes (yield_location_irrigated's four columns)
_YIELD_MARKERS = ["ENTIRE CROP", "PART OF CROP", "NONE OF CROP"]

#: usda_api composition: display name -> (commodity, class, utilization,
#: yield unit, price unit, yield, price)
API_COMMODITIES = {
    "CORN, GRAIN": ("CORN", "ALL CLASSES", "GRAIN", "BU / ACRE", "$ / BU", 170, 5.5),
    "CORN, SILAGE": ("CORN", "ALL CLASSES", "SILAGE", "TONS / ACRE", None, 25, None),
    "BARLEY": ("BARLEY", "ALL CLASSES", "ALL UTILIZATION PRACTICES", "BU / ACRE", "$ / BU", 80, 6.0),
    "OATS": ("OATS", "ALL CLASSES", "ALL UTILIZATION PRACTICES", "BU / ACRE", "$ / BU", 65, 3.5),
    "WHEAT, WINTER": ("WHEAT", "WINTER", "ALL UTILIZATION PRACTICES", "BU / ACRE", "$ / BU", 70, 7.0),
    "WHEAT, SPRING": ("WHEAT", "SPRING", "ALL UTILIZATION PRACTICES", "BU / ACRE", "$ / BU", 60, 7.5),
    "HAY, ALFALFA": ("HAY", "ALFALFA", "ALL UTILIZATION PRACTICES", "TONS / ACRE", "$ / TON", 4, 200.0),
    "HAY, TAME, (EXCL ALFALFA & SMALL GRAIN)": ("HAY", "TAME, (EXCL ALFALFA & SMALL GRAIN)", "ALL UTILIZATION PRACTICES", "TONS / ACRE", "$ / TON", 2, 150.0),
    "POTATOES": ("POTATOES", "ALL CLASSES", "ALL UTILIZATION PRACTICES", "CWT / ACRE", "$ / CWT", 400, 9.0),
    "SUGARBEETS": ("SUGARBEETS", "ALL CLASSES", "ALL UTILIZATION PRACTICES", "TONS / ACRE", "$ / TON", 35, 50.0),
    "LENTILS": ("LENTILS", "ALL CLASSES", "ALL UTILIZATION PRACTICES", "CWT / ACRE", "$ / CWT", 12, 25.0),
    "BEANS, DRY EDIBLE": ("BEANS", "DRY EDIBLE", "ALL UTILIZATION PRACTICES", "CWT / ACRE", "$ / CWT", 22, 30.0),
}
_PRACTICES = ["IRRIGATED", "NON-IRRIGATED", "ALL PRODUCTION PRACTICES"]
API_COLUMNS = [
    "year", "commodity_desc", "statisticcat_desc", "county_code",
    "source_desc", "unit_desc", "prodn_practice_desc", "freq_desc",
    "domain_desc", "util_practice_desc", "value",
    "reference_period_desc", "class_desc", "asd_code", "agg_level_desc",
    "domaincat_desc", "state_fips_code", "state_alpha", "group_desc",
]
RENT_ITEMS = [
    "RENT, CASH, CROPLAND, IRRIGATED - EXPENSE, MEASURED IN $ / ACRE",
    "RENT, CASH, CROPLAND, NON-IRRIGATED - EXPENSE, MEASURED IN $ / ACRE",
    "RENT, CASH, PASTURELAND - EXPENSE, MEASURED IN $ / ACRE",
]


def _fmt(v: float, decimals: int = 0) -> str:
    """NASS-style number: thousands separators, fixed decimals."""
    return f"{v:,.{decimals}f}"


def _crop_units(crop: str, path: str) -> tuple[str, str, float]:
    if crop == "CORN":
        return _CORN_UNITS[path.split(", ")[1]]
    _, unit, yunit, y = CROPS[crop]
    return unit, yunit, y


def write_nass_inputs(out_dir: str, seed: int, n_counties: int) -> dict:
    """Write ``quickstats.csv``, ``usda_region.csv`` and
    ``usda_api.json`` under ``out_dir`` and return the facts the
    output checks use:

    - ``census_rows``: distinct census YEAR/TOTAL rows with a numeric
      value (what ``stats_location`` must hold, no suppressed value);
    - ``rent_rows``: the distinct rent rows as
      ``(location, year, dataitem, value)``;
    - ``quickstats_distinct``: distinct rows of the CSV;
    - ``api_records`` and ``explicit_yield_rows``: record counts;
    - ``counties`` and their ``asd`` (ag district) codes.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    counties = sorted(rng.sample(SWAP_COUNTIES, n_counties))
    asd = {c: f"{10 * (1 + int(c[2:]) % 4)}" for c in counties}
    states = sorted({c[:2] for c in counties})

    # usda_region crosswalk: one county row each, one state row each
    with open(os.path.join(out_dir, "usda_region.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["state_fips_code", "county_code", "asd_code", "county_name", "state_alpha", "asd_name"])
        for c in counties:
            st = c[:2]
            w.writerow([st, c[2:], asd[c], f"COUNTY {c}", STATE_ALPHA[st], f"DISTRICT {asd[c]}"])
        for st in states:
            w.writerow([st, "", "", "", STATE_ALPHA[st], ""])

    rows: list[dict] = []

    def qs(program, year, level, st, county, commodity, item, value, domain="TOTAL", dcat="NOT SPECIFIED"):
        rows.append({
            "Program": program, "Year": year, "Period": "YEAR", "Week Ending": "",
            "Geo Level": level, "State": STATE_ALPHA[st], "State ANSI": st,
            "Ag District": f"DISTRICT {asd[county]}" if county else "",
            "Ag District Code": asd[county] if county else "",
            "County": f"COUNTY {county}" if county else "", "County ANSI": county[2:] if county else "",
            "Zip Code": "", "Region": "", "watershed_code": "00000000", "Watershed": "",
            "Commodity": commodity, "Data Item": item, "Domain": domain,
            "Domain Category": dcat, "Value": value, "CV (%)": "",
        })

    census_rows = 0
    for year in YEARS:
        for county in counties:
            st = county[:2]
            for crop, (paths, *_rest) in CROPS.items():
                if rng.random() < 0.2:  # not every county grows every crop
                    continue
                for path in paths:
                    unit, yunit, ybase = _crop_units(crop, path)
                    acres = rng.randint(50, 60000)
                    yld = ybase * rng.uniform(0.6, 1.4)
                    items = [
                        (f"{path} - ACRES HARVESTED", _fmt(acres)),
                        (f"{path} - PRODUCTION, MEASURED IN {unit}", _fmt(acres * yld)),
                    ]
                    # irrigated paths report one yield per irrigation class
                    markers = _YIELD_MARKERS if path.endswith("IRRIGATED") else [None]
                    for m in markers:
                        p = f"{path}, {m}" if m else path
                        items.append((f"{p} - YIELD, MEASURED IN {yunit}",
                                      _fmt(yld * rng.uniform(0.9, 1.1), 1)))
                    for item, value in items:
                        if rng.random() < SUPPRESSED_SHARE:
                            value = rng.choice(SUPPRESSED)
                        else:
                            census_rows += 1
                        qs("CENSUS", year, "COUNTY", st, county, crop, item, value)
                # a non-TOTAL domain row: filtered out of every summary
                qs("CENSUS", year, "COUNTY", st, county, crop,
                   f"{paths[0]} - ACRES HARVESTED", _fmt(rng.randint(1, 500)),
                   domain="AREA HARVESTED", dcat="AREA HARVESTED: (1.0 TO 24.9 ACRES)")
        # survey prices at state level
        for st in states:
            for name, (com, _c, _u, _yu, punit, _y, price) in API_COMMODITIES.items():
                if punit is None:
                    continue
                qs("SURVEY", year, "STATE", st, None, com,
                   f"{name} - PRICE RECEIVED, MEASURED IN {punit}",
                   _fmt(price * rng.uniform(0.8, 1.2), 2))

    # rent rows: county-level survey, never suppressed
    rent_rows = set()
    for year in YEARS:
        for county in counties:
            for item in RENT_ITEMS:
                v = rng.randint(20, 400)
                qs("SURVEY", year, "COUNTY", county[:2], county, "RENT", item, _fmt(v))
                rent_rows.add((county, year, item, float(v)))

    distinct = len({tuple(r.values()) for r in rows})
    dups = [r for r in rows if rng.random() < DUPLICATE_SHARE]
    rows.extend(dups)
    rng.shuffle(rows)
    with open(os.path.join(out_dir, "quickstats.csv"), "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=QS_HEADERS, quoting=csv.QUOTE_ALL)
        w.writeheader()
        w.writerows(rows)

    # usda_api: 2012 yields at county / district / state grain and
    # state prices for 2010-2012
    api = []

    def rec(**kw):
        base = dict.fromkeys(API_COLUMNS, "")
        base.update(source_desc="SURVEY", freq_desc="ANNUAL", domain_desc="TOTAL",
                    reference_period_desc="YEAR", domaincat_desc="NOT SPECIFIED",
                    group_desc="FIELD CROPS")
        base.update(kw)
        api.append(base)

    for name, (com, cls, util, yunit, punit, yld, price) in API_COMMODITIES.items():
        grains = [("COUNTY", c[:2], asd[c], c[2:]) for c in counties]
        grains += sorted({("AGRICULTURAL DISTRICT", c[:2], asd[c], "") for c in counties})
        grains += [("STATE", st, "", "") for st in states]
        for level, st, a, cc in grains:
            for practice in _PRACTICES:
                if rng.random() < 0.15:
                    continue
                f = {"IRRIGATED": 1.25, "NON-IRRIGATED": 0.7}.get(practice, 1.0)
                v = rng.choice(SUPPRESSED) if rng.random() < SUPPRESSED_SHARE else _fmt(yld * f * rng.uniform(0.8, 1.2), 1)
                rec(year="2012", commodity_desc=com, class_desc=cls, util_practice_desc=util,
                    statisticcat_desc="YIELD", unit_desc=yunit, prodn_practice_desc=practice,
                    agg_level_desc=level, state_fips_code=st, state_alpha=STATE_ALPHA[st],
                    asd_code=a, county_code=cc, value=v)
        if punit is None:
            continue
        for st in states:
            for year in ("2010", "2011", "2012"):
                rec(year=year, commodity_desc=com, class_desc=cls, util_practice_desc=util,
                    statisticcat_desc="PRICE RECEIVED", unit_desc=punit,
                    prodn_practice_desc="ALL PRODUCTION PRACTICES", agg_level_desc="STATE",
                    state_fips_code=st, state_alpha=STATE_ALPHA[st],
                    value=_fmt(price * rng.uniform(0.8, 1.2), 2))
    with open(os.path.join(out_dir, "usda_api.json"), "w") as f:
        json.dump({"data": api}, f)

    return {
        "census_rows": census_rows,
        "rent_rows": sorted(rent_rows),
        "quickstats_distinct": distinct,
        "counties": counties,
        "asd": asd,
        "api_records": len(api),
        # explicit_yield keeps every unsuppressed YIELD record
        "explicit_yield_rows": sum(
            1 for r in api if r["statisticcat_desc"] == "YIELD" and not r["value"].startswith("(")
        ),
    }


# ---------------------------------------------------------------------------
# star schema
# ---------------------------------------------------------------------------

#: the seed the engine's sf0.1 test tables were generated with:
#: ``write_star_schema(dir, SF01_SEED)`` reproduces them value for value
SF01_SEED = 42

_T0 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _write(df: dict, path: str) -> None:
    # through pandas, as the test tables were: same bytes, footer included
    pd.DataFrame(df).to_parquet(path, index=False)


def write_star_schema(out_dir: str, seed: int) -> None:
    """The eight tables the query mix reads, at sf0.1. Every column is
    drawn from one ``default_rng(seed)`` stream, table after table, in
    the order (and with the value lists) of the generator behind the
    engine's test tables, so ``seed=SF01_SEED`` rebuilds them exactly
    (README.md, "Query-mix input")."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 15_000, 1_000, 20_000
    n_ord, n_li, n_ev, n_users = 150_000, 600_000, 100_000, 1_500

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": regions}, f"{out_dir}/region.parquet")
    _write({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    }, f"{out_dir}/nation.parquet")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return np.array(values)[rng.integers(0, len(values), n)]

    _write({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], n_cust),
    }, f"{out_dir}/customer.parquet")
    _write({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }, f"{out_dir}/supplier.parquet")

    adj = pick(["red", "blue", "small", "large", "hot", "cold", "old", "new"], n_part)
    noun = pick(["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"], n_part)
    _write({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": pick(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    }, f"{out_dir}/part.parquet")

    _write({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _T0 + rng.integers(0, 2405, n_ord) * _DAY_US,
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }, f"{out_dir}/orders.parquet")

    _write({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": money(0.0, 0.1, n_li),
        "l_tax": money(0.0, 0.08, n_li),
        "l_returnflag": pick(["R", "A", "N"], n_li),
        "l_linestatus": pick(["O", "F"], n_li),
        "l_shipdate": _T0 + rng.integers(1, 2500, n_li) * _DAY_US,
    }, f"{out_dir}/lineitem.parquet")

    # 30 days of seconds, sorted, truncated to microseconds via ns
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    ts = np.datetime64("2024-01-01", "us") + (secs * 1e9).astype(np.int64) // 1000
    _write({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pick(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, f"{out_dir}/events.parquet")
