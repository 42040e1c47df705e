"""Pin the literal-array helpers bit-identical to the F.lit path.

The helpers exist purely for driver-side speed (one parsed expr vs
~75 py4j round-trips per element); any value drift would silently
change ADC distances / bloom probes, so equality is asserted on the
JVM over random + adversarial doubles and the BIGINT extremes.
"""

import random
import struct

from pyspark.sql import functions as F

from nass_summary_spark.functions.lits import (
    bigint_array,
    double_array,
    double_array2d,
)


def _bits(x):
    return struct.pack("<d", x)


def test_double_array_bit_identical(spark):
    rng = random.Random(20260817)
    vals = [rng.uniform(-1e9, 1e9) for _ in range(64)]
    vals += [0.0, -0.0, 1e-300, 1.7e308, 2**-52, 0.1 + 0.2, float("inf"),
             float("-inf"), float("nan"), 3.0, -12345.678901234567]
    row = (
        spark.range(1)
        .select(
            double_array(vals).alias("n"),
            F.array(*[F.lit(float(v)) for v in vals]).alias("o"),
        )
        .collect()[0]
    )
    assert [_bits(a) for a in row["n"]] == [_bits(b) for b in row["o"]]


def test_double_array2d_matches_nested_lits(spark):
    rng = random.Random(7)
    rows = [[rng.uniform(-100, 100) for _ in range(5)] for _ in range(7)]
    rows.append([float("nan"), float("inf"), float("-inf"), -0.0, 0.0])
    row = (
        spark.range(1)
        .select(
            double_array2d(rows).alias("n"),
            F.array(
                *[F.array(*[F.lit(v) for v in r]) for r in rows]
            ).alias("o"),
        )
        .collect()[0]
    )
    assert [[_bits(v) for v in r] for r in row["n"]] == [
        [_bits(v) for v in r] for r in row["o"]
    ]


def test_bigint_array_extremes(spark):
    vals = [-(2**63), -1, 0, 1, 2**63 - 1, 123456789012345678]
    row = spark.range(1).select(bigint_array(vals).alias("a")).collect()[0]
    assert list(row["a"]) == vals


def test_empty_arrays_typed(spark):
    df = spark.range(1).select(
        double_array([]).alias("d"),
        double_array2d([]).alias("dd"),
        bigint_array([]).alias("b"),
    )
    assert dict(df.dtypes)["d"] == "array<double>"
    assert dict(df.dtypes)["dd"] == "array<array<double>>"
    assert dict(df.dtypes)["b"] == "array<bigint>"
    r = df.collect()[0]
    assert list(r["d"]) == [] and list(r["dd"]) == [] and list(r["b"]) == []


def test_bigint_map_lookup_and_nulls(spark):
    from nass_summary_spark.functions.lits import bigint_map

    pairs = [(-1, -62106756089), (0, 0), (7, None), (2**62, -(2**62))]
    m = bigint_map(pairs)
    row = (
        spark.range(1)
        .select(
            F.element_at(m, F.lit(-1).cast("bigint")).alias("a"),
            F.element_at(m, F.lit(0).cast("bigint")).alias("b"),
            F.element_at(m, F.lit(7).cast("bigint")).alias("c"),
            F.element_at(m, F.lit(2**62).cast("bigint")).alias("d"),
            F.element_at(m, F.lit(999).cast("bigint")).alias("missing"),
        )
        .collect()[0]
    )
    assert row["a"] == -62106756089
    assert row["b"] == 0
    assert row["c"] is None
    assert row["d"] == -(2**62)
    assert row["missing"] is None


def test_bigint_map_empty_typed(spark):
    from nass_summary_spark.functions.lits import bigint_map

    df = spark.range(1).select(bigint_map([]).alias("m"))
    assert dict(df.dtypes)["m"] == "map<bigint,bigint>"


_SPECIAL = [float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 1e-300]


def test_local_struct_df_special_doubles_bit_identical(spark):
    """NaN, ±∞ and −0.0 have no ``<repr>D`` spelling that parses; the
    relation must carry them exactly as ``F.lit`` does, both as a
    ``double`` field and inside an ``array<double>``."""
    from nass_summary_spark.functions.smalldf import local_struct_df

    df = local_struct_df(
        spark, "i int, x double, xs array<double>",
        [(i, v, [v, 1.0]) for i, v in enumerate(_SPECIAL)],
    )
    got = sorted(df.collect(), key=lambda r: r["i"])
    want = (
        spark.range(1)
        .select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(_SPECIAL)])
        .collect()[0]
    )
    assert [_bits(r["x"]) for r in got] == [_bits(v) for v in want]
    assert [_bits(r["xs"][0]) for r in got] == [_bits(v) for v in want]


def test_local_struct_df_quotes_field_names(spark):
    """Names are parsed by Spark's DDL parser and quoted when
    rendered: a space or a backtick inside a name is data."""
    from nass_summary_spark.functions.smalldf import local_struct_df

    names = ["my f", "a`b", "x.y"]
    schema = "`my f` double, `a``b` double, `x.y` double"
    df = local_struct_df(spark, schema, [(1.0, 2.0, 3.0)])
    assert df.columns == names
    assert tuple(df.collect()[0]) == (1.0, 2.0, 3.0)
    assert local_struct_df(spark, schema, []).columns == names


def test_ident_round_trips_through_col(spark):
    from nass_summary_spark.functions.lits import ident

    for name in ["plain", "first name", "a`b", "``", "1-URGENT"]:
        df = spark.range(1).select(F.lit(7).alias(name))
        assert df.select(F.expr(ident(name))).collect()[0][0] == 7, name


def test_sql_text_rendered_only_in_lits():
    """Spark SQL literals and quoted names are spelled in one place:
    no other module of the package writes a ``<repr>D`` double or
    ``<n>L`` bigint literal or builds a backtick quote around a value
    by hand."""
    import re
    from pathlib import Path

    import nass_summary_spark

    root = Path(nass_summary_spark.__file__).parent
    hand = re.compile(r"!r\}D|\}L\b|(?<!`)`\{|\"`\"|'`'")
    users = sorted(
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if hand.search(p.read_text())
    )
    assert users == ["functions/lits.py"]
