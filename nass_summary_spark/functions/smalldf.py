"""Fast driver-local model relations.

``spark.createDataFrame(rows)`` routes tiny driver-side data (index
model tables, probe lists, parameter sidecars) through a pickled
Python parallelize — on this stack every JOB over such a relation
pays a multi-second Python-runner round trip (measured ~5-6 s per
tiny model write vs 0.2 s for the identical write from
``spark.range``; the probe-list joins inside the index probes paid
the same tax). ``local_struct_df`` builds the relation instead as
ONE SQL expression string — ``explode(array(named_struct(...), ...))``
— which parses in milliseconds and evaluates entirely JVM-side, the
same device the session already uses for centroid/LUT literals (a
per-element ``F.lit`` chain is a py4j tarpit; one expr string is
not).

Supported field types: int, bigint, double, string, boolean,
array<double> — the model-relation types the index family persists
(``lits.LITERAL_TYPES``; validated at parse time on every code path,
including empty ``rows``). Values and field names are spelled by
``functions/lits.py``. Values must be driver-small (the expression
ships with the plan)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nass_summary_spark.functions.lits import (
    LITERAL_TYPES,
    ident,
    literal_sql,
    string_sql,
)


def local_struct_df(
    spark: SparkSession, schema: str, rows: Sequence[tuple]
) -> DataFrame:
    """Build a small DataFrame from driver-local ``rows`` as one
    JVM-side expression. ``schema`` is a DDL string like
    ``"cell int, pos int, value double"``, parsed by Spark's own DDL
    parser (backtick-quote names that are not bare identifiers:
    ``"`first name` double"``); every job over the result runs
    without a Python stage (unlike ``createDataFrame``)."""
    parsed = StructType.fromDDL(schema)
    if not isinstance(parsed, StructType):
        raise ValueError(f"local_struct_df: not a field list: {schema!r}")
    fields = [(f.name, f.dataType.simpleString()) for f in parsed.fields]
    for _, ftype in fields:
        # validated up front, so the empty-rows path fails loudly too
        if ftype not in LITERAL_TYPES:
            raise ValueError(
                f"local_struct_df: unsupported field type {ftype!r}"
            )
    if not rows:
        # explode(array()) cannot carry a struct type; produce the
        # empty frame through a filtered literal row instead
        return (
            spark.range(1)
            .selectExpr(
                *[f"CAST(NULL AS {t}) AS {ident(n)}" for n, t in fields]
            )
            .where(F.lit(False))
        )
    structs = ",".join(
        "named_struct("
        + ",".join(
            f"{string_sql(n)},{literal_sql(v, t)}"
            for (n, t), v in zip(fields, row)
        )
        + ")"
        for row in rows
    )
    return (
        spark.range(1)
        .select(F.expr(f"explode(array({structs}))").alias("__s"))
        .select("__s.*")
    )
