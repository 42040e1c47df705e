"""Column-level parsing functions re-expressing the reference's
cleaning / coding semantics (CSTARS/nass-summary ``src/nass.sql``,
``src/quickstats.sql``) as pure Spark SQL expressions.

Everything here returns a ``Column`` built from
``pyspark.sql.functions`` so it stays inside whole-stage codegen —
no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Pattern of NASS "suppressed" values — ``(D)``, ``(NA)``, ``(S)``,
#: ``(Z)``… — that must never be parsed as numbers
#: (reference: nass.sql:75 ``not value ~ '\(.*\)'``).
SUPPRESSED_RE = r"^\s*\(.*\)\s*$"


def safe_number(value: Column | str) -> Column:
    """Parse a NASS value string to double, NULL for suppressed /
    unparsable values.

    Reference: ``to_number(value,'9999999999D99')`` guarded by
    ``not value ~ '\\(.*\\)'`` (nass.sql:75,114). NASS numbers carry
    thousands separators, so strip commas before the cast; anything
    that still fails to parse becomes NULL (``try_cast`` semantics)
    instead of failing the job — at 100 TB a single malformed row must
    not kill the pipeline.
    """
    col = F.col(value) if isinstance(value, str) else value
    cleaned = F.regexp_replace(F.trim(col), ",", "")
    return F.when(~col.rlike(SUPPRESSED_RE), cleaned.try_cast("double")).otherwise(
        F.lit(None).cast("double")
    )


def location_code(
    state_fips: Column | str,
    county_code: Column | str,
    asd_code: Column | str,
) -> Column:
    """Derive the reference's unified location code.

    county rows → ``fips||county``, ag-district rows →
    ``fips||'ag'||asd``, state rows → ``fips``
    (reference: nass.sql:110-113, 39-41).
    Empty string and NULL both mean "absent", as in the reference's
    ``!= ''`` guards against text columns.
    """
    sf = F.col(state_fips) if isinstance(state_fips, str) else state_fips
    cc = F.col(county_code) if isinstance(county_code, str) else county_code
    asd = F.col(asd_code) if isinstance(asd_code, str) else asd_code
    present = lambda c: c.isNotNull() & (F.trim(c) != "")  # noqa: E731
    return (
        F.when(present(cc), F.concat(sf, cc))
        .when(present(asd), F.concat(sf, F.lit("ag"), asd))
        .otherwise(sf)
    )


def dataitem_paths(dataitem: Column | str) -> tuple[Column, Column]:
    """Split a NASS ``dataitem`` into (commodity path, item path).

    Reference: ``string_to_array(dataitem,' - ')`` then
    ``string_to_array(di[1],', ')`` (nass.sql:116,124-127). Returns
    two ``array<string>`` columns: the comma path of element 1 and of
    element 2.
    """
    col = F.col(dataitem) if isinstance(dataitem, str) else dataitem
    parts = F.split(col, " - ")
    commodity_a = F.split(F.element_at(parts, 1), ", ")
    item_a = F.split(F.element_at(parts, 2), ", ")
    return commodity_a, item_a


def commodity_name(
    commodity_desc: Column | str,
    class_desc: Column | str,
    util_practice_desc: Column | str,
) -> Column:
    """Compose the display commodity name.

    Reference (nass.sql:57-61): append ``, <class>`` unless
    ``ALL CLASSES`` and ``, <util>`` unless
    ``ALL UTILIZATION PRACTICES``.
    """
    com = F.col(commodity_desc) if isinstance(commodity_desc, str) else commodity_desc
    cls = F.col(class_desc) if isinstance(class_desc, str) else class_desc
    utl = (
        F.col(util_practice_desc)
        if isinstance(util_practice_desc, str)
        else util_practice_desc
    )
    cls_part = F.when(cls == "ALL CLASSES", F.lit("")).otherwise(F.concat(F.lit(", "), cls))
    utl_part = F.when(utl == "ALL UTILIZATION PRACTICES", F.lit("")).otherwise(
        F.concat(F.lit(", "), utl)
    )
    return F.concat(com, cls_part, utl_part)


def strip_measured_in(unit_item: Column | str) -> Column:
    """``'PRODUCTION, MEASURED IN BU'`` → ``'BU'``.

    Reference: ``regexp_replace(item_a[2],'MEASURED IN ','')``
    (nass.sql:140,267).
    """
    col = F.col(unit_item) if isinstance(unit_item, str) else unit_item
    return F.regexp_replace(col, "MEASURED IN ", "")


def epoch_micros(ts: Column | str) -> Column:
    """Microseconds since 1970-01-01 from a timestamp column,
    **timezone-independent and NTZ-safe**.

    Parquet files written without timezone metadata (e.g. pandas
    ``timestamp[us]``) surface as ``TIMESTAMP_NTZ`` in Spark 4, where
    ``unix_micros`` raises DATATYPE_MISMATCH. Casting NTZ→LTZ first
    would re-interpret wall clocks in the *session* timezone — and a
    DST transition between two rows would then shift their difference
    by an hour vs. an engine (DuckDB ``epoch_us``) that treats naive
    timestamps as UTC. ``timestampdiff(MICROSECOND, ...)`` operates
    on NTZ natively, so anchoring at the NTZ epoch gives the exact
    naive-as-UTC epoch value on every engine. LTZ inputs are cast to
    NTZ via the session timezone (tests pin UTC).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    anchor = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_diff("MICROSECOND", anchor, c.cast("timestamp_ntz"))
