"""Spark SQL text for driver-side values and names — the one renderer.

Everything the engine inlines into Spark SQL text is spelled here:

* **literals** — ``double_sql``/``bigint_sql``/``string_sql`` and
  ``literal_sql`` (by DDL type name, for ``smalldf.local_struct_df``),
  plus the array, 2-D array and map literals built from them;
* **identifiers** — :func:`ident` backtick-quotes any column or field
  name (spaces, dashes, keywords, backticks);
* **the nearest-centroid ranking** — :func:`nearest_rank_sql`, the
  ``(squared-L2 distance, cell)`` struct array that IVF assignment and
  probing, k-means, SemDeDup and PQ encoding all sort.

Why SQL text: ``F.array(*[F.lit(v) for v in vals])`` costs ~75 py4j
round-trips per element (~0.4 ms each on this stack — the
"Python-local-relation tax" family, SCALING.md): a 40×16 nested double
table built that way burns ~0.5 s of pure driver time PER SUBSPACE,
which dominated the ANN ADC queries (r10 optimization round, guide
§7.3 "very large expression trees"). Rendering the same literals into
ONE SQL string and parsing it with ``F.expr`` builds the identical
Catalyst tree (Literal nodes inside CreateArray) in single-digit
milliseconds.

Value fidelity: ``repr(float)`` is the shortest round-tripping decimal
for an IEEE double, and Spark's parser converts ``<repr>D`` literals
with correct rounding (Java ``Double.parseDouble``), so the parsed
literal is BIT-IDENTICAL to ``F.lit(v)``; NaN and ±∞ (which have no
``D`` spelling) render as casts from their string names — pinned in
tests/test_lits.py over random + adversarial values.

The DuckDB oracle renderers (``linkage._dlit``, the ``CAST(.. AS
DOUBLE)`` literals of ``classifier.logreg_train_oracle_sql`` and the
oracle SQL in ``plans/queries.py``) stay apart on purpose: they target
another engine — DuckDB reads a bare decimal as DECIMAL and has no
``D`` suffix — and the tests compare the engine against them, so
sharing one renderer would let a rendering fault pass on both sides.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F

__all__ = [
    "LITERAL_TYPES",
    "bigint_array",
    "bigint_array_sql",
    "bigint_map",
    "bigint_map_sql",
    "bigint_sql",
    "dot_lit_sql",
    "double_array",
    "double_array2d",
    "double_array2d_sql",
    "double_array_sql",
    "double_sql",
    "ident",
    "literal_sql",
    "nearest_rank_sql",
    "sqdist_lit_sql",
    "string_sql",
]


def ident(name: str) -> str:
    """``name`` as a quoted Spark SQL identifier: wrapped in backticks,
    any backtick inside doubled. A dotted name stays ONE identifier
    (``a.b`` is the column named ``a.b``, not field ``b`` of ``a``)."""
    return "`" + str(name).replace("`", "``") + "`"


def double_sql(v: float | None) -> str:
    """One DOUBLE literal; ``None`` is a typed NULL."""
    if v is None:
        return "CAST(NULL AS DOUBLE)"
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return "CAST('-Infinity' AS DOUBLE)" if v < 0 else "CAST('Infinity' AS DOUBLE)"
    return f"{v!r}D"


def bigint_sql(v: int | None) -> str:
    """One BIGINT literal (``L`` suffix; the parser accepts BIGINT
    min); ``None`` is a typed NULL."""
    return "CAST(NULL AS BIGINT)" if v is None else f"{int(v)}L"


def string_sql(v: str) -> str:
    """One STRING literal, backslashes and single quotes escaped."""
    escaped = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{escaped}'"


def double_array_sql(vals) -> str:
    """SQL text of :func:`double_array`."""
    vals = list(vals)
    if not vals:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return "array(" + ",".join(double_sql(v) for v in vals) + ")"


#: DDL type name → renderer of one non-NULL value of that type.
_RENDERERS = {
    "int": lambda v: str(int(v)),
    "bigint": bigint_sql,
    "double": double_sql,
    "string": string_sql,
    "boolean": lambda v: "true" if v else "false",
    "array<double>": double_array_sql,
}

#: The types :func:`literal_sql` renders — the model-relation types
#: ``smalldf.local_struct_df`` accepts.
LITERAL_TYPES = frozenset(_RENDERERS)


def literal_sql(value, type_name: str) -> str:
    """One literal of the DDL type ``type_name`` (its
    ``simpleString``, one of :data:`LITERAL_TYPES`); ``None`` is a
    typed NULL."""
    if type_name not in _RENDERERS:
        raise ValueError(f"unsupported field type {type_name!r}")
    if value is None:
        return f"CAST(NULL AS {type_name})"
    return _RENDERERS[type_name](value)


def double_array(vals) -> Column:
    """``F.array(*[F.lit(float(v)) for v in vals])`` in one parse."""
    return F.expr(double_array_sql(vals))


def double_array2d_sql(rows) -> str:
    """SQL text of the nested double-array literal (the string twin
    of :func:`double_array2d`, for embedding inside larger rendered
    expressions)."""
    rows = [list(r) for r in rows]
    if not rows:
        return "CAST(array() AS ARRAY<ARRAY<DOUBLE>>)"
    return "array(" + ",".join(double_array_sql(r) for r in rows) + ")"


def double_array2d(rows) -> Column:
    """Nested ``array(array(..double..), ...)`` literal in one parse."""
    return F.expr(double_array2d_sql(rows))


def dot_lit_sql(vec_sql: str, vals) -> str:
    """SQL text of the literal dot product
    ``aggregate(zip_with(vec, <lits>, (v,p) -> CAST(v AS DOUBLE)*p),
    0.0D, (acc,x) -> acc+x)`` — the exact fold the Column-API form
    builds (same ops, same order, bit-identical doubles), in ONE
    parse instead of ~20 py4j round-trips per call. Each ANN/LSH
    construction site evaluates this once per literal vector (plane,
    centroid), so the per-call tax multiplies by planes × tables or
    cells × subspaces — the r10 profile measured whole seconds of
    driver time per query build."""
    vals = list(vals)
    if not vals:
        raise ValueError("dot_lit_sql: empty literal vector")
    return (
        f"aggregate(zip_with({vec_sql},{double_array_sql(vals)},"
        "(v,p)->CAST(v AS DOUBLE)*p),0.0D,(acc,x)->acc+x)"
    )


def sqdist_lit_sql(vec_sql: str, vals) -> str:
    """SQL text of the literal squared-L2 distance fold
    (``(CAST(v AS DOUBLE)-p)*(CAST(v AS DOUBLE)-p)`` summed left to
    right from ``0.0``) — see :func:`dot_lit_sql`."""
    vals = list(vals)
    if not vals:
        raise ValueError("sqdist_lit_sql: empty literal vector")
    return (
        f"aggregate(zip_with({vec_sql},{double_array_sql(vals)},"
        "(v,p)->(CAST(v AS DOUBLE)-p)*(CAST(v AS DOUBLE)-p)),"
        "0.0D,(acc,x)->acc+x)"
    )


def nearest_rank_sql(vec_sql: str, centroids) -> str:
    """SQL text of the cells ranked nearest-first: an ``array_sort``ed
    array of ``struct<d: double, cell: int>``, ``d`` the
    :func:`sqdist_lit_sql` distance of ``vec_sql`` to
    ``centroids[cell]``; struct order sends ties to the lower cell.
    ``element_at(…, 1).cell`` is the nearest cell, ``slice(…, 1, n)``
    the ``n`` nearest. ``vec_sql`` is evaluated outside every lambda,
    so a column named like a lambda variable stays a column."""
    centroids = list(centroids)
    if not centroids:
        raise ValueError("nearest_rank_sql: no centroids")
    return (
        "array_sort(array("
        + ",".join(
            f"named_struct('d',{sqdist_lit_sql(vec_sql, c)},'cell',{i})"
            for i, c in enumerate(centroids)
        )
        + "))"
    )


def bigint_array_sql(vals) -> str:
    """SQL text of :func:`bigint_array` — for callers that embed the
    literal inside a larger single-parse SQL statement."""
    vals = list(vals)
    if not vals:
        return "CAST(array() AS ARRAY<BIGINT>)"
    return "array(" + ",".join(bigint_sql(v) for v in vals) + ")"


def bigint_array(vals) -> Column:
    """``F.array(*[F.lit(int(v)).cast("bigint") for v in vals])`` in
    one parse. ``None`` entries render as ``CAST(NULL AS BIGINT)`` —
    the dense weight-LUT device needs NULL slots (a trained weight
    can be NULL when its gradient aggregated over all-NULL
    residuals)."""
    return F.expr(bigint_array_sql(vals))


def bigint_map_sql(pairs) -> str:
    """SQL text of :func:`bigint_map` — for callers that embed the
    literal inside a larger single-parse SQL statement."""
    items = [(int(k), v) for k, v in pairs]
    if not items:
        return "CAST(map() AS MAP<BIGINT,BIGINT>)"
    return "map(" + ",".join(f"{bigint_sql(k)},{bigint_sql(v)}" for k, v in items) + ")"


def bigint_map(pairs) -> Column:
    """``map(k1,v1, k2,v2, ...)`` BIGINT→BIGINT literal in one parse.
    NULL values render as ``CAST(NULL AS BIGINT)`` (keys must be
    non-NULL — Spark rejects NULL map keys). The whole map constant-
    folds to a single Literal, so an ``element_at(map, key)`` lookup
    replaces a model-sized broadcast-join relation without the
    per-row join or the per-element ``F.lit`` tax."""
    return F.expr(bigint_map_sql(pairs))
