"""Scan-layout helpers.

``spread_narrow_scan`` is the shared cure for the 1-task-scan-stage
disease (guide §2.5 "input skew … repartition immediately after the
read"): heavy map-side work (shingle explode + md5, featurization,
comparators) fused into a scan stage runs at the SCAN's partition
count, and a small single-row-group parquet file arrives as ONE
split, serializing the whole sweep onto one task.  The round-robin
exchange only fires when the scan is narrower than the session
shuffle width — a corpus-scale scan already has more splits than the
session width, so no exchange is added there — and callers are
expected to pass a PROJECTED frame so the exchange carries only the
columns the downstream sweep needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["spread_narrow_scan", "pushdown_barrier"]


def pushdown_barrier(col: Column) -> Column:
    """``col + 0.0 * rand(0)`` — a numeric no-op (rand ∈ [0, 1), so
    ``0.0 * r`` is ``+0.0`` and ``x + 0.0`` returns ``x`` bit for bit
    for every double except ``-0.0``, which becomes ``+0.0``: equal
    under ``=`` and in Spark's grouping and join keys, but not in its
    sign bit or its string form) that marks the expression
    nondeterministic, so a filter referencing it can be neither
    pushed below an exchange nor inlined into a second evaluation.

    This is the guide §4.4 duplicated-evaluation fix applied to JVM
    expressions: a filter on an expensive computed column otherwise
    sinks — carrying the WHOLE expression — into the scan stage
    (serializing onto a single split's task at bench scale) while
    the projection evaluates the expression a second time for every
    surviving row. Spark 4 pushes predicates per referenced alias,
    so a separate nondeterministic barrier column does not block it;
    the barrier must live inside the referenced expression. Use on
    DOUBLE-typed score columns that feed a filter."""
    return col + F.lit(0.0) * F.rand(0)

#: (input-file tuple, width, maxPartitionBytes) → measured scan
#: partition count. The ``.rdd.getNumPartitions()`` probe runs a full
#: analyze→optimize→physical-plan cycle (~0.05-1s of driver time per
#: call — profiled as a visible inter-job gap in every spread_* entry
#: point), but the answer only depends on the underlying file set and
#: split config, so one probe per (scan, width) serves every caller
#: in the session. ``inputFiles()`` itself is ~10ms (analysis only).
_NPARTS_CACHE: dict[tuple, int] = {}


def spread_narrow_scan(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over the session shuffle width iff it
    arrives in fewer partitions (record-sized exchange, conf-driven
    width; identity at corpus scale). Streaming frames pass through
    untouched (no inputFiles/partition probe exists for them; a
    micro-batch's width is the source's concern) — this keeps the
    helper safe inside batch/stream-shared operators."""
    if df.isStreaming:
        return df
    conf = df.sparkSession.conf
    width = int(conf.get("spark.sql.shuffle.partitions"))
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:
        files = ()
    if files:
        key = (files, width, conf.get("spark.sql.files.maxPartitionBytes"))
        n = _NPARTS_CACHE.get(key)
        if n is None:
            n = df.rdd.getNumPartitions()
            _NPARTS_CACHE[key] = n
    else:
        n = df.rdd.getNumPartitions()
    if n < width:
        return df.repartition(width)
    return df
