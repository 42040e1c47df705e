"""Reported-vs-derived reconciliation merges.

Reference: ``harvest_total_and_sum`` (nass.sql:236-249) FULL OUTER
JOINs directly-reported statistics with leaf-rollup-derived ones and
reconciles with ``greatest``; ``yield_total_and_sum`` (nass.sql:360)
and ``price_total_and_sum`` (nass.sql:438) use ``coalesce``
(reported wins, derived fills gaps). Callers of
:func:`total_and_sum_merge`: the three ``plans.nass.*_total_and_sum``
functions and the ``total_and_sum_merge`` query.

``commodity_list`` (nass.sql:453-464) FULL OUTER JOINs the distinct
commodity sets of three views into a presence catalog. Callers of
:func:`presence_catalog`: ``plans.nass.commodity_list`` and the
``catalog_presence`` query.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def total_and_sum_merge(
    reported: DataFrame,
    derived: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    how: str = "greatest",
) -> DataFrame:
    """The *_total_and_sum shape: FULL OUTER JOIN ``reported`` with
    ``derived`` on ``keys``, a ``reported`` flag (nass.sql:238
    ``t.commodity is not null as reported``), the per-side inputs as
    ``t_v`` / ``s_v`` audit columns, and each value reconciled.

    how='greatest' → ``greatest(t.v, s.v)`` (null-tolerant, like SQL
    GREATEST which skips NULLs); how='coalesce' → reported wins.
    Any other ``how`` raises ``ValueError``.
    """
    if how not in ("greatest", "coalesce"):
        raise ValueError(f"how must be greatest or coalesce, got {how!r}")
    t = reported.select(
        *keys, F.lit(True).alias("__rep"), *[F.col(v).alias(f"__t_{v}") for v in values]
    )
    s = derived.select(*keys, *[F.col(v).alias(f"__s_{v}") for v in values])
    joined = t.join(s, on=list(keys), how="full_outer")
    cols = [F.col(k) for k in keys]
    cols.append(F.coalesce(F.col("__rep"), F.lit(False)).alias("reported"))
    for v in values:
        tv, sv = F.col(f"__t_{v}"), F.col(f"__s_{v}")
        merged = F.greatest(tv, sv) if how == "greatest" else F.coalesce(tv, sv)
        cols += [tv.alias(f"t_{v}"), sv.alias(f"s_{v}"), merged.alias(v)]
    return joined.select(*cols)


def presence_catalog(key: str, sets: Mapping[str, DataFrame]) -> DataFrame:
    """The presence-catalog shape: the distinct ``key`` values of each
    frame in ``sets`` (name -> frame), FULL OUTER JOINed on ``key``,
    with one boolean column per name that is true where the key
    occurs in that frame."""
    marks = [f"__in{i}" for i in range(len(sets))]
    frames = [
        df.select(key).distinct().withColumn(m, F.lit(True))
        for m, df in zip(marks, sets.values())
    ]
    joined = reduce(lambda a, b: a.join(b, on=key, how="full_outer"), frames)
    return joined.select(
        key, *[F.col(m).isNotNull().alias(name) for m, name in zip(marks, sets)]
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Diff two snapshots of a keyed table: one FULL OUTER JOIN on
    the key emits every row's status — ``added`` (key only in new),
    ``removed`` (only in old), ``changed`` (key in both, any compared
    column differs), ``unchanged``. The reload-vs-diff primitive the
    reference's truncate-and-reload Make flow never had (nass.mk:17) —
    at 100 TB you ship the diff, not the reload.

    Comparison is null-safe (``eqNullSafe``) per column; one shuffle
    per side on the key, no row-level hashing needed (Catalyst prunes
    untouched columns from both scans).
    """
    # presence flags from a dedicated marker avoid all-null ambiguity
    o = old.select(*key_cols, F.lit(True).alias("__in_o"), *[F.col(c).alias(f"__o_{c}") for c in compare_cols])
    n = new.select(*key_cols, F.lit(True).alias("__in_n"), *[F.col(c).alias(f"__n_{c}") for c in compare_cols])
    joined = o.join(n, key_cols, "full_outer")
    same = None
    for c in compare_cols:
        eq = F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        same = eq if same is None else (same & eq)
    status = (
        F.when(F.col("__in_o").isNull(), F.lit("added"))
        .when(F.col("__in_n").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(*key_cols, status.alias("status"))


def scd2_history(
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Build a slowly-changing-dimension type-2 history from a change
    log: per key ordered by change time, each version is valid from
    its own timestamp until the next version's (NULL = current), with
    an ``is_current`` flag and version ordinal.

    One shuffle (key-partitioned window); ``lead`` closes each
    interval in the same sorted pass. Ties on (key, ts) are broken by
    the attribute tuple so the history is deterministic.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col)] + [F.col(c) for c in attr_cols]
    w = Window.partitionBy(key_col).orderBy(*order)
    return changes.select(
        F.col(key_col),
        *[F.col(c) for c in attr_cols],
        F.col(ts_col).alias("valid_from"),
        F.lead(F.col(ts_col)).over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
        F.lead(F.col(ts_col)).over(w).isNull().alias("is_current"),
    )


def temporal_join(
    fact: DataFrame,
    dim_history: DataFrame,
    key_col: str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "inner",
    broadcast_dim: bool = False,
) -> DataFrame:
    """Join each fact row to the dimension VERSION valid at its event
    time: ``key`` equality plus ``valid_from <= ts < valid_to``
    (open-ended current versions have NULL ``valid_to``).  This is
    the read side of :func:`scd2_history` — the point-in-time
    enrichment every bitemporal pipeline needs (an order must see
    the price list of ITS day, not today's).

    Scale shape: the equi-join carries the key (versions-per-key are
    few, so the residual interval predicate prunes a handful of rows
    post-match — no interval explosion, no bucket machinery needed;
    the key equality already co-locates).  ``broadcast_dim=True``
    pins the history as the build side when it is dimension-sized.
    Exactly one version matches per fact row whenever the history is
    gapless (scd2_history constructs it gapless by design).
    """
    dim = F.broadcast(dim_history) if broadcast_dim else dim_history
    cond = (
        (fact[key_col] == dim_history[key_col])
        & (F.col(valid_from) <= fact[ts_col])
        & (F.col(valid_to).isNull() | (fact[ts_col] < F.col(valid_to)))
    )
    return fact.join(dim, cond, how).drop(dim_history[key_col])


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC changelog to a base snapshot (SURVEY.md §2 B95):
    the MERGE-into-snapshot shape every incremental 100 TB pipeline
    needs — upserts ('I'/'U') replace, deletes ('D') remove, and only
    the HIGHEST-sequence change per key wins.

    Contract: ``changes`` carries ``key + payload + seq + op`` with
    ``seq >= 1`` and at most one change per (key, seq); the base
    snapshot joins the ordering at seq 0 (an implicit insert). Plan:
    one union (no shuffle) + ONE ``max_by`` aggregate on the key —
    no join, no window. ``max_by`` is a declarative aggregate, so it
    PARTIAL-AGGREGATES map-side: a hot key whose changelog is
    millions of rows reduces inside every input partition before one
    tiny struct per key crosses the exchange — the shape a
    row_number window cannot achieve (a window must co-locate every
    row of the key in one task; SCALING_SKEW.json measures the
    difference under a 50%-hot-key changelog). Output: the
    post-apply snapshot (key + payload).

    Reference twin: scd2_history (above) keeps every version;
    cdc_apply keeps only the end state — the two ends of the same
    changelog spectrum.
    """
    all_rows = base.select(
        *key_cols,
        *payload_cols,
        F.lit(0).cast("long").alias("__seq"),
        F.lit("I").alias("__op"),
    ).unionByName(
        changes.select(
            *key_cols,
            *payload_cols,
            F.col(seq_col).cast("long").alias("__seq"),
            F.col(op_col).alias("__op"),
        )
    )
    last = all_rows.groupBy(*key_cols).agg(
        F.max_by(
            F.struct(*payload_cols, F.col("__op").alias("__op")), F.col("__seq")
        ).alias("__last")
    )
    return last.where(F.col("__last.__op") != "D").select(
        *key_cols,
        *[F.col(f"__last.{c}").alias(c) for c in payload_cols],
    )
