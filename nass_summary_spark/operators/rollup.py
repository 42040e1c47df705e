"""Hierarchical path rollups — the reference's recursive CTEs
(`nass.sql:198` harvest_by_leaves, `nass.sql:322` yield_by_leaves,
`nass.sql:409` price_by_leaves) walk a commodity "subcommodity"
array-path hierarchy bottom-up into every ancestor prefix. Three
semantics, one function each:

* :func:`path_rollup` — prefix sums: a value counts once toward
  every prefix of its path, so the whole hierarchy is ONE ``explode``
  of the prefixes + ONE ``groupBy`` (a single shuffle with map-side
  partial aggregation, whatever the depth). For sums, counts, min and
  max over all descendants.
* :func:`tree_rollup_avg` — level-synchronous average of averages: a
  parent is the average of its direct children, evaluated from the
  deepest level upward, one narrow aggregation per level.
* :func:`tree_rollup_pg` — the exact PostgreSQL replay of the
  reference's ``WITH RECURSIVE … UNION`` (generation cohorts, UNION
  dedup), seeded from :func:`leaf_rows` and run by
  :func:`~nass_summary_spark.functions.fixpoint.semi_naive`; the NASS
  harvest, yield and price chains use it for parity with the
  reference's exports.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nass_summary_spark.functions.fixpoint import semi_naive


def path_prefixes(path: Column | str, include_self: bool = True) -> Column:
    """All prefixes of an ``array<string>`` path, the empty one first.

    ``['A','B','C']`` → ``[[], ['A'], ['A','B'], ['A','B','C']]``
    (the path itself only with ``include_self``).
    """
    col = F.col(path) if isinstance(path, str) else path
    hi = F.size(col) if include_self else F.size(col) - 1
    # guard: Spark's sequence(0, hi) runs DESCENDING when hi < 0,
    # which would fabricate bogus prefixes for an empty path
    return F.when(
        hi >= F.lit(0),
        F.transform(F.sequence(F.lit(0), hi), lambda n: F.slice(col, 1, n)),
    ).otherwise(F.array().cast("array<array<string>>"))


def path_rollup(
    df: DataFrame,
    path_col: str,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    string_sep: str | None = None,
    max_depth: int | None = None,
) -> DataFrame:
    """Roll values up an array-path hierarchy in one shuffle.

    Parameters
    ----------
    aggs: output_name -> (agg_fn, input_col); agg_fn in
        {sum, avg, max, min, count}.
    string_sep: when set, prefixes are emitted as ``sep``-joined
        STRINGS before the shuffle. Grouping/shuffling on strings is
        markedly cheaper than on arrays (~3.5× on the hash aggregate
        in local measurements) — prefer it unless downstream joins
        need the array form.
    max_depth: when the hierarchy depth is bounded and ``string_sep``
        is set, prefix strings are built from plain ``slice`` +
        ``concat_ws`` expressions — whole-stage-codegen instead of
        interpreted lambdas (another ~3× on the explode stage).
        Paths longer than max_depth contribute only their first
        max_depth prefixes.

    Each input row contributes to every prefix of its ``path_col``,
    the empty one and the path itself included; the result has one
    row per (keys, prefix), the prefix in column ``path``
    (``array<string>``, or the joined string when ``string_sep`` is
    set).
    """
    col = F.col(path_col)
    if string_sep is not None and max_depth is not None:
        all_prefixes = F.array(
            *[F.concat_ws(string_sep, F.slice(col, 1, i)) for i in range(max_depth + 1)]
        )
        prefixes = F.slice(all_prefixes, 1, F.size(col) + 1)
    else:
        prefixes = path_prefixes(path_col)
        if string_sep is not None:
            # lambda touches only its own variable — stays linear
            prefixes = F.transform(prefixes, lambda p: F.array_join(p, string_sep))
    exploded = df.select(
        *keys,
        F.explode(prefixes).alias("path"),
        *[F.col(c).alias(c) for c in {src for _, src in aggs.values()} if c not in keys],
    )
    agg_exprs = [
        getattr(F, fn)(F.col(src)).alias(name) for name, (fn, src) in aggs.items()
    ]
    return exploded.groupBy(*keys, "path").agg(*agg_exprs)


def leaf_rows(df: DataFrame, path_col: str, keys: Sequence[str]) -> DataFrame:
    """Rows whose path has no proper extension among the other rows
    of the same key group — the reference's leaf detection
    (`nass.sql:206-212`: anti-join against the set of parent prefixes).

    Implemented as a LEFT ANTI join of each row against the distinct
    set of *parent prefixes* observed in the data: a row is a leaf iff
    its exact path never appears as another row's parent.
    """
    parents = (
        df.select(
            *keys,
            F.explode(path_prefixes(path_col, include_self=False)).alias(path_col),
        )
        .distinct()
    )
    return df.join(parents, on=[*keys, path_col], how="left_anti")


def tree_rollup_avg(
    df: DataFrame,
    path_col: str,
    keys: Sequence[str],
    values: Sequence[str],
    max_depth: int,
) -> DataFrame:
    """Average-of-averages tree rollup (yield_by_leaves
    `nass.sql:322`, price_by_leaves `nass.sql:409` semantics): a
    parent's value is the AVERAGE of its direct children, evaluated
    level-synchronously from the deepest leaves upward.

    Rows at every depth are taken as given: a non-leaf row is
    averaged in with its derived twin (see the loop). The NASS
    chains use :func:`tree_rollup_pg`, which seeds from the leaves.

    (The reference's recursive CTE has iteration-order artifacts for
    mixed-depth trees; we implement the clean level-synchronous
    semantics: nodes at depth d = leaf rows at depth d unioned
    with the average of the derived depth-(d+1) nodes per parent.)

    Unlike sum-rollups this is inherently level-ordered, but the
    depth of real taxonomies is tiny (≤ 5 for NASS commodities), so
    the loop is bounded and each level is one narrow aggregation.
    ``max_depth`` is the length of the longest path; rows with longer
    paths are ignored.
    """
    keys = list(keys)
    avgs = [F.avg(F.col(v)).alias(v) for v in values]
    level = df.where(F.size(F.col(path_col)) == max_depth).select(
        *keys, path_col, *values
    )
    out = level
    for depth in range(max_depth - 1, -1, -1):
        parents = (
            level.withColumn(path_col, F.slice(F.col(path_col), 1, depth))
            .groupBy(*keys, path_col)
            .agg(*avgs)
        )
        explicit = df.where(F.size(F.col(path_col)) == depth).select(
            *keys, path_col, *values
        )
        # a node reported explicitly AND derivable from children
        # contributes both rows, averaged in the final regroup —
        # mirroring the reference's closing GROUP BY ... avg()
        level = parents.unionByName(explicit)
        out = out.unionByName(level)
    return out.groupBy(*keys, path_col).agg(*avgs)


def tree_rollup_pg(
    df: DataFrame,
    path_col: str,
    keys: Sequence[str],
    values: Sequence[str],
    agg: str = "avg",
    carry: Sequence[str] = (),
) -> DataFrame:
    """EXACT replay of the reference's recursive-CTE rollup
    (yield_by_leaves nass.sql:322, price_by_leaves nass.sql:409,
    harvest_by_leaves nass.sql:198) — PostgreSQL evaluation
    semantics included.

    PG evaluates ``WITH RECURSIVE ... UNION`` iteratively: the base
    term is the LEAF rows (:func:`leaf_rows` per ``keys``), each step
    sees only the rows ADDED by the previous step, UNION drops rows
    identical to any already-emitted row, and the recursion stops at
    the first step that adds nothing. For mixed-depth trees this is
    NOT the level-synchronous average: a parent receives one derived
    row per *generation* of children (all leaves are generation 0
    wherever they sit in the tree), each row holding the aggregate
    over that generation cohort only, and the closing ``GROUP BY``
    then aggregates across the cohort rows. E.g. HAY with direct
    leaves ALFALFA/SMALL GRAIN/WILD and a deeper leaf TAME→(EXCL …):
    cohort 1 yields avg(7.3, 3.0, 1.6) = 3.97, cohort 2 yields 4.7,
    published value = avg(3.97, 4.7) = 4.33 — not the single-level
    avg 4.15. The reference's shipped CSV exports encode these
    semantics, so parity requires replaying them (verified to 100%
    against commodity_yield.csv in tests/test_nass_pipeline.py).

    ``tree_rollup_avg`` remains the *clean* level-synchronous
    alternative for new pipelines.

    ``carry`` columns ride along from child to parent row WITHOUT
    joining the aggregation partition — replaying harvest_by_leaves,
    whose window (nass.sql:221-222) partitions only by
    (commodity, location, year, parent-path) while ``unit`` is
    carried: sums legitimately cross units exactly like the
    reference. The closing group includes carry columns.

    Each generation is one window + distinct + null-safe anti-join
    (UNION's NULLs-equal dedup) and shortens every path by one, so
    the :func:`~nass_summary_spark.functions.fixpoint.semi_naive`
    loop ends after at most longest-path + 1 generations.
    """
    if agg not in ("avg", "sum"):
        raise ValueError(f"agg must be avg or sum, got {agg!r}")
    from pyspark.sql import Window

    agg_fn = F.avg if agg == "avg" else F.sum
    keys = list(keys)
    carry = list(carry)
    cols = [*keys, path_col, *carry, *values]
    w = Window.partitionBy(*keys, path_col)

    def generation(last: DataFrame, seen: DataFrame, _: int) -> DataFrame:
        wp = last.where(F.size(F.col(path_col)) > 0).withColumn(
            path_col, F.slice(F.col(path_col), 1, F.size(F.col(path_col)) - 1)
        )
        gen = wp.select(
            *keys,
            path_col,
            *carry,
            *[agg_fn(F.col(v)).over(w).alias(v) for v in values],
        ).dropDuplicates()
        # gen derives from the last level of seen, so alias both sides
        # to keep the self-join unambiguous
        g, s = gen.alias("__g"), seen.alias("__s")
        cond = reduce(
            Column.__and__,
            [F.col(f"__g.{c}").eqNullSafe(F.col(f"__s.{c}")) for c in cols],
        )
        return g.join(s, on=cond, how="left_anti")

    # base term: the leaves; UNION dedups the seed rows too
    seed = leaf_rows(df, path_col, keys).select(*cols).dropDuplicates()
    return semi_naive(seed, generation).groupBy(*keys, path_col, *carry).agg(
        *[agg_fn(F.col(v)).alias(v) for v in values]
    )
