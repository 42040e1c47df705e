"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual surface lives in ``nass_summary_spark.plans.queries``;
this module just adapts it to the driver contract.

Driver-window selection
-----------------------
The external gate samples the FIRST 50 entries of ``queries()``.
The library registry (``plans/queries.py`` QUERIES) stays in natural
registration order and is never mutated; the gate-facing ordering is
the explicit list below, chosen so every query gets driver-grade
evidence across rounds:

* CORRECTNESS_r10 and r11 gated the same 50 names, so
  ``_DRIVER_WINDOW_R10`` is refilled, in this order: the ten
  record-linkage queries whose scorers now render from the fitted
  parameters (record_linkage_fs … record_linkage_blocked_union);
  the 16 registered queries that have never had a driver row
  (html_extract … join_size_estimate); the rewrites with no driver
  row since r10 (canonical_entities, dedup_components, the three
  quality_classifier_* queries, classifier_calibration,
  threshold_select); the six queries whose only driver rows are
  from r5; then the r6-stale queries in name order, up to 50
  (ann_index_probe … dataitem_parse). The remaining 38 r6-stale
  queries ride the next rotation.
* Everything else follows in natural registration order, so
  ``tools/verify_oracle.py`` (which checks ALL entries →
  CORRECTNESS_LOCAL.md) sees the identical ordering and the two
  artifacts can be diffed row-for-row.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nass_summary_spark.plans.queries import ORACLES, QUERIES

# The 50 gate-checked slots (order and reasons in the module
# docstring). Exactly 50 explicit slots.
_DRIVER_WINDOW_R10: list[str] = [
    # -- the linkage family, rewritten onto driver-side parameters -----
    "record_linkage_fs", "record_linkage_nullsafe", "record_linkage_em",
    "record_linkage_em_missing", "record_linkage_em_scored",
    "record_linkage_em_posterior", "record_linkage_clusters",
    "cluster_eval", "linkage_review_queue",
    "record_linkage_blocked_union",
    # -- never had a driver row -----------------------------------------
    "html_extract", "equidepth_sketch", "domain_gate", "bpe_encode",
    "kendall_tau", "category_profile", "kaplan_meier", "kcore_members",
    "sentence_stats", "sprt_monitor", "mad_sketch", "gini_coefficient",
    "psi_drift", "vocab_coverage", "tail_index", "join_size_estimate",
    # -- r10 rewrites with no later driver row --------------------------
    "canonical_entities", "dedup_components", "quality_classifier_train",
    "quality_classifier_train_scored", "quality_classifier_eval",
    "classifier_calibration", "threshold_select",
    # -- only r5 driver rows --------------------------------------------
    "unattributed_clicks", "weighted_sample", "whiten_embeddings",
    "winsorized_stats", "woe_iv", "yield_by_class_pivot",
    # -- newest driver row is r6 (first 11 in name order) ---------------
    "ann_index_probe", "ann_topk_bruteforce", "ann_topk_ivf",
    "ann_topk_lsh", "asof_join", "catalog_presence",
    "contamination_check", "corpus_filter", "crosstab_matrix",
    "curation_pipeline", "dataitem_parse",
]


def _ordered_names() -> list[str]:
    window = [n for n in _DRIVER_WINDOW_R10 if n in QUERIES]
    rest = [n for n in QUERIES if n not in _DRIVER_WINDOW_R10]
    return window + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing_summary) on /root/testdata/sf0.001."""
    return QUERIES["pricing_summary"](spark, "/root/testdata/sf0.001")


def _with_cache_hygiene(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Evict cached blocks left by PREVIOUS queries before building
    the next one. Several operators persist fixed-width
    intermediates that the returned DataFrame still references, so
    they can't unpersist themselves; a long single-session run (the
    driver gate executes 50 queries in one session) otherwise
    accumulates every persisted block and can OOM a default-sized
    (1g) driver heap — observed at query ~100 of the full-surface
    vanilla-session rehearsal. A query's own persists happen after
    this call and are unaffected. Applied only on this driver-facing
    adapter: library consumers (bench two-run timing, notebooks)
    keep normal cache-reuse semantics."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            spark.catalog.clearCache()
        except Exception:  # pragma: no cover — cache API unavailable
            pass
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: _with_cache_hygiene(QUERIES[n]) for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; keys absent here are
    rows-only checks (approximate / stateful-streaming operators)."""
    return {n: ORACLES[n] for n in _ordered_names() if n in ORACLES}
