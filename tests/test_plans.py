"""Plan-shape assertions: the physical plans must show the scale
properties SURVEY.md §6 promises — pushed filters, pruned scans,
broadcast dimension joins, no Python UDFs in JVM-only paths."""

from __future__ import annotations

import pytest

from nass_summary_spark.plans.queries import ORACLES, QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def _text_scans(plan: str) -> int:
    """Distinct parquet scans in ``plan`` that read a ``text`` column,
    expression ids stripped — a cached subtree that renders once per
    consumer counts once."""
    import re

    return len({
        re.sub(r"#\d+L?", "", line.strip(" :+-"))
        for line in plan.splitlines()
        if "FileScan parquet" in line and re.search(r"\btext#", line)
    })


def test_pricing_summary_pushes_filter_and_prunes(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: unused wide columns must not be read
    assert "l_comment" not in plan
    assert "l_partkey" not in plan.split("ReadSchema")[-1]


def test_dimension_joins_are_broadcast(spark, sf_dir):
    for name in [
        "harvest_rollup",
        "multilevel_fallback",
        "crosstab_matrix",
        "suppression_antijoin",
        "contamination_check",
    ]:
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, f"{name}: dimension join fell to SMJ"


def test_suppression_antijoin_fact_never_shuffles_for_exclusion(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "suppression_antijoin")
    assert "LeftAnti" in plan
    # only the final groupBy exchanges; the anti join itself is
    # broadcast (fact side stays in place)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_rollup_is_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "harvest_rollup")
    # one exchange for the final groupBy (plus AQE reads); no join shuffles
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_no_python_udf_in_jvm_paths(spark, sf_dir):
    for name in [
        "pricing_summary",
        "harvest_rollup",
        "dedup_minhash_lsh",
        "ann_topk_bruteforce",
        "text_langid",
        "doc_fingerprint",
    ]:
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_every_query_runs_at_smallest_sf(spark, sf_dir):
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name


def test_oracle_coverage_declared():
    rows_only = set(QUERIES) - set(ORACLES)
    # every rows-only query is a declared approximate/stateful op
    # dedup_simhash / multimodal_decode graduated to full oracle
    # checks in r2 (bit-vote replay / md5-arithmetic replay in SQL)
    assert rows_only == {
        "ann_topk_lsh",
        "ann_topk_ivf",
        "multimodal_features",
        "embedding_cosine_dedup_lsh",
        "approx_distinct",
        "approx_quantiles",
        "kmeans_clusters",
        "semantic_dedup",
        # r3 additions — each declared approximate or non-SQL:
        "pca_project",   # eigendecomposition isn't SQL; properties tested
        "ann_topk_pq",   # approximate; recall-tested vs exact B6
        "bpe_tokenize",  # iterative merge induction; property-tested
        "ann_topk_ivfpq",  # approximate; recall-tested vs exact B6
        # r4 additions:
        "rate_limit_bucket",  # recursive stateful fold; stream-vs-
        # batch parity + hand simulation tested
        "whiten_embeddings",  # eigendecomposition isn't SQL;
        # identity-covariance property tested
        # r5 additions:
        "compressibility_scores",  # zlib isn't SQL; bounds,
        # monotonicity, and determinism pinned in test_new_ops_r5b
        # r6 additions:
        "ann_index_probe",  # approximate (IVF from a persisted
        # index); full-probe == brute-force and disk-vs-memory
        # parity pinned in test_ann_index.py
        # r7 additions:
        "pq_index_probe",  # approximate (ADC over persisted PQ
        # codes); disk-vs-memory row identity pinned in
        # test_pq_index.py
        "ivfpq_index_probe",  # approximate (persisted IVFADC);
        # disk-vs-memory row identity + static cell pruning pinned
        # in test_ivfpq_index.py
        # r8 additions:
        "ann_eval",  # nests the four APPROXIMATE rankings; the
        # report structure is property-pinned (bruteforce control
        # row == 1.0 exactly, per-method floors) in test_operators
    }


def test_doc_chunks_is_shuffle_free(spark, sf_dir):
    """B36 chunking is generate+project: any exchange in the plan
    means the fan-out grew a shuffle it doesn't need."""
    plan = plan_of(spark, sf_dir, "doc_chunks")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Generate explode" in plan


def test_cross_corpus_dedup_broadcasts_digests(spark, sf_dir):
    """B38: the existing-corpus side must reach the join as a
    broadcast of digests — the incoming text never shuffles for the
    match."""
    plan = plan_of(spark, sf_dir, "dedup_cross_corpus")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mad_outliers_broadcasts_group_medians(spark, sf_dir):
    """A36: the per-group median/MAD relations are group-sized and
    must reach the fact joins as broadcasts — the fact table never
    shuffles un-aggregated for the flagging."""
    plan = plan_of(spark, sf_dir, "mad_outliers")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_ngram_lm_perplexity_stays_jvm(spark, sf_dir):
    """B55: scoring is pure Catalyst — any Python eval node means a
    UDF crept into the hot path."""
    plan = plan_of(spark, sf_dir, "ngram_lm_perplexity")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_fuzzy_join_is_equijoin_not_cross(spark, sf_dir):
    """B58: deletion-neighborhood blocking must compile to a hash
    equi-join on the variant key; a cartesian/BNL node means the
    blocking degenerated to the quadratic theta-join."""
    plan = plan_of(spark, sf_dir, "fuzzy_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_median_single_group_exchange(spark, sf_dir):
    """A35: the cumulative window must ride the group-key partition;
    extra exchanges mean the window re-shuffled."""
    plan = plan_of(spark, sf_dir, "weighted_median")
    assert plan.count("Exchange hashpartitioning") <= 3  # cum + tot + join sides
    assert "BatchEvalPython" not in plan


def test_quality_gate_has_no_shuffle(spark, sf_dir):
    """C12: the per-row scoring gate carries NO aggregation state —
    the streaming twin stays a stateless projection + filter. The
    batch query's only exchange is the record-sized round-robin
    spread of the narrow scan (OPTIMIZATION_r10 #28 — the scorer
    runs once per row at session width, above the exchange)."""
    plan = plan_of(spark, sf_dir, "quality_gate")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange RoundRobinPartitioning") <= 1


def test_heavy_composites_plan_shape(spark, sf_dir):
    """The three most expensive composites (r5 bench): their plans
    must never regress to a quadratic join. BroadcastNestedLoopJoin
    appears ONLY as the two declared single-row-stats broadcasts
    inside the prefix-filter jaccard path (threshold relations), and
    exchange counts stay bounded so a refactor can't silently add a
    corpus-wide shuffle. Cached relations left by earlier tests
    (several operators persist intermediates the returned frame
    still references) swap scans for InMemoryTableScan and shift
    exchange counts — clear them so the asserted shape is the
    cold-plan shape the driver/bench sees."""
    spark.catalog.clearCache()
    plan = plan_of(spark, sf_dir, "dedup_eval")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert plan.count("Exchange hashpartitioning") <= 60, plan.count(
        "Exchange hashpartitioning"
    )

    plan = plan_of(spark, sf_dir, "ann_topk_ivfpq")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 4

    # canonical_entities is iterative: rounds are localCheckpoint-
    # truncated, so the visible tail plan must stay flat too
    plan = plan_of(spark, sf_dir, "canonical_entities")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 4

    # r7: pq_index_probe's only BNLJ is codes x the collected
    # query-LUT literals (broadcast-sized by contract); the single
    # permitted hash exchange is the per-query ranking window —
    # the codes scan itself must never shuffle
    plan = plan_of(spark, sf_dir, "pq_index_probe")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1

    # r7: record_linkage_em — one pattern-histogram x single-row-
    # params crossJoin per EM iteration (bounded <=2^F x 1); the
    # explode-unpivot must keep the plan referencing the chain once
    # (a per-field union triples it)
    plan = plan_of(spark, sf_dir, "record_linkage_em")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 0
    assert len(plan) < 64 * 1024, len(plan)

    # r8: the blocking union's rule-priority dedup must stay a pure
    # projection filter — TWO broadcast equi-joins (one per rule),
    # no distinct shuffle, no quadratic node, no Python
    plan = plan_of(spark, sf_dir, "record_linkage_blocked_union")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 0, plan.count(
        "Exchange hashpartitioning"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # r8: train-then-score — the scoring pass is one explode + one
    # broadcast join + one partially aggregated shuffle (the fit's
    # iterations are separate checkpointed jobs, not in this tail)
    plan = plan_of(spark, sf_dir, "quality_classifier_train_scored")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2

    # r8: concave overlap — the ear-clip UDF must appear EXACTLY once
    # (the evaluate-once barrier; Catalyst clones deterministic UDFs
    # into every referencing operator), the candidate join stays a
    # broadcast equi-join, and the grid decomposition adds no shuffle
    plan = plan_of(spark, sf_dir, "geo_overlap_join_concave")
    assert "CartesianProduct" not in plan
    assert plan.count("ArrowEvalPython") == 1, plan.count("ArrowEvalPython")
    assert plan.count("Exchange hashpartitioning") == 0


def test_incremental_dedup_probe_is_equijoin(spark, sf_dir):
    """B100: the index probe must compile to hash equi-joins on
    (band, bucket) — a cartesian/BNL node means the banding
    degenerated; Python never appears (the whole path is JVM)."""
    spark.catalog.clearCache()
    plan = plan_of(spark, sf_dir, "dedup_incremental_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_r8_session2_plan_shapes(spark, sf_dir):
    """r8 session-2 additions: pinned cold-plan shapes.

    - gopher_rules / dsir scoring stay JVM-side (no Python stages);
      gopher is map-only (zero exchanges).
    - dsir_importance: the ratio table rides BROADCAST joins; the
      only hash exchanges are the bounded bucket agg, the per-doc
      agg, and the left join back — never a corpus self-join.
    - sorted_neighborhood_pairs: no single-partition global window
      (the rank window is partitioned by the physical pid), no
      cartesian.
    - ann_maxsim: query bag broadcast; corpus never self-joins.
    - bootstrap_ci: the replicate expansion is map-side (explode
      before the one combinable agg), no join on the fact stream.
    """
    spark.catalog.clearCache()

    plan = plan_of(spark, sf_dir, "gopher_rules")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = plan_of(spark, sf_dir, "dsir_importance")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    # bucket agg + per-doc agg + the totality left-join's two sides;
    # the r10 totals-from-stats change (OPTIMIZATION_r10 #27) reads the
    # PERSISTED bucket relation for the totals broadcast too, so the
    # cached bucket-agg subtree renders once per consumer (its exchange
    # executes once) — the text count rises without any extra corpus
    # pass.
    assert plan.count("Exchange hashpartitioning") <= 8
    # The corpus-pass invariant, counted as distinct scans of the text
    # column (a cached subtree renders once per consumer but runs
    # once): the ratio build's (text, source) scan, and the per-doc
    # scoring scan planned twice — the left join back and the totals
    # broadcast each plan per_doc, the join side with an inferred
    # isnotnull(doc_id) filter, so the two never share an exchange.
    assert _text_scans(plan) == 3, plan

    plan = plan_of(spark, sf_dir, "sorted_neighborhood_pairs")
    assert "CartesianProduct" not in plan
    # every Window in the plan must carry a partition spec: the
    # two-phase rank never falls back to a global ORDER BY window
    # (the counts running-sum window is partition-spec'd too after
    # its tiny #partitions-row exchange)
    import re as _re

    for m in _re.finditer(r"Window \[", plan):
        frag = plan[m.start():m.start() + 400]
        assert "windowspecdefinition(" in frag
        spec = frag.split("windowspecdefinition(", 1)[1]
        # a global window renders windowspecdefinition(<order>$...
        # with no partition columns before the sort spec; the pid
        # rank window renders windowspecdefinition(__pid#..., ...)
        assert "__pid" in spec or "ASC NULLS FIRST" != spec[:15]

    plan = plan_of(spark, sf_dir, "ann_maxsim")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # corpus x query bag
    assert plan.count("Exchange hashpartitioning") <= 3

    plan = plan_of(spark, sf_dir, "bootstrap_ci")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan or "o_orderpriority" in plan
    assert plan.count("Exchange hashpartitioning") <= 4


def test_r9_plan_shapes(spark, sf_dir):
    """r9 additions: pinned cold-plan shapes.

    - audio_features: ONE Arrow stage (the sanctioned decode), zero
      exchanges — a pure scan-stage projection.
    - image_neardup / audio_neardup: decode+fingerprint are Arrow
      stages; candidates come from an EQUI-join on (band, slice) —
      never a cartesian/BNLJ all-pairs scan.
    - quantile_sketch_rollup: entirely JVM-side (no Python stages);
      windows ride the group partition; exchanges bounded by the
      histogram/exact-percentile aggs.
    - mixture_schedule: waterfill windows run over the SOURCE
      dimension; no cartesian; the apply join is broadcast.
    """
    spark.catalog.clearCache()

    plan = plan_of(spark, sf_dir, "audio_features")
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan

    for name in ("image_neardup", "audio_neardup"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the banded candidate join is a real equi-join
        assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
        # decode + fingerprint Arrow stages only
        assert "BatchEvalPython" not in plan

    plan = plan_of(spark, sf_dir, "quantile_sketch_rollup")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 8

    plan = plan_of(spark, sf_dir, "mixture_schedule")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
