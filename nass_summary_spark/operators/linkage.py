"""Probabilistic record linkage — the Fellegi–Sunter model
(SURVEY.md §2 B102 scoring + B104 EM estimation), completing the
entity-resolution family: fuzzy_join (B58) finds string-similar
CANDIDATES, canonical_entities (B61) clusters them, and this scores
candidate pairs with the classic log-likelihood-ratio weights
(Fellegi & Sunter 1969, JASA — the model behind every production
matcher from Census to Splink). When no reviewable m-priors exist,
:func:`fellegi_sunter_em` estimates (λ, m_f, u_f) unsupervised via
EM over the agreement-pattern histogram — the Splink default.

Per comparison field f with match probability m_f (P(agree | same
entity), supplied — the reviewable business prior) and u-probability
u_f (P(agree | different entities), ESTIMATED from the candidate
pairs themselves — the standard data-derived estimate, since almost
all cross-pairs are non-matches):

    weight_f = ln(m_f / u_f)            if the pair agrees on f
             = ln((1-m_f) / (1-u_f))    if it disagrees

and a pair's score is the sum over fields. Pairs scoring above the
caller's threshold are candidate matches, reviewable field by field.

Scale shape: ONE blocked equi-join builds candidates (never a cross
join — same discipline as B58's deletion neighborhoods), one
single-row aggregate estimates every u_f (map-side combinable,
broadcast back), and scoring is a pure projection. At 100 TB the
only wide operation is the blocking join itself.

Fitted parameters live on the driver: the EM fit returns them as a
dict, and every EM scorer inlines them as double literals into ONE
parsed SQL expression — the posterior through :func:`_w_sql` (the
E-step the fit itself evaluates on the pattern histogram), the
log-likelihood score through :func:`_log_weight_sql` (shared with
:func:`fellegi_sunter_scores`). Scoring a pair is a projection over
the blocking join; no parameter frame is joined back.

Determinism / oracle: agreements are exact equality on the given
columns, u_f is an AVG over the candidate relation clamped to
[1/(2n), 1-1/(2n)] (the usual guard against ln(0) when a field
always/never agrees — n = candidate count, so the clamp itself is
data-derived and engine-identical), and every ln/division is IEEE
double arithmetic DuckDB replays bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nass_summary_spark.functions.lits import double_sql, ident
from nass_summary_spark.functions.smalldf import local_struct_df
from pyspark.sql.functions import broadcast

# EM starting point (λ, every m_f, every u_f)
_INIT_LAMBDA, _INIT_M, _INIT_U = 0.1, 0.9, 0.1
# each M-step output is ROUND(·, _ROUND_DP) then clamped to
# [_EPS, 1-_EPS] in both engines (see fellegi_sunter_em)
_ROUND_DP = 12
_EPS = 1e-06
# scores, posteriors and the audited u columns
_ROUND_TO = 6


def blocked_agreements(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    block_col: str,
    fields: Sequence[str],
    salt: int = 1,
) -> DataFrame:
    """Blocked candidate pairs with per-field agreement indicators:
    ONE equi-join on ``block_col`` (never a cross join), projecting
    ``(left_id, right_id, agree_<field>...)`` where ``agree_<f>`` is
    ``CAST(l.f = r.f AS INT)`` — the comparison-vector relation both
    Fellegi–Sunter consumers share (:func:`fellegi_sunter_scores`
    scores it with known weights, :func:`fellegi_sunter_em` estimates
    the weights from it). A NULL on either side yields a NULL
    indicator: the EM fit and the posterior marginalize it, the
    log-likelihood scores propagate it (the threshold drops the
    pair) unless ``null_as_no_info`` gives it zero weight.
    :func:`blocked_agreements_union` with this one rule — ids must
    differ, ``salt`` as there."""
    return blocked_agreements_union(
        left, right, left_id, right_id, [block_col], fields, salt=salt
    ).drop("rule")


def blocked_agreements_union(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    block_cols: Sequence[str],
    fields: Sequence[str],
    salt: int = 1,
) -> DataFrame:
    """Splink-style multi-rule blocking — the standard recall lever
    for probabilistic linkage: one blocking key misses every match
    where THAT field is dirty, so production matchers union the
    candidates of several cheap rules (block on zip OR on surname
    OR on birth year). Output: ``(left_id, right_id,
    agree_<field>..., rule)`` where ``rule`` is the index of the
    FIRST rule in ``block_cols`` that blocks the pair.

    Pair dedup uses the RULE-PRIORITY device instead of a global
    distinct: rule i's join carries both sides' earlier blocking
    keys through and keeps a pair only when NO earlier rule also
    blocks it (``coalesce(l.b_j = r.b_j, false)`` mirrors equi-join
    NULL semantics), so the per-rule outputs are disjoint by
    construction and union without a second corpus-scale shuffle —
    the grid join's reference-point trick applied to blocking rules.
    Each rule stays ONE equi-join; ``salt`` spreads hot blocks per
    the :func:`fellegi_sunter_scores` contract. Feed the result to
    the scorers via their ``u_probs``-frozen form or to
    :func:`fellegi_sunter_em` (both consume agree_<f> relations).

    ``left_id`` and ``right_id`` must DIFFER: the output carries one
    column per id, so equal names (e.g. self-linkage where both
    frames call it ``id``) would yield a duplicate-named, ambiguous
    frame downstream — alias one side first (``.withColumnRenamed``)
    and the loud guard here keeps the mistake from propagating (the
    streaming scorer passes user-supplied arrival/reference id names
    straight through to this check)."""
    if left_id == right_id:
        raise ValueError(
            "blocked_agreements: left_id and right_id must differ "
            f"(both are {left_id!r}); rename one side's id column "
            "before linking, e.g. right.withColumnRenamed"
            f"({left_id!r}, {left_id + '_r'!r})"
        )
    if not block_cols:
        raise ValueError("blocked_agreements_union: no blocking rules")
    outs: list[DataFrame] = []
    nparts = int(
        left.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    for i, bc in enumerate(block_cols):
        # The block join's pair expansion (and the pattern/score work
        # fused into the same stage) runs at the LEFT relation's
        # partition count: when the right side broadcasts, the stage
        # inherits the raw scan split, which for a small input is 1-2
        # tasks carrying the whole O(|block|²) expansion (plan-verified
        # — the dominant cost of every EM query at sf0.1). One
        # record-sized round-robin exchange is noise next to the
        # quadratic expansion it balances, and it also evens out
        # uneven input splits (guide §2.5).
        lhs = left.select(
            F.col(left_id).alias("__lid"),
            F.col(bc).alias("__blk"),
            *[F.col(f).alias(f"__l_{f}") for f in fields],
            *[F.col(b).alias(f"__lb_{j}") for j, b in enumerate(block_cols[:i])],
        ).repartition(nparts)
        rhs = right.select(
            F.col(right_id).alias("__rid"),
            F.col(bc).alias("__blk"),
            *[F.col(f).alias(f"__r_{f}") for f in fields],
            *[F.col(b).alias(f"__rb_{j}") for j, b in enumerate(block_cols[:i])],
        )
        if salt > 1:
            lhs = lhs.withColumn(
                "__salt", F.pmod(F.xxhash64(F.col("__lid")), F.lit(int(salt)))
            )
            rhs = rhs.withColumn(
                "__salt",
                F.explode(F.sequence(F.lit(0), F.lit(int(salt) - 1))),
            ).withColumn("__salt", F.col("__salt").cast("long"))
            cand = lhs.join(rhs, ["__blk", "__salt"])
        else:
            cand = lhs.join(rhs, "__blk")
        for j in range(i):
            cand = cand.where(
                ~F.coalesce(
                    F.col(f"__lb_{j}") == F.col(f"__rb_{j}"), F.lit(False)
                )
            )
        outs.append(
            cand.select(
                F.col("__lid").alias(left_id),
                F.col("__rid").alias(right_id),
                *[
                    (F.col(f"__l_{f}") == F.col(f"__r_{f}"))
                    .cast("int")
                    .alias(f"agree_{f}")
                    for f in fields
                ],
                F.lit(i).alias("rule"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _log_weight_sql(
    f: str, m_sql: str, u_sql: str, null_as_no_info: bool
) -> str:
    """Field ``f``'s Fellegi–Sunter log-likelihood weight as Spark SQL
    text, with m and u given as SQL (a double literal, or the column
    that carries the estimate). Three-way, NOT two-way: a NULL
    agreement must never fall into the disagree branch (a missing
    field is not evidence of mismatch) — it either propagates NULL
    (the pair's score is NULL and the threshold filter drops it) or,
    with ``null_as_no_info``, contributes zero."""
    a = ident(f"agree_{f}")
    return (
        f"(CASE WHEN {a} = 1 THEN ln({m_sql}) - ln({u_sql})"
        f" WHEN {a} = 0 THEN ln(1.0D - {m_sql}) - ln(1.0D - {u_sql})"
        + (" ELSE 0.0D END)" if null_as_no_info else " END)")
    )


def fellegi_sunter_scores(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    block_col: str,
    m_probs: Mapping[str, float],
    threshold: float = 0.0,
    salt: int = 1,
    u_probs: Mapping[str, float] | None = None,
    null_as_no_info: bool = False,
) -> DataFrame:
    """Score blocked candidate pairs between ``left`` and ``right``
    with Fellegi–Sunter log-likelihood weights.

    ``null_as_no_info``: a NULL comparison (either side missing the
    field) yields a NULL agreement indicator, whose weight term is
    NULL, whose score is NULL — so by default pairs with ANY missing
    field are dropped by the threshold filter (NULL ≥ t is not
    true). Set True for the Splink convention instead: a missing
    comparison contributes ZERO weight (no information), the pair is
    scored on its observed fields, and the NULL ``agree_<f>`` column
    stays in the output for audit. u estimation is unchanged either
    way (AVG skips NULLs — u comes from observed comparisons only).

    ``m_probs`` maps each comparison column (present in BOTH frames)
    to its m-probability. Output: ``(left_id, right_id,
    agree_<field>... , score)`` for pairs with score ≥ threshold,
    plus the estimated ``u_<field>`` columns (constant per run) so
    the weights are auditable.

    ``u_probs``: by default u is ESTIMATED from the candidate
    relation itself (clamped average agreement — almost all
    cross-pairs are non-matches). Pass explicit ``u_probs`` to score
    with FROZEN weights instead (e.g. EM estimates from
    :func:`fellegi_sunter_em`, or yesterday's estimates a streaming
    scorer must hold fixed so scores stay comparable across
    batches): the u aggregation disappears and scoring is a pure
    projection over the blocked join — every weight a literal.

    Block-cardinality contract / ``salt``: per-block candidate work
    is |L_b|·|R_b| — intrinsic to blocking, not to this plan — so a
    hot block key degenerates toward quadratic ON THAT BLOCK. While
    one side broadcasts, the hot block's pairs spread naturally over
    the probe side's partitions; in the shuffle-join regime a hot
    block lands on ONE reducer, and AQE's skew split won't fire
    (its 256 MB byte threshold is far above a block whose ROW PAIR
    count explodes — SCALING_SKEW.json "record_linkage_fs" measures
    the straggler). For that regime pass ``salt=S``: the left side
    gets a deterministic pseudo-salt (xxhash64 of its id, mod S) and
    the right side is replicated S ways, so the hot block's pair
    work spreads over S tasks at the cost of an S× right-side
    shuffle. Output is IDENTICAL for any S (the salt only routes
    rows; pinned by test): pick S ≈ the hot block's size over the
    per-task pair budget, leave S=1 when block sizes are capped by
    construction (the gate query blocks on nation over TPC-H
    customers — bounded by design).
    """
    fields: Sequence[str] = list(m_probs)
    cand = blocked_agreements(
        left, right, left_id, right_id, block_col, fields, salt=salt
    ).select(
        F.col(left_id).alias("__lid"),
        F.col(right_id).alias("__rid"),
        *[F.col(f"agree_{f}") for f in fields],
    )

    if u_probs is not None:
        scored = cand
        u_sql = {f: double_sql(float(u_probs[f])) for f in fields}
    else:
        # one single-row reduction estimates every u_f at once; the
        # clamp bound rides along so both sides of the ln are derived
        # from the same relation
        stats = cand.agg(
            F.count(F.lit(1)).alias("__n"),
            *[F.avg(f"agree_{f}").alias(f"u_{f}") for f in fields],
        )
        eps = F.lit(0.5) / F.col("__n").cast("double")
        stats = stats.select(
            "__n",
            *[
                F.least(
                    F.greatest(F.col(f"u_{f}"), eps), F.lit(1.0) - eps
                ).alias(f"u_{f}")
                for f in fields
            ],
        )
        scored = cand.join(broadcast(stats))
        u_sql = {f: ident(f"u_{f}") for f in fields}
    score = " + ".join(
        _log_weight_sql(f, double_sql(float(m)), u_sql[f], null_as_no_info)
        for f, m in m_probs.items()
    )
    return (
        scored.withColumn("score", F.round(F.expr(score), _ROUND_TO))
        .where(F.col("score") >= threshold)
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            *[F.col(f"agree_{f}") for f in fields],
            *[
                F.round(F.expr(u_sql[f]), _ROUND_TO).alias(f"u_{f}")
                for f in fields
            ],
            "score",
        )
    )


def pattern_histogram(candidates: DataFrame, fields: Sequence[str]) -> DataFrame:
    """Agreement-pattern histogram ``(agree_<f>..., cnt bigint)`` of a
    candidate relation: ≤ 3^F rows (each indicator 1, 0 or NULL) —
    the Splink sufficient statistic the EM fit folds trillions of
    pairs into, and the drift signal of the streaming refresh. The
    one full-data pass of a fit; one map-side-combinable groupBy."""
    return candidates.groupBy(*[f"agree_{f}" for f in fields]).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def _w_sql(fields: Sequence[str], p: Mapping[str, float]) -> str:
    """The E-step posterior P(match | γ) as ONE Spark SQL expression
    over the ``agree_<f>`` columns, with the parameters ``p`` (keys
    ``lam``, ``m_<f>``, ``u_<f>``) inlined as double literals. The
    fit evaluates it on the pattern histogram every iteration;
    :func:`fellegi_sunter_em_posteriors` evaluates it on the pairs.
    Three-way CASE with ELSE 1.0: a MISSING comparison is
    marginalized out of the mixture likelihood (factor 1 in both
    classes) — the correct EM treatment under MCAR; a plain two-way
    form would count NULL as DISAGREE."""
    num = [double_sql(p["lam"])]
    den = [f"(1.0D - {double_sql(p['lam'])})"]
    for f in fields:
        # quoted: a field name need not be a bare SQL identifier
        # (``first-name``, ``first name``)
        a = ident(f"agree_{f}")
        for out, v in ((num, p[f"m_{f}"]), (den, p[f"u_{f}"])):
            out.append(
                f"(CASE WHEN {a} = 1 THEN {double_sql(v)}"
                f" WHEN {a} = 0 THEN (1.0D - {double_sql(v)})"
                " ELSE 1.0D END)"
            )
    n = " * ".join(num)
    d = " * ".join(den)
    return f"({n}) / (({n}) + ({d}))"


def em_fit(
    hist: DataFrame, fields: Sequence[str], n_iter: int
) -> dict[str, float]:
    """The EM fit over a :func:`pattern_histogram`: the final
    parameters as a driver-side dict ``{lam, m_<f>..., u_<f>...}``.

    The histogram is checkpointed once; each iteration is then exactly
    ONE job — the 2F+1 M-step aggregation over it, with the E-step
    posterior rendered by :func:`_w_sql` from the current parameters —
    whose single row is collected and re-rendered. The M-step
    aggregates reference only pattern columns and ``w``, so they are
    built ONCE (the py4j-tax lesson)."""
    pat = hist.select(
        *[f"agree_{f}" for f in fields], F.col("cnt").cast("double")
    ).localCheckpoint()
    param_cols = (
        ["lam"] + [f"m_{f}" for f in fields] + [f"u_{f}" for f in fields]
    )
    vals: dict[str, float] = {
        "lam": _INIT_LAMBDA,
        **{f"m_{f}": _INIT_M for f in fields},
        **{f"u_{f}": _INIT_U for f in fields},
    }

    def _mstep(expr):
        return F.least(
            F.greatest(F.round(expr, _ROUND_DP), F.lit(_EPS)),
            F.lit(1.0 - _EPS),
        )

    # M-step denominators restrict to patterns where the field is
    # OBSERVED (+ agree*0.0 propagates NULL into the skipped sum
    # terms) — summing all rows would bias m/u toward 0 under
    # missingness; on dense data x + agree*0.0 == x bit-for-bit
    agg_exprs = [
        _mstep(F.sum(F.col("w") * F.col("cnt")) / F.sum("cnt")).alias(
            "lam"
        ),
        *[
            _mstep(
                F.sum(F.col("w") * F.col("cnt") * F.col(f"agree_{f}"))
                / F.sum(
                    F.col("w") * F.col("cnt")
                    + F.col(f"agree_{f}") * F.lit(0.0)
                )
            ).alias(f"m_{f}")
            for f in fields
        ],
        *[
            _mstep(
                F.sum(
                    (F.lit(1.0) - F.col("w"))
                    * F.col("cnt")
                    * F.col(f"agree_{f}")
                )
                / F.sum(
                    (F.lit(1.0) - F.col("w")) * F.col("cnt")
                    + F.col(f"agree_{f}") * F.lit(0.0)
                )
            ).alias(f"u_{f}")
            for f in fields
        ],
    ]
    for _ in range(int(n_iter)):
        j = pat.withColumn("w", F.expr(_w_sql(fields, vals)))
        row = j.agg(*agg_exprs).first()
        vals = {c: row[c] for c in param_cols}
    return vals


def fellegi_sunter_em(
    candidates: DataFrame,
    fields: Sequence[str],
    n_iter: int = 5,
) -> DataFrame:
    """Unsupervised EM estimation of the Fellegi–Sunter parameters
    (the Splink / Winkler default when no labeled priors exist): fit
    the two-class conditional-independence mixture

        P(γ) = λ·∏ m_f^{γ_f}(1-m_f)^{1-γ_f}
             + (1-λ)·∏ u_f^{γ_f}(1-u_f)^{1-γ_f}

    over the agreement vectors of ``candidates`` (the output of
    :func:`blocked_agreements`), starting from λ=0.1, m=0.9, u=0.1.
    Returns one row per field: ``(field, m_est, u_est, lam)``.

    Missing comparisons: a NULL agreement is MARGINALIZED — factor 1
    in both class likelihoods, and the field's M-step restricts to
    patterns where it is observed — the correct EM treatment under
    missingness-completely-at-random (a NULL must never count as
    disagreement, which silently biases m̂ down; pinned by the
    planted-missingness pytest).

    Scale shape — the Splink trick: pairs sharing an agreement
    PATTERN share their E-step weight, so ONE map-side-combinable
    groupBy reduces the candidate relation (the only full-data pass,
    however many trillions of pairs) to a ≤2^F-row pattern histogram,
    checkpointed once. Each EM iteration is then one small driver
    round trip (:func:`em_fit`). The iteration count is fixed
    (``n_iter``), so there is no exit metric to observe.

    Determinism / oracle: each M-step output is ``ROUND(·, 12)`` then
    clamped to ``[1e-6, 1-1e-6]`` in BOTH engines — the rounding pins
    every iteration bit-for-bit across engines (sums over ≤2^F
    doubles differ only in final ulps, absorbed at 12 dp) and the
    clamp keeps a saturated parameter (a field that the weighted
    pairs always/never agree on) from zeroing an E-step product; on
    empty candidates every parameter sits at the clamp floor (both
    engines' GREATEST skips the NULL sum). Replay:
    :func:`fellegi_sunter_em_oracle_sql`."""
    p = em_fit(pattern_histogram(candidates, fields), fields, n_iter)
    return local_struct_df(
        candidates.sparkSession,
        "field string, m_est double, u_est double, lam double",
        [(f, p[f"m_{f}"], p[f"u_{f}"], p["lam"]) for f in fields],
    )


def fellegi_sunter_em_scores(
    candidates: DataFrame,
    fields: Sequence[str],
    threshold: float = 0.0,
    n_iter: int = 5,
    id_cols: Sequence[str] | None = None,
) -> DataFrame:
    """End-to-end UNSUPERVISED linkage: fit the EM mixture on the
    candidates' agreement patterns (:func:`fellegi_sunter_em`'s fit,
    shared code), then score every candidate pair with the
    ESTIMATED weights ln(m̂/û) / ln((1-m̂)/(1-û)) — the zero-prior
    path a user without labeled m-probabilities runs (Splink's
    default workflow, fit-then-predict). ``candidates`` is
    :func:`blocked_agreements` output; ``id_cols`` names its id
    columns (default: the first two columns). Output
    ``(id..., agree_<f>..., score)`` for pairs with score ≥
    threshold. A NULL agreement nulls the score and the threshold
    drops the pair; use the posterior variant for missing-tolerant
    ranking.

    Plan shape: the fit is the ≤2^F-histogram EM (one full-data
    groupBy); scoring inlines the estimate as literals
    (:func:`_log_weight_sql`, the :func:`fellegi_sunter_scores`
    weights) — a pure projection over the blocking join. Every
    ln/division is IEEE double arithmetic both engines execute
    identically, so the full fit+score pipeline replays exactly in
    DuckDB (:func:`fellegi_sunter_em_scores_oracle_sql`)."""
    ids = list(id_cols) if id_cols else list(candidates.columns[:2])
    p = em_fit(pattern_histogram(candidates, fields), fields, n_iter)
    score = " + ".join(
        _log_weight_sql(
            f, double_sql(p[f"m_{f}"]), double_sql(p[f"u_{f}"]), False
        )
        for f in fields
    )
    return (
        candidates.withColumn("score", F.round(F.expr(score), _ROUND_TO))
        .where(F.col("score") >= threshold)
        .select(*ids, *[f"agree_{f}" for f in fields], "score")
    )


def fellegi_sunter_em_posteriors(
    candidates: DataFrame,
    fields: Sequence[str],
    threshold: float = 0.5,
    n_iter: int = 5,
    id_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Posterior match probability per candidate pair — the quantity
    production matchers actually threshold on (Splink's
    ``match_probability``):

        P(match | γ) = λ̂·∏ m̂^γ(1-m̂)^{1-γ}
                     / (that + (1-λ̂)·∏ û^γ(1-û)^{1-γ})

    i.e. the E-step of iteration n_iter+1, evaluated on the PAIRS
    instead of the pattern histogram (the same :func:`_w_sql` text).
    Unlike the log-likelihood score (unbounded, prior-free), the
    posterior folds the estimated prevalence λ̂ in and lands in
    [0, 1], so ``threshold=0.5`` means "more likely a match than not
    under the fitted model". Same plan shape as
    :func:`fellegi_sunter_em_scores`: the fit's one histogram
    groupBy, then the estimate inlined as literals — a pure
    projection over the blocking join. A MISSING comparison is
    marginalized (factor 1 in both classes, matching the fit), so the
    posterior is computed from the pair's observed fields and the
    prior — the missing-tolerant ranking the log-likelihood score
    variant deliberately is not. Replay:
    :func:`fellegi_sunter_em_posteriors_oracle_sql`."""
    ids = list(id_cols) if id_cols else list(candidates.columns[:2])
    p = em_fit(pattern_histogram(candidates, fields), fields, n_iter)
    return (
        candidates.withColumn(
            "posterior", F.round(F.expr(_w_sql(fields, p)), _ROUND_TO)
        )
        .where(F.col("posterior") >= threshold)
        .select(*ids, *[f"agree_{f}" for f in fields], "posterior")
    )


def em_params(em_result: DataFrame) -> tuple[dict, dict]:
    """Collect :func:`fellegi_sunter_em` output (F rows — model-
    sized) into the ``(m_probs, u_probs)`` mappings
    :func:`fellegi_sunter_scores` and the streaming scorer consume."""
    rows = em_result.collect()
    return (
        {r["field"]: float(r["m_est"]) for r in rows},
        {r["field"]: float(r["u_est"]) for r in rows},
    )


# ---------------------------------------------------------------------------
# DuckDB replays. They keep their own SQL on purpose (functions/lits.py
# says why): the tests compare the Spark side against them.
# ---------------------------------------------------------------------------


def _dlit(x: float) -> str:
    """Render a double literal so BOTH engines parse it as DOUBLE.
    DuckDB parses a bare decimal literal (``0.1``) as DECIMAL, not
    DOUBLE; the per-iteration ROUND+clamp absorbs the resulting ulp
    differences in practice, but a value landing exactly on a
    rounding boundary could diverge between engines. ``CAST(.. AS
    DOUBLE)`` is the portable spelling (Spark SQL has no ``D``
    suffix guarantee in DuckDB and vice versa)."""
    return f"CAST({float(x)!r} AS DOUBLE)"


def _mixture_sql(fields: Sequence[str], a: str, p: str) -> tuple[str, str]:
    """The two class likelihoods ``(num, den)`` of an agreement
    vector — λ·∏ m-factors and (1-λ)·∏ u-factors, a missing
    comparison factor 1 — with the agreements read from alias ``a``
    and the parameters from alias ``p``."""

    def factors(k: str) -> str:
        return " * ".join(
            f"(CASE WHEN {a}.agree_{f} = 1 THEN {p}.{k}_{f}"
            f" WHEN {a}.agree_{f} = 0 THEN 1.0 - {p}.{k}_{f}"
            f" ELSE 1.0 END)"
            for f in fields
        )

    return f"{p}.lam * {factors('m')}", f"(1.0 - {p}.lam) * {factors('u')}"


def _em_cte_chain(
    cand_sql: str, fields: Sequence[str], n_iter: int
) -> list[str]:
    """The shared EM-replay CTE list: ``cand`` → ``pat`` histogram →
    ``it0..it{n_iter}`` parameter rows. Callers append their own
    final SELECT (unpivot for the fit, scoring projection for
    fit-then-predict)."""
    agree_list = ", ".join(f"agree_{f}" for f in fields)
    inits = ", ".join(
        [f"{_dlit(_INIT_LAMBDA)} AS lam"]
        + [f"{_dlit(_INIT_M)} AS m_{f}" for f in fields]
        + [f"{_dlit(_INIT_U)} AS u_{f}" for f in fields]
    )
    num, den = _mixture_sql(fields, "p", "prev")

    def _mstep(expr: str) -> str:
        return (
            f"LEAST(GREATEST(ROUND({expr}, {_ROUND_DP}),"
            f" {_dlit(_EPS)}), {_dlit(1.0 - _EPS)})"
        )

    ctes = [
        f"cand AS ({cand_sql})",
        f"pat AS (SELECT {agree_list}, CAST(COUNT(*) AS DOUBLE) AS cnt"
        f" FROM cand GROUP BY {agree_list})",
        f"it0 AS (SELECT {inits})",
    ]
    for k in range(1, int(n_iter) + 1):
        msteps = ", ".join(
            [_mstep("SUM(w * cnt) / SUM(cnt)") + " AS lam"]
            + [
                _mstep(
                    f"SUM(w * cnt * agree_{f})"
                    f" / SUM(w * cnt + agree_{f} * 0.0)"
                )
                + f" AS m_{f}"
                for f in fields
            ]
            + [
                _mstep(
                    f"SUM((1.0 - w) * cnt * agree_{f})"
                    f" / SUM((1.0 - w) * cnt + agree_{f} * 0.0)"
                )
                + f" AS u_{f}"
                for f in fields
            ]
        )
        ctes.append(
            f"""w{k} AS (
      SELECT *, num / (num + den) AS w FROM (
        SELECT p.*, {num} AS num, {den} AS den
        FROM pat p CROSS JOIN it{k - 1} prev
      )
    )"""
        )
        ctes.append(f"it{k} AS (SELECT {msteps} FROM w{k})")
    return ctes


def _posterior_sql(fields: Sequence[str], n_iter: int, threshold: float) -> str:
    """The candidates (``cand``) with their E-step ``posterior`` under
    the fitted ``it{n_iter}`` parameters, kept at ``>= threshold``."""
    num, den = _mixture_sql(fields, "c", "p")
    return f"""SELECT * FROM (
      SELECT c.*, ROUND(num / (num + den), {_ROUND_TO}) AS posterior
      FROM (
        SELECT c.*, {num} AS num, {den} AS den
        FROM cand c CROSS JOIN it{int(n_iter)} p
      ) c
    ) WHERE posterior >= {_dlit(threshold)}"""


def fellegi_sunter_em_oracle_sql(
    cand_sql: str,
    fields: Sequence[str],
    n_iter: int = 5,
) -> str:
    """Chained-CTE DuckDB replay of :func:`fellegi_sunter_em`
    iteration-for-iteration (the :func:`pagerank_oracle_sql` shape):
    ``cand_sql`` must produce the ``agree_<field>`` columns. Literals
    are rendered ``CAST(<repr> AS DOUBLE)`` so both engines bind the
    identical double (DuckDB parses bare decimals as DECIMAL)."""
    ctes = _em_cte_chain(cand_sql, fields, n_iter)
    selects = " UNION ALL ".join(
        f"SELECT '{f}' AS field, m_{f} AS m_est, u_{f} AS u_est, lam"
        f" FROM it{int(n_iter)}"
        for f in fields
    )
    return "WITH " + ",\n".join(ctes) + f"\n{selects}"


def fellegi_sunter_em_scores_oracle_sql(
    cand_sql: str,
    fields: Sequence[str],
    id_cols: Sequence[str],
    threshold: float = 0.0,
    n_iter: int = 5,
) -> str:
    """Replay of :func:`fellegi_sunter_em_scores` — the EM chain of
    :func:`fellegi_sunter_em_oracle_sql` followed by the scoring
    projection over the SAME candidate relation. ``cand_sql`` must
    produce ``id_cols`` plus the ``agree_<field>`` columns."""
    ctes = _em_cte_chain(cand_sql, fields, n_iter)
    terms = " + ".join(
        f"(CASE WHEN c.agree_{f} = 1 THEN ln(p.m_{f}) - ln(p.u_{f})"
        f" WHEN c.agree_{f} = 0"
        f" THEN ln(1.0 - p.m_{f}) - ln(1.0 - p.u_{f}) END)"
        for f in fields
    )
    ids = ", ".join(id_cols)
    agrees = ", ".join(f"agree_{f}" for f in fields)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT {ids}, {agrees}, score FROM (
      SELECT c.*, ROUND({terms}, {_ROUND_TO}) AS score
      FROM cand c CROSS JOIN it{int(n_iter)} p
    ) WHERE score >= {_dlit(threshold)}"""
    )


def fellegi_sunter_em_posteriors_oracle_sql(
    cand_sql: str,
    fields: Sequence[str],
    id_cols: Sequence[str],
    threshold: float = 0.5,
    n_iter: int = 5,
) -> str:
    """Replay of :func:`fellegi_sunter_em_posteriors`: the EM chain
    followed by the E-step posterior over the candidate relation."""
    ctes = _em_cte_chain(cand_sql, fields, n_iter)
    ids = ", ".join(id_cols)
    agrees = ", ".join(f"agree_{f}" for f in fields)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT {ids}, {agrees}, posterior FROM (
    {_posterior_sql(fields, n_iter, threshold)}
    )"""
    )


def fellegi_sunter_em_clusters_oracle_sql(
    cand_sql: str,
    fields: Sequence[str],
    id_cols: Sequence[str],
    threshold: float = 0.5,
    n_iter: int = 5,
    final_select: str | None = None,
) -> str:
    """Replay of the full score→cluster workflow (Splink's
    ``cluster_pairwise_predictions_at_threshold``): the EM chain,
    the E-step posterior over the candidates, the ``>= threshold``
    match edge set, then connected components as a recursive
    min-label closure (the ``dedup_components`` oracle shape).
    Output: (id, cluster) for every entity in at least one match —
    or, when ``final_select`` is given, that SELECT evaluated with a
    ``clusters(id, cluster)`` CTE in scope (the evaluation-report
    hook B120 uses)."""
    ctes = _em_cte_chain(cand_sql, fields, n_iter)
    idl, idr = id_cols
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + f""",
    matches AS (
      SELECT {idl}, {idr} FROM ({_posterior_sql(fields, n_iter, threshold)})
    ),
    e2(s, d) AS (SELECT {idl}, {idr} FROM matches
                 UNION SELECT {idr}, {idl} FROM matches),
    nodes(id) AS (SELECT DISTINCT s FROM e2),
    r(id, l) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e2.d, r.l FROM e2 JOIN r ON e2.s = r.id
    ),
    clusters AS (SELECT id, MIN(l) AS cluster FROM r GROUP BY id)
    """
        + (final_select or "SELECT id, cluster FROM clusters")
    )
