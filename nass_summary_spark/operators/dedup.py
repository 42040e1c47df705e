"""Document deduplication operators (SURVEY.md §2 B1–B4).

Scale posture (the reason each variant exists):
- exact: one hash-groupBy shuffle over fixed-width digests — never
  shuffle raw document text.
- n-gram Jaccard: exact set-similarity via a shared-shingle candidate
  join; candidate pairs are bounded by shingle co-occurrence, and the
  join key is a 64-bit shingle hash, not the shingle string.
- MinHash+LSH: constant-size signatures + banding → candidate pairs
  ~linear in corpus size; the only shuffle keys are (band, bucket
  hash). This is the 100 TB path.
- SimHash: one 64-bit fingerprint per doc; banded exact-match
  candidates + Hamming verify.

All hashing is md5-derived (portable — reproducible in DuckDB for
the oracle) and seeded deterministically: no runtime randomness.
"""

from __future__ import annotations

import logging
import warnings

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nass_summary_spark.functions.fixpoint import until_stable
from nass_summary_spark.functions.layout import spread_narrow_scan
from nass_summary_spark.functions.lits import bigint_sql
from nass_summary_spark.functions.text import word_shingles, words
from nass_summary_spark.functions.vectors import (
    MERSENNE_61,
    hamming64,
    token_hash64,
)

_LOG = logging.getLogger(__name__)

#: Deterministic MinHash permutation coefficients (a odd, both < 2^31
#: so a*h + b never overflows int64 for 32-bit token hashes).
#: Generated from a fixed linear-congruential sequence so Spark and
#: the DuckDB oracle agree byte-for-byte.
def minhash_perms(k: int, seed: int = 0x5DEECE66D) -> list[tuple[int, int]]:
    perms = []
    state = seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % ((1 << 31) - 2)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % ((1 << 31) - 1)
        perms.append((a | 1, b))
    return perms


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Representative (min id) per exact content digest.

    Output: one row per distinct content with ``keep_id``,
    ``dup_count``. GroupBy key is md5(content) so the shuffle moves
    32-byte digests, not documents.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(content_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool = False,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard similarity join.

    Default path: explode distinct shingles → self-join on the
    64-bit shingle hash (id_a < id_b) → |A∩B| per pair → Jaccard
    with |A∪B| = |A|+|B|−|A∩B|. One pair-generating shuffle; joined
    rows are bounded by Σ df(s)² over shingles, which is fine while
    shingle document-frequencies stay modest (true of this corpus —
    max df ≈ 25).

    ``prefix_filter=True`` switches candidate generation to PREFIX
    FILTERING (AllPairs/PPJoin family) — the heavy-tail scale path
    for real corpora where boilerplate shingles appear in millions
    of documents and the direct self-join explodes. Each document's
    shingles are sorted by one global total order (document
    frequency asc, hash tie-break) and only the first
    ``|A| − ⌈τ·|A|⌉ + 1`` join: for a pair with Jaccard ≥ τ, at most
    ``(1−τ)·|A|`` of A's shingles miss B, so the first shared
    shingle sits inside BOTH prefixes — no qualifying pair is lost,
    while frequent shingles (which sort last) never enter the join.
    Candidates then pass a BOUNDARY-KEY SUFFIX FILTER (PPJoin+
    family): the in-prefix positional range plus the suffix size of
    the smaller-boundary side upper-bounds the true overlap, killing
    the coincidental-single-shingle candidates (~500× the real pairs
    on this corpus) while still fixed-width rows; only the survivors
    ship their shingle arrays to exact-intersection verification.
    Singleton shingles (df = 1) are pruned before the array build —
    they can't match and only matter through the separately-carried
    true set sizes. Both paths return identical results (tested);
    the trade is a few cheap bounded shuffles (8.5 MB total at
    sf0.1, vs 48.7 MB for the r3 direct-join plan) for immunity to
    shingle skew.
    """
    # corpus-scale scans spread the shingle/hash CPU by split; a
    # narrow (single-split) scan is round-robined first so the sweep
    # parallelizes — downstream shuffles still move only partial-
    # aggregated or fixed-width hashed rows, never raw text
    staged = spread_narrow_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    )
    # persist the (id, hash) relation: it feeds 2-3 plan branches
    # (frequency, candidate sides, sizes) and re-deriving it re-runs
    # the shingle explode + md5 per branch — the most expensive
    # map-side work in the operator. Fixed-width rows (16 bytes),
    # MEMORY_AND_DISK, so at corpus scale it spills rather than OOMs.
    sh = (
        staged.select(
            "id",
            F.explode(word_shingles("__text", n)).alias("shingle"),
        )
        .select("id", token_hash64("shingle", bits=48).alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # materialize EAGERLY: the relation feeds several branches that
    # surface as concurrent broadcast futures downstream, and each
    # build racing a LAZY persist re-runs the whole shingle explode +
    # md5 sweep independently (the racing-broadcast-rebuild disease —
    # the profile showed the same scan stage executed 4x). The count
    # is the materialization one consumer would pay anyway.
    sh.count()
    # NOT persisted (r10 A/B): the doc-count-sized sizes relation is
    # referenced by both Jaccard-denominator joins, and each broadcast
    # build re-aggregates it from the cached sh relation — but
    # persisting it strips the aggregate's size estimate, flipping
    # those joins to sort-merge (two extra pair-relation exchanges;
    # measured 4.3 → 10.6s steady at sf0.1). The duplicate aggregation
    # only arises at scales where sizes is broadcastable, where the
    # re-aggregation over the cache is proportionally cheap.
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    if prefix_filter:
        # every pruning bound below subtracts EPS before a ceil /
        # >= comparison: the bounds are rational in the threshold
        # (e.g. required overlap t/(1+t)*(|A|+|B|)) and float64
        # evaluation can land a hair ABOVE the exact value (0.2/1.2
        # * 72 = 12.000000000000002), which would ceil to 13 and
        # prune a pair sitting exactly at the threshold. EPS makes
        # every filter conservative-only: never drops a qualifying
        # pair, at worst admits one more candidate to verification.
        EPS = 1e-6
        freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        # SINGLETON PRUNING: a shingle with df = 1 appears in exactly
        # ONE document (shingles are per-doc distinct), so it can
        # never match in the candidate join and contributes zero to
        # every intersection — it only matters through the TRUE set
        # size |A|, which the ``sizes`` relation carries separately.
        # Dropping singletons BEFORE the per-doc array build shrinks
        # the array exchange by the singleton fraction — on natural
        # corpora most shingles are unique (the head of a heavy-
        # tailed df distribution), so this is the dominant term at
        # corpus scale; the dense synthetic bench corpus (avg df 9.6,
        # 207 singletons of 27k distinct shingles) barely moves,
        # which is the worst case for this pruning, not the typical
        # one. Exactness is untouched: in the
        # (df, sh)-ascending total order all singletons sort FIRST
        # (df=1 < 2), so the j-th surviving element sits at full
        # position j + u (u = |A| − |survivors|); positions, prefix
        # lengths, and boundary keys below are all expressed in FULL
        # coordinates via that shift. A doc whose full prefix ends
        # inside its singleton run provably has no qualifying pair
        # (the first shared shingle of any τ-pair lies in both
        # prefixes, and singletons are never shared), so emitting no
        # prefix rows for it is exact, not an approximation.
        #
        # ONE (now singleton-free) shuffle builds each doc's shingle
        # set sorted by the global (df, sh) total order; prefix +
        # positions are then pure array projections (no window
        # passes, and the same arrays serve candidate verification
        # below). Per doc we also keep the BOUNDARY KEY — the
        # (df, sh) struct of the first element AFTER the prefix
        # (null if the prefix covers the whole surviving set) — and
        # the suffix size: the suffix filter below needs them. The
        # sizes join rides the same id-partitioning as the groupBy
        # (both are post-shuffle hash(id) relations): no extra
        # exchange.
        arrs = (
            sh.join(freq.where(F.col("df") >= 2), "sh")
            .groupBy("id")
            .agg(F.array_sort(F.collect_list(F.struct("df", "sh"))).alias("__s"))
            .join(sizes, "id")
            .withColumn("__u", (F.col("n_sh") - F.size("__s")).cast("int"))
            .withColumn(
                "plen",
                F.greatest(
                    (
                        F.col("n_sh")
                        - F.ceil(F.lit(threshold) * F.col("n_sh") - EPS)
                        + 1
                        - F.col("__u")
                    ).cast("int"),
                    F.lit(0),
                ),
            )
            .select(
                "id",
                F.transform("__s", lambda s: s["sh"]).alias("arr"),
                F.col("n_sh").cast("int").alias("n_sh"),
                "plen",
                "__u",
                F.get("__s", F.col("plen")).alias("bval"),  # 0-based → arr[plen+1]
                (F.size("__s") - F.col("plen")).alias("sfx"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # same eager-materialization rationale as ``sh`` above: arrs
        # feeds the prefix explode, both candidate-join sides and the
        # verification joins — racing futures against a lazy persist
        # replay the array build per consumer
        arrs.count()
        prefix = arrs.select(
            "id",
            "n_sh",
            "__u",
            F.posexplode(F.slice("arr", 1, F.col("plen"))).alias("__p", "sh"),
        ).select(
            "id", "sh", (F.col("__p") + 1 + F.col("__u")).alias("pos"), "n_sh"
        )
        # candidate join with the two PPJoin pruning filters inline,
        # both applied PER MATCHED ROW inside the join condition:
        #  - LENGTH: Jaccard >= t needs t*|A| <= |B| (and symmetric);
        #  - POSITION (per-row): overlap o implies the FIRST shared
        #    shingle s* (in the global (df, sh) order) has pos <=
        #    |X| - o + 1 on BOTH sides simultaneously (all o common
        #    shingles sort >= s* in each doc's array), so s*'s
        #    matched row always survives
        #        1 + min(|A|-pos_a, |B|-pos_b) >= ceil(t/(1+t)(|A|+|B|))
        #    and no qualifying pair is lost. Filtering per row
        #    (instead of post-aggregation on min positions, as
        #    earlier revisions did) kills non-qualifying matches
        #    BEFORE the pair aggregation, shrinking its exchange by
        #    ~60% measured; and because arrays are sorted by the one
        #    global order, min(pos) over the SURVIVING rows of a
        #    qualifying pair still equals s*'s position on both
        #    sides — the positional bounds downstream stay exact.
        # The aggregation itself carries ONLY (id_a, id_b, min_pa,
        # min_pb): sizes and boundary data re-attach from the tiny
        # per-doc ``bnd`` relation in the suffix-filter joins that
        # run anyway, keeping the widest exchange of the operator at
        # 4 fixed-width fields per row.
        # No probe-width repartition before the candidate join any
        # more: the per-row positional filter cut the pair-expansion
        # CPU ~60%, and with the engine free to broadcast the built
        # side the probe inherits the SCAN's partitioning (splits
        # bounded by maxPartitionBytes), which spreads fine. Dropping
        # the forced round-robin pass let AQE broadcast-plan the
        # whole filter chain: the operator's total shuffle fell
        # 25.4 → 8.5 MB at sf0.1 with byte-identical output and
        # unchanged wall time. ``par`` still pins the verification
        # probe width below.
        par = df.sparkSession.sparkContext.defaultParallelism
        cand = (
            prefix.alias("pa")
            .join(
                prefix.alias("pb"),
                (F.col("pa.sh") == F.col("pb.sh"))
                & (F.col("pa.id") < F.col("pb.id"))
                & (F.col("pb.n_sh") >= F.lit(threshold) * F.col("pa.n_sh") - EPS)
                & (F.col("pa.n_sh") >= F.lit(threshold) * F.col("pb.n_sh") - EPS)
                & (
                    1
                    + F.least(
                        F.col("pa.n_sh") - F.col("pa.pos"),
                        F.col("pb.n_sh") - F.col("pb.pos"),
                    )
                    >= F.ceil(
                        F.lit(threshold)
                        / (1 + threshold)
                        * (F.col("pa.n_sh") + F.col("pb.n_sh"))
                        - EPS
                    )
                ),
            )
            .groupBy(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
            # the two min-positions PACKED into one long: for a
            # qualifying pair, the first shared shingle s* minimizes
            # pos on BOTH sides simultaneously (arrays share one
            # global order), so min(pos_a·2³¹ + pos_b) is exactly
            # (min_pa, min_pb). For non-qualifying pairs the unpacked
            # values may belong to a non-minimal row — harmless: the
            # downstream filters only need validity for qualifying
            # pairs (a false positive just reaches verification).
            # One agg slot instead of two → ~20% off the operator's
            # largest exchange.
            .agg(
                F.min(
                    F.shiftleft(F.col("pa.pos").cast("long"), 31)
                    + F.col("pb.pos")
                ).alias("__mp")
            )
            .select(
                "id_a",
                "id_b",
                F.shiftrightunsigned("__mp", 31).alias("min_pa"),
                (F.col("__mp") % F.lit(2147483648)).alias("min_pb"),
            )
        )
        # SUFFIX FILTER (the PPJoin+ idea via boundary keys): split
        # the common shingles of a candidate pair into those lying in
        # BOTH full prefixes and the rest.
        #  - in-both-prefixes commons occupy positions in
        #    [min_pos, pend] on each side (pend = full prefix end =
        #    __u + plen; min_pos = the first shared shingle's
        #    position, exact for qualifying pairs per the candidate
        #    join note), so their count is at most
        #    min(pend_a - min_pa, pend_b - min_pb) + 1;
        #  - every other common sorts >= the SMALLER boundary key v
        #    (the (df, sh) struct right after the prefix), and on v's
        #    own side those are (at most) its suffix elements.
        # Hence conservatively:
        #     overlap <= min(pend−min_pos)+1 + sfx(smaller boundary)
        # (boundary ties → both sides' suffixes → least; a side with
        # no suffix has boundary +inf). Pairs whose bound can't reach
        # the required overlap ceil(t/(1+t)·(|A|+|B|)) die HERE as
        # fixed-width rows — before any shingle array is shipped to
        # verification. Integer arithmetic except the EPS-guarded
        # ceil, so the filter is conservative-only (never drops a
        # qualifying pair). The two bound joins shuffle only the
        # 4-field candidate relation (~40 B/row) and the per-doc
        # boundary relation (~40 B/doc, now also carrying n_sh and
        # pend so sizes never ride the wide pair exchange) —
        # corpus-scale safe, no broadcast of doc-count-sized data.
        bnd = arrs.select(
            "id", "bval", "sfx", "n_sh", (F.col("__u") + F.col("plen")).alias("pend")
        )
        sfx_sel = (
            F.when(F.col("bva").isNull() & F.col("bvb").isNull(), F.lit(0))
            .when(F.col("bva").isNull(), F.col("sfb"))
            .when(F.col("bvb").isNull(), F.col("sfa"))
            .when(F.col("bva") < F.col("bvb"), F.col("sfa"))
            .when(F.col("bva") > F.col("bvb"), F.col("sfb"))
            .otherwise(F.least("sfa", "sfb"))
        )
        cand = (
            cand.join(
                bnd.select(
                    F.col("id").alias("id_a"),
                    F.col("bval").alias("bva"),
                    F.col("sfx").alias("sfa"),
                    F.col("n_sh").alias("pna"),
                    F.col("pend").alias("pea"),
                ),
                "id_a",
            )
            .join(
                bnd.select(
                    F.col("id").alias("id_b"),
                    F.col("bval").alias("bvb"),
                    F.col("sfx").alias("sfb"),
                    F.col("n_sh").alias("pnb"),
                    F.col("pend").alias("peb"),
                ),
                "id_b",
            )
            .where(
                F.least(
                    F.col("pea") - F.col("min_pa"), F.col("peb") - F.col("min_pb")
                )
                + 1
                + sfx_sel
                >= F.ceil(
                    F.lit(threshold) / (1 + threshold) * (F.col("pna") + F.col("pnb"))
                    - EPS
                )
            )
            .select("id_a", "id_b")
        )
        # verify with the per-doc shingle ARRAYS (KB-sized rows, one
        # per doc) instead of re-joining the exploded shingle
        # relation — that re-join materializes |sh(A)| rows per
        # candidate pair (~50x the candidate count) where the arrays
        # move each doc's set once per pair and intersect JVM-side.
        inter = (
            cand.repartition(par)  # same probe-width pinning
            .join(
                arrs.select(F.col("id").alias("id_a"), F.col("arr").alias("arr_a")),
                "id_a",
            )
            .join(
                arrs.select(F.col("id").alias("id_b"), F.col("arr").alias("arr_b")),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("arr_a", "arr_b")).alias("n_common"),
            )
            .where(F.col("n_common") > 0)
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(
                b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id"))
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 32,
) -> DataFrame:
    """(id, sig) MinHash signatures: ``num_perm`` permutation minima
    over distinct n-word shingles, as plain MIN aggregates —
    whole-stage-codegen'd hash aggregation (each shingle md5 computed
    exactly once). The shingling + md5 work happens MAP-SIDE of that
    groupBy directly on the scan partitions (maxPartitionBytes bounds
    split size at corpus scale; a NARROW scan — one small single-row-
    group file — is first round-robined over the session width, else
    the whole shingle sweep serializes onto one task; the groupBy
    shuffle itself carries only partial-aggregated k-bigint
    signatures per doc)."""
    perms = minhash_perms(num_perm)
    staged = spread_narrow_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    )
    sh = staged.select(
        "id", F.explode(word_shingles("__text", n)).alias("shingle")
    ).select("id", token_hash64("shingle", bits=32).alias("h"))
    # each permutation min rendered as ONE parsed expression: the
    # Column form costs ~5 py4j round trips per permutation (~0.45s
    # of pure driver time per call at num_perm=32, and every minhash
    # consumer pays it), while the parsed tree computes the identical
    # BIGINT arithmetic — h is BIGINT so the products/mods promote
    # the same way with L-suffix literals
    min_aggs = [
        F.expr(
            f"MIN((h * {bigint_sql(a)} + {bigint_sql(b)})"
            f" % {bigint_sql(MERSENNE_61)}) AS __m{i}"
        )
        for i, (a, b) in enumerate(perms)
    ]
    sig = "array(" + ",".join(f"__m{i}" for i in range(num_perm)) + ")"
    return (
        sh.groupBy("id")
        .agg(*min_aggs)
        .select("id", F.expr(sig).alias("sig"))
    )


def band_entries(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band, bucket) LSH banding of a (id, sig) relation: bucket
    = md5 of the band's signature slice — constant width regardless
    of document size, so the banding shuffle never carries
    signatures (they rejoin later by id)."""
    rows_per_band = num_perm // bands
    # one parsed expression for the whole band array: the Column form
    # costs ~8 py4j round trips per band (the transform lambda alone
    # is a HOF build), paid by every LSH consumer per call; the parsed
    # tree computes identical slices/md5s
    band_structs = ",".join(
        f"named_struct('band', {bidx}, 'bucket',"
        f" md5(array_join(transform(slice(sig, {bidx * rows_per_band + 1},"
        f" {rows_per_band}), x -> CAST(x AS STRING)), ',')))"
        for bidx in range(bands)
    )
    return sig.select(
        "id", F.expr(f"explode(array({band_structs}))").alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def estimated_jaccard(num_perm: int):
    """Column expr: fraction of equal components of sig_a/sig_b."""
    return F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_perm)),
        6,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs.

    Signature of ``num_perm`` minhashes over n-word shingles, split
    into ``bands`` bands of num_perm/bands rows; docs colliding on any
    band become candidates; candidates are verified with the estimated
    Jaccard (fraction of equal signature components) ≥ threshold.

    The banding join keys are (band_idx, md5(band slice)) — constant
    width regardless of document size.
    """
    sig = minhash_signatures(df, id_col, text_col, n=n, num_perm=num_perm)
    # sig is read three times (banding + both verify joins); it is
    # tiny relative to the corpus (k bigints per doc), so persist it
    # rather than re-derive every shingle md5 per consumer
    sig = sig.persist()

    band_entries_df = band_entries(sig, num_perm, bands)

    a = band_entries_df.alias("a")
    b = band_entries_df.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    verified = cand.join(sig_a, "id_a").join(sig_b, "id_b")
    return verified.withColumn(
        "est_jaccard", estimated_jaccard(num_perm)
    ).where(
        F.col("est_jaccard") >= threshold
    ).select("id_a", "id_b", "est_jaccard")


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    best_effort: bool = False,
) -> DataFrame:
    """SimHash near-duplicate pairs: 64-bit fingerprints, banded into
    ``bands`` equal-width chunks for candidate generation, verified
    with true Hamming distance ≤ ``max_hamming``.

    Coverage contract: by pigeonhole, a pair within Hamming distance
    r < ``bands`` must agree exactly on ≥1 band, so every qualifying
    pair is FOUND — but only when ``max_hamming <= bands - 1``. The
    default (r=3, 4×16-bit bands) is the classic web-scale setting
    (Manku et al., WWW'07 use k=3 on 64-bit fingerprints for 8B
    docs); 16-bit chunks keep candidate volume ≈ Σ n_bucket² with
    2^16 buckets per band, which is what makes the join tractable at
    corpus scale. Radii beyond ``bands - 1`` would be detected only
    opportunistically; such configurations raise unless the caller
    opts in with ``best_effort=True`` (narrower chunks that would
    *guarantee* a large radius, e.g. 13×5-bit for r=12, collapse to
    ≤2^5 buckets per band and degenerate toward the all-pairs join —
    the wrong trade at scale)."""
    if max_hamming > bands - 1 and not best_effort:
        raise ValueError(
            f"banding with {bands} bands only guarantees recall for "
            f"Hamming <= {bands - 1}; got max_hamming={max_hamming}. "
            "Pass best_effort=True to accept opportunistic recall."
        )
    # corpus-scale scans spread the shingle/hash CPU by split; a
    # narrow (single-split) scan is round-robined first so the sweep
    # parallelizes — downstream shuffles still move only partial-
    # aggregated or fixed-width hashed rows, never raw text
    staged = spread_narrow_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    )
    # explode tokens and run the 64 bit-votes as plain SUM aggregates
    # — whole-stage-codegen'd hash aggregation instead of interpreted
    # per-element array lambdas (~3× on the fingerprint stage)
    toks = staged.select("id", F.explode(words("__text")).alias("tok"))
    # stage the md5 hex ONCE and slice it twice — h1/h2 otherwise
    # each recompute the digest (2× the hash cost of the hot stage)
    digest = toks.select("id", F.md5("tok").alias("__hex"))
    hashed = digest.select(
        "id",
        F.conv(F.substring("__hex", 1, 12), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring("__hex", 13, 4), 16, 10).cast("bigint").alias("h2"),
    )
    # the 65 vote aggregates and the 64-term fingerprint fold are
    # rendered as PARSED SQL text instead of per-element Column-API
    # chains: building them through py4j plus analyzing the
    # call-by-call tree cost ~2.3s of pure driver gap per run (the
    # same literal/HOF construction tax as the ANN LUTs — guide §7.3
    # "very large expression trees"). The parsed trees compute the
    # identical integer ops in the identical order (shiftright/&/
    # CASE/left-assoc +), so every fingerprint bit is unchanged
    # (oracle-verified).
    vote_aggs = [F.count(F.lit(1)).alias("__n")]
    vote_aggs += [
        F.expr(f"sum(shiftright(h1, {b}) & 1)").alias(f"__o{b}")
        for b in range(48)
    ]
    vote_aggs += [
        F.expr(f"sum(shiftright(h2, {b}) & 1)").alias(f"__o{48 + b}")
        for b in range(16)
    ]
    votes = hashed.groupBy("id").agg(*vote_aggs)
    fp_terms = []
    for b in range(64):
        val = (1 << b) if b < 63 else -(1 << 63)
        fp_terms.append(
            f"(CASE WHEN __o{b} * 2 >= __n THEN {bigint_sql(val)}"
            " ELSE CAST(0 AS BIGINT) END)"
        )
    fp_sql = "CAST(0 AS BIGINT) + " + " + ".join(fp_terms)
    fp = votes.select("id", F.expr(fp_sql).alias("fp")).persist()
    width = 64 // bands
    banded = fp.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("fp"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "fp", "bb.band", "bb.chunk")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", hamming64("fp_a", "fp_b"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate GROUPS: connected
    components by iterative min-label propagation.

    Each round (1) propagates the smallest known id across edges and
    (2) pointer-halves — every node also adopts its label's label —
    so convergence is O(log diameter) rounds even for chain-shaped
    clusters. Every round is a bounded number of shuffles.

    The rounds run under
    :func:`~nass_summary_spark.functions.fixpoint.until_stable`, which
    checkpoints every round: each round's frame references the
    previous round TWICE (merge + pointer-halving grandparent join),
    so the LOGICAL plan would otherwise double per iteration (the
    analyzer walking a 2^k-node tree embedding the upstream
    pair-generation plan 2^k times OOMed a default-sized 1g driver).
    Labels only ever DECREASE (min-merges of node ids), so the label
    sum strictly decreases on every non-converged round and is
    constant exactly at convergence — the exit metric. ``max_iter``
    is a loud cap: ``RuntimeError`` if the labels have not converged
    within it.
    Output: (id, component) where component = min id in the group.
    """
    # hash-partition the (checkpointed) edge relation by the probe
    # side of the per-round propagate join ONCE: localCheckpoint
    # preserves the partitioning, so no round re-exchanges the edges
    # — only the (smaller, freshly-aggregated) label side moves
    # (guide §2.4 "two operations keyed the same way can share one
    # exchange"). Width is the session conf, scale-adaptive.
    width = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .repartition(width, "src")
        .localCheckpoint()
    )

    def halve(labels: DataFrame) -> DataFrame:
        propagated = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "component")
        )
        merged = (
            labels.unionByName(propagated)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer halving with the PREVIOUS round's (checkpointed)
        # pointers: component' = labels_prev[merged[x]]. Taking the
        # grandparent from ``labels`` instead of ``merged`` means the
        # round's un-materialized propagate+merge chain is referenced
        # exactly ONCE — with a merged-side self-join the chain
        # executed twice inside the round's one action (profiled as
        # concurrent duplicate jobs; at corpus scale that runs the
        # edge join twice per round). Stale-by-one pointers are still
        # monotone halving (labels_prev[c] <= c), the unique min-label
        # fixpoint is unchanged, and the sum exit test still certifies
        # it: new[x] = labels_prev[merged[x]] <= merged[x] <=
        # labels_prev[x], so a stationary sum forces merged ==
        # labels_prev pointwise — the propagate fixpoint.
        grandparent = labels.select(
            F.col("id").alias("component"), F.col("component").alias("__gp")
        )
        return merged.join(grandparent, on="component", how="left").select(
            "id", F.coalesce("__gp", "component").alias("component")
        )

    # DECIMAL(38,0) cannot overflow for any realistic (rows ×
    # id-magnitude) product
    seed = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("component", F.col("id"))
    )
    return until_stable(
        seed,
        halve,
        F.sum(F.col("component").cast("decimal(38,0)")),
        max_iter,
    )


def url_dedup(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """URL-level dedup (RefinedWeb posture): canonicalize the URL and
    keep one representative per normalized URL (min id — deterministic,
    partitioning-independent).

    One digest-width shuffle: the group key is the normalized URL
    string (bounded length), the kept id is a min-aggregate — no
    window, no sort, no text movement beyond the URL column.
    """
    from nass_summary_spark.functions.text import normalize_url

    return (
        df.withColumn("url_norm", normalize_url(url_col))
        .groupBy("url_norm")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def duplicate_passages(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Cross-document duplicate-passage detection — the distributed
    approximation of exact-substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"):
    every word ``n``-gram is hashed, grams shared by >1 distinct
    document mark duplicated spans, and each document reports its
    duplicated-span fraction (the signal used to cut or trim docs).

    Scale shape: the token stream is exploded and digested ONCE
    (fixed-width md5 digests, never raw text), pre-aggregated to
    (gram, doc, count) — the heavy map-side combine — then the
    per-gram document frequency is a window count over the already
    gram-partitioned pairs (replacing a self-join that would
    recompute the gram explode for both sides). Three bounded
    shuffles over shrinking data, linear in corpus token count, no
    pairwise comparison anywhere.
    """
    from pyspark.sql import Window

    from nass_summary_spark.functions.text import ngrams_from_words, words

    # the gram explode + md5 fuses into the scan stage, so a single-
    # split input serializes the whole sweep onto one task (profiled
    # as one 1.1s task at sf0.1) — spread a narrow scan first
    # (identity at corpus scale; guide §2.5)
    grams = spread_narrow_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    ).select(
        "id",
        F.explode(ngrams_from_words(words("__text"), n)).alias("gram"),
    ).select("id", F.md5("gram").alias("g"))
    per_pair = grams.groupBy("g", "id").agg(F.count(F.lit(1)).alias("c"))
    # rows per gram in per_pair == distinct docs containing the gram
    nd = F.count(F.lit(1)).over(Window.partitionBy("g"))
    return (
        per_pair.withColumn("nd", nd)
        .groupBy("id")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("nd") > 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_grams"),
        )
        .select(
            F.col("id"),
            "n_grams",
            "n_dup_grams",
            F.round(F.col("n_dup_grams").cast("double") / F.col("n_grams"), 6).alias(
                "dup_frac"
            ),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Directed near-SUBSET detection: all ordered pairs (A, B) with
    containment C(A,B) = |A∩B| / |A| ≥ t — the asymmetric relation
    Jaccard misses (a short doc quoted whole inside a long one, a
    page wrapped in boilerplate: |A∩B|/|A∪B| stays small while
    |A∩B|/|A| ≈ 1).  RefinedWeb-style pipelines run both.

    Scale shape: ONE-SIDED prefix filtering.  If C(A,B) ≥ t, then at
    most |A| − ⌈t·|A|⌉ of A's shingles miss B, so A's prefix of its
    ⌊(1−t)·|A|⌋+1 RAREST shingles (global df-ascending total order —
    one df aggregation, reused) must contain a shared shingle; only
    that prefix enters the candidate join against the full shingle
    relation.  Because the prefix holds each doc's rarest shingles,
    boilerplate (high-df) shingles never generate candidates from
    the A side — the same heavy-tail immunity as the Jaccard prefix
    filter, adapted to the one-sided bound (B needs no length
    filter: containment in a huge B is exactly the case we hunt).
    Verification is exact: sorted hashed-shingle arrays intersected
    per candidate.  EPS guards the ceil boundary (conservative-only,
    as in ngram_jaccard_pairs).

    Returns (id_a, id_b, containment) — id_a is the contained side;
    self-pairs excluded, both directions reported when both hold.
    """
    EPS = 1e-6
    staged = spread_narrow_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    )
    sh = (
        staged.select("id", F.explode(word_shingles("__text", n)).alias("shingle"))
        .select("id", token_hash64("shingle", bits=48).alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # eager materialization (the racing-broadcast-rebuild fix): sh
    # feeds the frequency aggregation, the array build and the probe
    # side; arrs is referenced THREE times (prefix explode + both
    # verification sides). Left lazy, the concurrent broadcast/stage
    # builds each re-ran the whole shingle sweep — the profile showed
    # six concurrent executions of the same 33-task stage (7.0s of
    # job time inside a 3.2s wall).
    sh.count()
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    arrs = (
        sh.join(freq, "sh")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "sh"))).alias("__s"))
        .select(
            "id",
            F.transform("__s", lambda s: s["sh"]).alias("arr"),
            F.size("__s").alias("n_sh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    arrs.count()
    prefix_a = arrs.select(
        F.col("id").alias("id_a"),
        F.posexplode(
            F.slice(
                "arr",
                1,
                (
                    F.col("n_sh")
                    - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(EPS))
                    + 1
                ).cast("int"),
            )
        ).alias("__p", "sh"),
    ).select("id_a", "sh")
    # pin the probe width (same rationale as ngram_jaccard_pairs:
    # AQE coalesces the candidate join to a few partitions, blind to
    # the pair-expansion + array-intersect CPU those tasks feed;
    # round-robin keeps hot shingles spread)
    par = df.sparkSession.sparkContext.defaultParallelism
    cand = (
        prefix_a.repartition(par)
        .join(sh.select(F.col("id").alias("id_b"), "sh"), "sh")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = arrs.select(
        F.col("id").alias("id_a"), F.col("arr").alias("__aa"), F.col("n_sh").alias("n_a")
    )
    b = arrs.select(F.col("id").alias("id_b"), F.col("arr").alias("__ab"))
    verified = (
        cand.repartition(par)
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("__aa", "__ab")).cast("double")
                / F.col("n_a").cast("double"),
                6,
            ).alias("containment"),
        )
        .where(F.col("containment") >= F.lit(threshold))
    )
    return verified


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_chars: int = 40,
) -> DataFrame:
    """Maximal exact duplicated SUBSTRING spans per document — the
    character-level substring dedup of Lee et al. ("Deduplicating
    Training Data Makes Language Models Better", ACL 2022), which
    their suffix array computes on one machine, re-expressed as
    three relational stages that distribute:

    1. every character position emits the 64-bit hash of its
       ``gram_chars``-char gram (pure projection + explode —
       ``substring`` is evaluated JVM-side per position);
    2. grams whose hash appears in MORE than one position corpus-wide
       are the duplicated seeds (one partial-agg shuffle on the hash;
       a LEFT SEMI join marks seed positions without widening rows);
    3. consecutive seed positions within a document merge into
       maximal spans by the gaps-and-islands pattern
       (``pos − row_number()`` is constant exactly on a run), riding
       one per-document window.

    A span [start, end] means text[start..end] (1-based, inclusive)
    also appears somewhere else in the corpus (or elsewhere in the
    same document) — the removal unit for substring-level dedup.
    Returns (id, span_start, span_end, n_grams).  Shuffle rows are
    (id, pos, hash) fixed-width triples; nothing quadratic, no text
    movement after the scan.
    """
    staged = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    grams = (
        staged.select(
            "id",
            "__text",
            F.posexplode(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.length("__text") - F.lit(gram_chars - 1), F.lit(0)
                    ),
                )
            ).alias("__i", "pos"),
        )
        .select(
            "id",
            "pos",
            token_hash64(
                F.expr(f"substring(__text, pos, {gram_chars})"), bits=48
            ).alias("h"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dup_h = grams.groupBy("h").agg(F.count(F.lit(1)).alias("c")).where(F.col("c") > 1)
    seeds = grams.join(dup_h.select("h"), "h", "left_semi")
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("pos")
    islands = seeds.withColumn("__grp", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy("id", "__grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(gram_chars - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .drop("__grp")
    )


def keep_best_duplicate(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    score_col: str,
) -> DataFrame:
    """Quality-aware near-duplicate removal: given candidate pairs
    (id_a, id_b), keep the HIGHEST-SCORING member of every connected
    near-dup group (ties → min id) plus all singletons — the
    production refinement of min-id dedup (B42): when five mirrors
    of a page survive crawling, you keep the longest / cleanest /
    highest-quality copy, not the one with the smallest id.

    Scale shape: components are bounded by near-duplicate density;
    ranking is one window over the MEMBERS relation (near-dup docs
    only, never the corpus); the drop-list broadcasts into a LEFT
    ANTI join so the corpus is filtered map-side.  Returns the kept
    rows of ``df`` unchanged.
    """
    comp = connected_components(pairs)
    members = df.select(F.col(id_col), F.col(score_col)).join(
        comp.withColumnRenamed("id", id_col), id_col
    )
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    drop = (
        members.withColumn("__rnk", F.row_number().over(w))
        .where(F.col("__rnk") > 1)
        .select(id_col)
    )
    return df.join(F.broadcast(drop), id_col, "left_anti")


def novelty_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of the doc's
    distinct shingles that appear NOWHERE else in the corpus
    (document frequency 1) — high novelty flags original content,
    low novelty flags templated/boilerplate-heavy pages even when no
    single other document is a near-duplicate (the signal Jaccard
    pair-dedup cannot see).  One shingle explode + one df
    aggregation + one per-doc count — the same fixed-width-hash
    shuffle discipline as the dedup family.  Returns
    (id, n_shingles, n_unique, novelty).
    """
    sh = (
        df.select(F.col(id_col).alias("id"),
                  F.explode(word_shingles(F.col(text_col), n)).alias("s"))
        .select("id", token_hash64("s", bits=48).alias("h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(freq, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("int")).cast("bigint").alias("n_unique"),
        )
        .select(
            "id",
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            "n_unique",
            F.round(F.col("n_unique") / F.col("n_shingles"), round_dp).alias(
                "novelty"
            ),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_chars: int = 40,
) -> DataFrame:
    """The removal half of substring dedup (Lee et al. ACL'22 cut
    duplicated substrings OUT of the training text — detection alone
    doesn't shrink the corpus): splice each document's
    :func:`duplicated_spans` out of its text.

    Relational text surgery, no UDF: spans per doc sort under one
    window; ``lag`` yields each KEEP segment (the text between the
    previous span's end and this span's start); segments concatenate
    in span order with the tail after the last span appended — all
    ``substring``/``concat_ws`` expressions riding the per-doc
    shuffle.  Documents without spans pass through unchanged.
    Returns (id, cleaned_text, n_removed_chars).

    Detection emits one span per RUN of consecutive seed positions,
    so two islands separated by a gap smaller than ``gram_chars``
    yield OVERLAPPING spans (span_end = last_pos + gram_chars - 1
    reaches past the next island's start).  Overlapping/adjacent
    spans are therefore interval-merged per document first — running
    ``max(span_end)`` over preceding rows opens a new group exactly
    when a span starts past everything seen — so each removed
    character is counted once and every keep-segment length is
    non-negative by construction (the ``greatest`` clamp stays as a
    guard only).  The merge windows ride the same per-id exchange as
    the segment window: no extra shuffle.
    """
    raw = duplicated_spans(df, id_col, text_col, gram_chars=gram_chars)
    wo = Window.partitionBy("id").orderBy("span_start", "span_end")
    spans = (
        raw.withColumn(
            "__prev_max",
            F.max("span_end").over(
                wo.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .withColumn(
            "__new_grp",
            F.when(
                F.col("__prev_max").isNull()
                | (F.col("span_start") > F.col("__prev_max") + 1),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "__grp",
            F.sum("__new_grp").over(
                wo.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("id", "__grp")
        .agg(
            F.min("span_start").alias("span_start"),
            F.max("span_end").alias("span_end"),
        )
        .drop("__grp")
    )
    w = Window.partitionBy("id").orderBy("span_start")
    segs = (
        spans.withColumn("__prev_end", F.lag("span_end").over(w))
        .withColumn("__seg_start", F.coalesce(F.col("__prev_end"), F.lit(0)) + 1)
        .withColumn("__seg_len", F.col("span_start") - F.col("__seg_start"))
    )
    staged = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    per_doc = (
        segs.join(staged, "id")
        .groupBy("id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("span_start"),
                                F.expr(
                                    "substring(__text, __seg_start, "
                                    "greatest(__seg_len, 0))"
                                ).alias("seg"),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
            ).alias("__head"),
            F.max("span_end").alias("__last_end"),
            F.sum(F.col("span_end") - F.col("span_start") + 1).alias("__removed"),
        )
    )
    cleaned = (
        staged.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(
                F.col("__head").isNull(), F.col("__text")
            ).otherwise(
                F.concat(
                    F.col("__head"),
                    F.expr("substring(__text, __last_end + 1, length(__text))"),
                )
            ).alias("cleaned_text"),
            F.coalesce(F.col("__removed"), F.lit(0)).cast("bigint").alias(
                "n_removed_chars"
            ),
        )
    )
    return cleaned


def lsh_param_plan(
    spark,
    num_perm: int = 32,
    threshold: float = 0.35,
    grid: int = 100,
    scale: int = 1_000_000,
):
    """MinHash-LSH parameter planning (B123): for every banding
    (b, r) with b·r = num_perm, integrate the S-curve
    ``P(candidate | s) = 1 − (1 − s^r)^b`` below the target Jaccard
    threshold (false-positive weight) and its complement above it
    (false-negative weight) — the datasketch ``_optimal_param``
    device, which picks the banding BEFORE paying for a corpus pass.
    B3/B100 hard-code a banding; this is the operator that justifies
    one (or re-plans it when the threshold changes).

    Determinism: midpoint-rule integration over a fixed ``grid``;
    every per-point curve value is quantized to 1e-6 fixed point
    (floor(P·1e6 + 0.5)) before the integer sum, so both engines
    produce identical weights and the argmin (minimum fp+fn cost,
    tie → more bands) is an integer comparison. All arithmetic is a
    few hundred expression rows — model-sized by construction; at
    any corpus scale this is a planning no-op.

    Output: (bands, rows_per_band, fp_weight, fn_weight, chosen).
    """
    from pyspark.sql import functions as F

    from nass_summary_spark.functions.smalldf import local_struct_df

    cands = [
        (b, num_perm // b)
        for b in range(1, num_perm + 1)
        if num_perm % b == 0
    ]
    cand_df = local_struct_df(
        spark,
        "bands bigint, rows_per_band bigint",
        cands,
    )
    pts = cand_df.select(
        "bands",
        "rows_per_band",
        F.explode(F.sequence(F.lit(0), F.lit(grid - 1))).alias("i"),
    )
    s = (F.col("i").cast("double") + F.lit(0.5)) / F.lit(float(grid))
    p = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(s, F.col("rows_per_band").cast("double")),
        F.col("bands").cast("double"),
    )
    q = F.floor(p * F.lit(float(scale)) + F.lit(0.5)).cast("bigint")
    below = s < F.lit(float(threshold))
    agg = pts.select(
        "bands", "rows_per_band",
        F.when(below, q).otherwise(F.lit(0)).alias("fp_q"),
        F.when(~below, F.lit(scale) - q).otherwise(F.lit(0)).alias("fn_q"),
    ).groupBy("bands", "rows_per_band").agg(
        F.sum("fp_q").alias("fp_q"), F.sum("fn_q").alias("fn_q")
    )
    w = F.col("fp_q") + F.col("fn_q")
    from pyspark.sql import Window

    best = Window.orderBy(w.asc(), F.col("bands").desc())
    return (
        agg.withColumn("__rk", F.row_number().over(best))
        .select(
            "bands", "rows_per_band",
            F.round(
                F.col("fp_q").cast("double") / F.lit(float(scale * grid)), 6
            ).alias("fp_weight"),
            F.round(
                F.col("fn_q").cast("double") / F.lit(float(scale * grid)), 6
            ).alias("fn_weight"),
            (F.col("__rk") == 1).alias("chosen"),
        )
    )


#: Prefix-group size past which the lossless (uncapped) join warns:
#: a single prefix token shared by g sets contributes up to C(g,2)
#: candidate pairs, so one 10^4-set group is ~5*10^7 candidates — on
#: a copy-exploded corpus that is the quadratic blowup SCALING.md
#: r9s2 measured. Module-level so tests (and operators) can tune it.
PREFIX_GROUP_WARN_THRESHOLD = 10_000


class PrefixGroupSkewWarning(UserWarning):
    """An uncapped prefix_filter_join met a prefix group large
    enough to make the candidate join quadratic (see
    PREFIX_GROUP_WARN_THRESHOLD). Remedies: run exact/URL dedup
    first, or pass ``max_prefix_group`` to cap the group (bounded
    cost, documented losslessness trade)."""


class _CacheHandle:
    """Releases the relations an operator persisted (the prefix-filter
    join here, the incremental MinHash probe in ``dedup_index``); the
    returned DataFrame still references them, so the operator can't
    unpersist them itself — callers that materialize the output (the
    streaming foreachBatch) call :meth:`unpersist` afterwards
    (long-lived sessions otherwise accumulate one cached relation
    pair per call). Non-blocking, like ``DataFrame.unpersist()``."""

    def __init__(self, *dfs: DataFrame) -> None:
        self._dfs = dfs

    def unpersist(self) -> None:
        for df in self._dfs:
            df.unpersist()


def prefix_filter_join(
    tokens: DataFrame,
    id_col: str,
    token_col: str,
    threshold: float,
    round_to: int = 6,
    max_prefix_group: int | None = None,
) -> DataFrame:
    """:func:`prefix_filter_join_with_handle` without the cache
    handle — one-shot callers (the demo query, notebooks). Repeated
    callers in a long-lived session should use the handle variant
    and unpersist after their final action."""
    out, _handle = prefix_filter_join_with_handle(
        tokens,
        id_col,
        token_col,
        threshold,
        round_to=round_to,
        max_prefix_group=max_prefix_group,
    )
    return out


def prefix_filter_join_with_handle(
    tokens: DataFrame,
    id_col: str,
    token_col: str,
    threshold: float,
    round_to: int = 6,
    max_prefix_group: int | None = None,
) -> "tuple[DataFrame, _CacheHandle]":
    """Jaccard-threshold set-similarity join with PREFIX FILTERING
    (the PPJoin/AllPairs principle, Bayardo et al. 2007 / Xiao et
    al. 2008) — the LOSSLESS alternative to MinHash banding (B3):
    banding is probabilistic (a true pair can miss every band);
    prefix filtering is exact — if ``J(A,B) >= t`` the two sets MUST
    share a token within their first ``|S| - ceil(t*|S|) + 1``
    tokens under any single global token order. Candidates generated
    from prefixes only, then verified with the exact Jaccard.

    Ordering by ascending global frequency (rarest first, token
    tie-break) makes prefixes collide as rarely as possible — the
    standard trick that turns the quadratic common-token join into a
    near-linear one (a stopword shared by every document never
    enters a prefix unless a set is nearly all stopwords). Scale
    shape: one combinable token-frequency aggregation; per-SET
    windows (bounded by set size, never corpus size) pick prefixes;
    the candidate join runs over the prefix relation only;
    verification joins the full token lists for candidate pairs
    alone. Everything is deterministic integer arithmetic — and the
    demo oracle is the BRUTE-FORCE all-pairs Jaccard, so a gate pass
    certifies losslessness, not just plausibility.

    ``tokens``: a (id, token) relation, distinct per pair.
    Output: ``id_a, id_b, n_a, n_b, inter, jac`` for pairs with
    ``jac >= threshold``.

    ``max_prefix_group``: optional cap on how many sets may share
    one prefix token before that token stops generating candidates —
    the link_prediction hub-cap analog for COPY-EXPLODED corpora
    (SCALING.md r9s2: a corpus that is mostly mutual near-dups has
    quadratic TRUE output, and its hottest prefix tokens drive the
    blowup). With a cap the join is lossless only for pairs whose
    prefixes contain at least one sub-cap token; pairs detectable
    solely through capped tokens are dropped — the deliberate,
    bounded-cost trade (run exact/URL dedup first if those pairs
    matter). Default None = strictly lossless.
    """
    # the token relation feeds four branches (frequency table, rank
    # join, and both verification sides) and is usually an explode
    # pipeline — persist it or every branch replays the explode
    # against the source (measured 25 parquet scans unpersisted).
    # Materialize the cache EAGERLY: the first action's plan carries
    # several broadcast subqueries over `tokens`, and concurrent
    # broadcast-future jobs racing on a not-yet-materialized cache
    # each recompute the upstream explode (profiled: three
    # simultaneous full tokenize jobs). One count() runs it once;
    # every later branch reads the cache.
    tokens = tokens.persist()
    tokens.count()
    freq = tokens.groupBy(token_col).agg(
        F.count(F.lit(1)).alias("__tf")
    )
    tf = tokens.join(freq, token_col)
    sizes = tokens.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    order = Window.partitionBy(id_col).orderBy(
        F.col("__tf").asc(), F.col(token_col).asc()
    )
    ranked = tf.select(
        id_col,
        token_col,
        F.row_number().over(order).alias("__pos"),
    ).join(sizes, id_col)
    # prefix length |S| - ceil(t|S|) + 1; ceil via integer arithmetic
    # so both engines agree at every set size (no float ceil)
    t_num, t_den = _threshold_ratio(threshold)
    # double division + floor (not integer div) so the oracle's
    # FLOOR(x / 1000000.0) is the literally identical expression;
    # n * t_num stays far below 2^53, so the double floor is exact
    ceil_tn = F.floor(
        (F.col("__n") * F.lit(t_num) + F.lit(t_den - 1))
        / F.lit(float(t_den))
    ).cast("bigint")
    # both sides of the candidate self-join read this relation
    prefix = ranked.where(
        F.col("__pos") <= F.col("__n") - ceil_tn + F.lit(1)
    ).select(id_col, token_col).persist()
    # Guardrail: the prefix-group profile is a vocabulary-sized
    # aggregation over the (persisted, reused) prefix relation, so
    # auditing it is cheap relative to the candidate join it
    # predicts. Uncapped + a hot group → loud warning (the quadratic
    # regime); capped → surface what the cap dropped as a metric.
    pf = prefix.groupBy(token_col).agg(
        F.count(F.lit(1)).alias("__pg")
    )
    if max_prefix_group is None:
        warn_at = int(PREFIX_GROUP_WARN_THRESHOLD)
        hot = pf.where(F.col("__pg") > F.lit(warn_at)).agg(
            F.count(F.lit(1)).alias("n_hot"),
            F.max("__pg").alias("max_pg"),
        ).first()
        if hot is not None and hot["n_hot"]:
            warnings.warn(
                "prefix_filter_join (lossless mode): "
                f"{hot['n_hot']} prefix group(s) exceed "
                f"{warn_at} sets (largest {hot['max_pg']}); the "
                "candidate join is quadratic in those groups. Run "
                "exact dedup first or pass max_prefix_group.",
                PrefixGroupSkewWarning,
                stacklevel=3,
            )
    else:
        cap = int(max_prefix_group)
        dropped = pf.where(F.col("__pg") > F.lit(cap)).agg(
            F.count(F.lit(1)).alias("n_capped"),
            F.sum(
                F.col("__pg") * (F.col("__pg") - F.lit(1)) / F.lit(2)
            ).cast("bigint").alias("pair_bound"),
        ).first()
        if dropped is not None and dropped["n_capped"]:
            _LOG.warning(
                "prefix_filter_join: max_prefix_group=%d capped %d "
                "token group(s); <=%d candidate pairs were only "
                "reachable through capped tokens (pairs with a "
                "sub-cap prefix token are still found).",
                cap,
                dropped["n_capped"],
                dropped["pair_bound"],
            )
        # no broadcast hint: the prefix-token frequency relation is
        # vocabulary-sized — let AQE pick the strategy
        prefix = (
            prefix.join(pf, token_col)
            .where(F.col("__pg") <= F.lit(cap))
            .select(id_col, token_col)
        )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col(f"a.{token_col}") == F.col(f"b.{token_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    ta = tokens.select(
        F.col(id_col).alias("id_a"), F.col(token_col).alias("__t")
    )
    tb = tokens.select(
        F.col(id_col).alias("id_b"), F.col(token_col).alias("__t")
    )
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "__t"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    sa = sizes.select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("n_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("__n").alias("n_b")
    )
    scored = inter.join(sa, "id_a").join(sb, "id_b")
    union = F.col("n_a") + F.col("n_b") - F.col("inter")
    jac = F.col("inter").cast("double") / union.cast("double")
    # threshold on the exact integer ratio (inter*den >= num*union),
    # never the rounded double
    keep = F.col("inter") * F.lit(t_den) >= F.lit(t_num) * union
    out = (
        scored.where(keep)
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            "inter",
            F.round(jac, round_to).alias("jac"),
        )
        .orderBy("id_a", "id_b")
    )
    return out, _CacheHandle(tokens, prefix)


def _threshold_ratio(threshold: float) -> tuple[int, int]:
    """The Jaccard threshold as an exact integer ratio (micro-unit
    denominator), so prefix lengths and the keep predicate are pure
    integer arithmetic on both engines."""
    den = 1_000_000
    num = int(round(threshold * den))
    if not 0 < num <= den:
        raise ValueError(f"threshold out of (0, 1]: {threshold}")
    return num, den
