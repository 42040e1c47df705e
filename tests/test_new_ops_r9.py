"""r9 additions: perceptual-hash image dedup (operators/phash.py),
audio signal features (operators/audio.py), and the r8-ADVICE
hardening (versioned-commit race, neighborhood window guard)."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from nass_summary_spark.operators.audio import (
    RMS_SCALE,
    audio_features_batch,
    synthesize_wav_pcm_blobs,
)
from nass_summary_spark.operators.phash import (
    GRID_H,
    GRID_W,
    dhash_batch,
    neardup_pairs_dhash,
    synthesize_bmp_pattern_blobs,
)
from tests.conftest import await_stream


def _ids(spark, n):
    return spark.range(n).select(F.col("id").alias("doc_id"))


# ---------------------------------------------------------------------------
# phash — independent closed-form replay
# ---------------------------------------------------------------------------

def _fixture_gray(i: int, x: int, y: int) -> int:
    import hashlib

    hbits = int(hashlib.md5(str(i // 6).encode()).hexdigest()[:15], 16)
    v = 200 if (hbits >> (((x // 2) + 8 * y) % 59)) & 1 else 50
    if x == 2 * (i % 8) and y == (i * 3) % 8:
        v = 170
    return v + i % 3


def _expected_dhash(i: int) -> int:
    """Pure-python replay of the pattern fixture → dHash, sharing no
    code with either the synthesizer or the decoder."""
    w, h = 16, 8
    g = [
        [
            _fixture_gray(i, (xx * w) // GRID_W, (yy * h) // GRID_H)
            for xx in range(GRID_W)
        ]
        for yy in range(GRID_H)
    ]
    bits = 0
    for y in range(GRID_H):
        for x in range(GRID_W - 1):
            if g[y][x + 1] > g[y][x]:
                bits |= 1 << (y * (GRID_W - 1) + x)
    return bits


def test_dhash_matches_closed_form(spark):
    blobs = synthesize_bmp_pattern_blobs(_ids(spark, 24), "doc_id")
    got = {
        r["item_id"]: r["dhash"]
        for r in dhash_batch(blobs, "item_id", "blob").collect()
    }
    assert got == {i: _expected_dhash(i) for i in range(24)}


def test_neardup_pairs_match_bruteforce(spark):
    """The banded+verified pair set must equal the brute-force
    (banding-constrained) replay over the expected hashes, and every
    within-group perturbed copy must be caught."""
    n, n_bands, band_bits, max_dist = 24, 4, 14, 4
    hashes = {i: _expected_dhash(i) for i in range(n)}

    def bands(hv):
        return [(b, (hv >> (b * band_bits)) & ((1 << band_bits) - 1))
                for b in range(n_bands)]

    expected = set()
    for a in range(n):
        for b in range(a + 1, n):
            share = set(bands(hashes[a])) & set(bands(hashes[b]))
            ham = bin(hashes[a] ^ hashes[b]).count("1")
            if share and ham <= max_dist:
                expected.add((a, b, ham))

    blobs = synthesize_bmp_pattern_blobs(_ids(spark, n), "doc_id")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in neardup_pairs_dhash(
            dhash_batch(blobs, "item_id", "blob"),
            n_bands=n_bands, band_bits=band_bits, max_dist=max_dist,
        ).collect()
    }
    assert got == expected
    # the fixture's point: same-group members are brightness-shifted
    # + pixel-perturbed copies of one picture — byte-distinct blobs,
    # so byte-exact dedup sees nothing; dHash pairs ALL of them
    within = {
        (a, b) for a in range(n) for b in range(a + 1, n) if a // 6 == b // 6
    }
    assert {(a, b) for (a, b, _) in expected} >= within
    # and no cross-group pair sneaks under the verify threshold
    assert all(a // 6 == b // 6 for (a, b, _) in expected)


def test_reencoded_copy_is_caught(spark):
    """A PNG re-encode of the same pixels hashes IDENTICALLY to the
    BMP (dHash is codec-invariant) — the planted re-encoded near-dup
    byte-exact dedup can never catch."""
    import struct
    import zlib

    # image 0's pixel grid, re-encoded as an RGB PNG by independent
    # code (8-bit, filter 0 rows)
    w, h = 16, 8
    raw = b"".join(
        b"\x00" + bytes(
            v for x in range(w) for v in [_fixture_gray(0, x, y)] * 3
        )
        for y in range(h)
    )

    def chunk(tag, data):
        c = tag + data
        return struct.pack(">I", len(data)) + c + struct.pack(
            ">I", zlib.crc32(c)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    bmp_blob = synthesize_bmp_pattern_blobs(_ids(spark, 1), "doc_id")
    df = bmp_blob.unionByName(
        spark.createDataFrame(
            [(1000, bytearray(png))], "item_id bigint, blob binary"
        )
    )
    hashes = dhash_batch(df, "item_id", "blob")
    pairs = neardup_pairs_dhash(hashes, max_dist=4).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [
        (0, 1000, 0)
    ]


def test_dhash_null_for_undecodable(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"not an image"))], "item_id bigint, blob binary"
    )
    rows = dhash_batch(df, "item_id", "blob").collect()
    assert rows[0]["dhash"] is None


def test_dhash_rejects_oversized_grid(spark):
    df = _ids(spark, 1)
    with pytest.raises(ValueError, match="positive BIGINT"):
        dhash_batch(df, "doc_id", "doc_id", grid_w=9, grid_h=8)


# ---------------------------------------------------------------------------
# audio — independent closed-form replay
# ---------------------------------------------------------------------------

def _expected_audio(i: int) -> dict:
    frames = 160 + i % 48
    s = [((31 * i + 7 * k * k + 13 * k) % 4093) - 2046 for k in range(frames)]
    zc = sum(1 for a, b in zip(s, s[1:]) if (a < 0) != (b < 0))
    sumsq = sum(v * v for v in s)
    return {
        "sample_rate": 8000 + (i % 5) * 1000,
        "n_samples": frames,
        "peak": max(abs(v) for v in s),
        "zero_crossings": zc,
        "rms_q": math.floor(math.sqrt(sumsq / frames) * RMS_SCALE + 0.5),
        "diff_energy": sum((b - a) ** 2 for a, b in zip(s, s[1:])),
    }


def test_audio_features_match_closed_form(spark):
    blobs = synthesize_wav_pcm_blobs(_ids(spark, 40), "doc_id")
    rows = audio_features_batch(blobs, "item_id", "blob").collect()
    assert len(rows) == 40
    for r in rows:
        exp = _expected_audio(r["item_id"])
        for k, v in exp.items():
            assert r[k] == v, (r["item_id"], k, r[k], v)


def test_audio_features_stereo_mixdown(spark):
    """Interleaved 2-channel PCM analyzes the per-frame channel SUM."""
    samples = [(100, -50), (-30, -40), (10, 20), (-5, 5)]  # sums: 50,-70,30,0
    data = b"".join(struct.pack("<hh", a, b) for a, b in samples)
    blob = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    df = spark.createDataFrame([(7, bytearray(blob))], "item_id bigint, blob binary")
    r = audio_features_batch(df, "item_id", "blob").collect()[0]
    mix = [50, -70, 30, 0]
    assert r["n_samples"] == 4
    assert r["peak"] == 70
    # signs: + - + +(0 counts non-negative) → crossings at 1,2
    assert r["zero_crossings"] == 2
    assert r["diff_energy"] == sum(
        (b - a) ** 2 for a, b in zip(mix, mix[1:])
    )
    assert r["rms_q"] == math.floor(
        math.sqrt(sum(v * v for v in mix) / 4) * RMS_SCALE + 0.5
    )


def test_audio_features_null_for_garbage(spark):
    df = spark.createDataFrame(
        [(3, bytearray(b"RIFFxxxxWAVEno chunks here"))],
        "item_id bigint, blob binary",
    )
    r = audio_features_batch(df, "item_id", "blob").collect()[0]
    assert r["rms_q"] is None and r["n_samples"] is None


# ---------------------------------------------------------------------------
# r8-ADVICE hardening
# ---------------------------------------------------------------------------

def test_versioned_commit_survives_version_race(tmp_path):
    """A writer that loses the create-exclusive race must NOT clobber
    the winner — it retries onto the next free version (the r8-ADVICE
    TOCTOU: os.rename would silently replace)."""
    import os

    from nass_summary_spark.sources.readers import (
        manifest_commit_versioned,
    )

    d = str(tmp_path / "lake")
    v1 = manifest_commit_versioned(d, ["a.parquet"])
    # simulate the race: another writer already published v1+1
    os.makedirs(f"{d}/commits", exist_ok=True)
    with open(f"{d}/commits/{v1 + 1:06d}.txt", "w") as fh:
        fh.write("rival.parquet\n")
    v2 = manifest_commit_versioned(d, ["b.parquet"])
    assert v2 == v1 + 2  # skipped the claimed slot instead of clobbering
    with open(f"{d}/commits/{v1 + 1:06d}.txt") as fh:
        assert fh.read() == "rival.parquet\n"  # rival commit intact
    with open(f"{d}/commits/{v2:06d}.txt") as fh:
        assert fh.read() == "b.parquet\n"
    # no inflight temp files left behind
    assert not [p for p in os.listdir(f"{d}/commits") if p.endswith(".tmp")]


def test_sorted_neighborhood_rejects_window_one(spark):
    from nass_summary_spark.operators.neighborhood import (
        sorted_neighborhood_pairs,
    )

    df = _ids(spark, 5).select(F.col("doc_id").alias("id"))
    with pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(df, "id", ["id"], window=1)


# ---------------------------------------------------------------------------
# trained language-id (langid_train / langid_eval)
# ---------------------------------------------------------------------------

def test_char_ngrams_linear_device(spark):
    from nass_summary_spark.functions.text import char_ngrams

    df = spark.createDataFrame(
        [("abcd",), ("ab",), ("",), ("héllo",)], "t string"
    )
    rows = df.select(char_ngrams("t", 3).alias("g")).collect()
    assert rows[0]["g"] == ["abc", "bcd"]
    assert rows[1]["g"] == []
    assert rows[2]["g"] == []
    assert rows[3]["g"] == ["hél", "éll", "llo"]  # character-based


def test_trained_langid_agrees_with_heuristic(spark, sf_dir):
    """On the marker fixture the TRAINED gate must reproduce the B8
    stopword heuristic's target-language call: langid_best sees the
    marker stopwords, the trained model learns their trigrams — both
    must flag exactly the lang=='es' docs (the upgrade path VERDICT
    r8 item 3 asked for: same decisions where the heuristic works,
    plus a certified eval harness the heuristic lacks)."""
    from nass_summary_spark.functions.text import langid_best
    from nass_summary_spark.operators.classifier import (
        TRAIN_SCALE,
        hashed_char_features,
        logreg_train,
        score_documents_weighted,
        trained_bias,
    )
    from nass_summary_spark.plans.queries import _langid_marked_docs

    docs = _langid_marked_docs(spark, sf_dir).persist()
    w = logreg_train(
        docs, "doc_id", "text", "y", n_iter=5, lr=0.5,
        feats=hashed_char_features(docs, "doc_id", "text"),
    )
    scored = score_documents_weighted(
        docs, "doc_id", "text", w,
        denom=float(TRAIN_SCALE), bias=trained_bias(w),
        feats=hashed_char_features(docs, "doc_id", "text"),
    )
    trained = {r["id"]: bool(r["keep"]) for r in scored.collect()}
    heur = {
        r["doc_id"]: r["h"] == "es"
        for r in docs.select(
            "doc_id", langid_best("text").alias("h")
        ).collect()
    }
    truth = {r["doc_id"]: r["y"] == 1 for r in docs.select("doc_id", "y").collect()}
    docs.unpersist()
    n = len(truth)
    trained_acc = sum(trained[i] == truth[i] for i in truth) / n
    heur_acc = sum(heur[i] == truth[i] for i in truth) / n
    # markers are drawn from LANG_STOPWORDS, so the heuristic is
    # strong here; the trained gate must be at least as accurate
    assert heur_acc >= 0.9
    assert trained_acc >= heur_acc


# ---------------------------------------------------------------------------
# sketch-table consolidation (VERDICT r8 item 5: maintenance for the
# accreting C28 lifecycle)
# ---------------------------------------------------------------------------

def test_sketch_consolidation_preserves_rollup(spark, sf_dir, tmp_path):
    """Folding the accreted per-batch HLL shards into one generation
    must leave every rollup estimate AND row count identical (HLL
    union law + n_rows re-sum), drop the directory count, and keep
    later batches merging on top exactly as before."""
    import glob

    from nass_summary_spark.operators.distinct_sketch import (
        build_distinct_sketches,
    )
    from nass_summary_spark.streaming.sketch_stream import (
        consolidate_stream_sketches,
        rollup_stream_sketches,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sk = str(tmp_path / "sketches")
    # accrete 5 micro-batch shard generations
    for b in range(5):
        shard = build_distinct_sketches(
            docs.where(F.col("doc_id") % 5 == b), ["source"], "doc_id"
        )
        shard.write.mode("overwrite").parquet(f"{sk}/batch_id={b}")

    def snap():
        return {
            (r["source"]): (r["n_rows"], r["est_distinct"])
            for r in rollup_stream_sketches(spark, sk, ["source"]).collect()
        }

    before = snap()
    dirs_before = len(glob.glob(f"{sk}/batch_id=*"))
    report = consolidate_stream_sketches(spark, sk, ["source"], up_to_batch=3)
    assert report["batches_merged"] == 4
    dirs_after = len(glob.glob(f"{sk}/batch_id=*"))
    assert dirs_after == 2  # consolidated(3) + live(4)
    assert dirs_after < dirs_before
    assert snap() == before  # estimates AND n_rows identical
    # a later batch keeps extending the consolidated table unchanged
    build_distinct_sketches(
        docs.limit(0), ["source"], "doc_id"
    )  # no-op guard: empty build still schema-compatible
    shard5 = build_distinct_sketches(
        docs.where(F.col("doc_id") % 7 == 0), ["source"], "doc_id"
    )
    shard5.write.mode("overwrite").parquet(f"{sk}/batch_id=5")
    grown = rollup_stream_sketches(spark, sk, ["source"]).collect()
    assert all(r["n_sketches"] >= 2 for r in grown)
    # idempotent re-run over an already-consolidated horizon: no-op
    report2 = consolidate_stream_sketches(
        spark, sk, ["source"], up_to_batch=3
    )
    assert report2["batches_merged"] == 1 and report2["groups"] == 0


def test_sketch_consolidation_check_failure_cleans_up(
    spark, sf_dir, tmp_path, lossy_rewrite_session
):
    """A merged rewrite that fails the group-count check must raise,
    remove its staged ``__consolidating_batch_id_N`` directory, and
    leave every shard directory and rollup exactly as before."""
    import os

    from nass_summary_spark.operators.distinct_sketch import (
        build_distinct_sketches,
    )
    from nass_summary_spark.streaming.sketch_stream import (
        consolidate_stream_sketches,
        rollup_stream_sketches,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sk = str(tmp_path / "sketches")
    for b in range(3):
        build_distinct_sketches(
            docs.where(F.col("doc_id") % 3 == b), ["source"], "doc_id"
        ).write.mode("overwrite").parquet(f"{sk}/batch_id={b}")

    def snap():
        return sorted(
            (r["source"], r["n_rows"], r["est_distinct"])
            for r in rollup_stream_sketches(spark, sk, ["source"]).collect()
        )

    before = snap()
    assert len(before) > 1  # a one-row rewrite must fail the check
    with pytest.raises(RuntimeError, match="groups"):
        consolidate_stream_sketches(
            lossy_rewrite_session("__consolidating"), sk, ["source"],
            up_to_batch=2,
        )
    assert sorted(os.listdir(sk)) == [f"batch_id={b}" for b in range(3)]
    assert snap() == before


def _three_sketch_shards(spark, sf_dir, sk):
    from nass_summary_spark.operators.distinct_sketch import (
        build_distinct_sketches,
    )
    from nass_summary_spark.streaming.sink import write_shard

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for b in range(3):
        write_shard(
            build_distinct_sketches(
                docs.where(F.col("doc_id") % 3 == b), ["source"], "doc_id"
            ),
            sk,
            b,
        )


def test_sketch_consolidation_on_file_uri_merges_all_shards(
    spark, sf_dir, tmp_path
):
    """The shard listing goes through the table's Hadoop filesystem:
    a ``file://`` sketch table (like an ``hdfs://`` or ``s3a://`` one)
    consolidates all of its shards, with the rollup unchanged."""
    import os

    from nass_summary_spark.streaming.sketch_stream import (
        consolidate_stream_sketches,
        rollup_stream_sketches,
    )

    sk = str(tmp_path / "sketches")
    _three_sketch_shards(spark, sf_dir, sk)
    uri = f"file://{sk}"

    def snap():
        return sorted(
            (r["source"], r["n_rows"], r["est_distinct"])
            for r in rollup_stream_sketches(spark, uri, ["source"]).collect()
        )

    before = snap()
    report = consolidate_stream_sketches(spark, uri, ["source"], up_to_batch=2)
    assert report["batches_merged"] == 3 and report["groups"] == len(before)
    assert sorted(os.listdir(sk)) == ["batch_id=2"]
    assert snap() == before


def test_sketch_consolidation_rejects_unknown_up_to_batch(
    spark, sf_dir, tmp_path
):
    """An ``up_to_batch`` that names no shard is refused before any
    write: no staging directory, every shard untouched."""
    import os

    from nass_summary_spark.streaming.sketch_stream import (
        consolidate_stream_sketches,
    )

    sk = str(tmp_path / "sketches")
    _three_sketch_shards(spark, sf_dir, sk)
    with pytest.raises(ValueError, match="up_to_batch=7"):
        consolidate_stream_sketches(spark, sk, ["source"], up_to_batch=7)
    assert sorted(os.listdir(sk)) == [f"batch_id={b}" for b in range(3)]


# ---------------------------------------------------------------------------
# mergeable log-histogram quantile sketch
# ---------------------------------------------------------------------------

def test_log_histogram_merge_law_and_bound(spark, sf_dir, tmp_path):
    """Shard histograms persisted as parquet must merge (by ADDITION)
    to exactly the from-scratch global histogram, and the
    rank-interpolated estimates must respect the 1/8-bucket error
    bound against the true quantiles."""
    from nass_summary_spark.operators.quantile_sketch import (
        build_log_histogram,
        histogram_quantiles,
        merge_log_histograms,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # persisted per-shard sketches (4 generations, the C28 posture)
    shards = build_log_histogram(
        docs, ["source"], "n_chars", shard=F.col("doc_id") % 4
    )
    p = str(tmp_path / "qsketch")
    shards.write.mode("overwrite").partitionBy("__shard").parquet(p)
    merged = merge_log_histograms(
        spark.read.parquet(p).drop("__shard"), ["source"]
    )
    direct = build_log_histogram(docs, ["source"], "n_chars")
    assert (
        sorted(map(tuple, merged.collect()))
        == sorted(map(tuple, direct.collect()))
    )
    ests = histogram_quantiles(merged, ["source"], [50, 90, 99]).collect()
    exact = {
        (r["source"], pct): r[f"e{pct}"]
        for pct in (50, 90, 99)
        for r in docs.where(F.col("n_chars") >= 1)
        .groupBy("source")
        .agg(
            *[
                F.expr(f"percentile(n_chars, {pct / 100})").alias(f"e{pct}")
                for pct in (50, 90, 99)
            ]
        )
        .collect()
    }
    assert len(ests) == len(exact)
    for r in ests:
        true = exact[(r["source"], r["pct"])]
        assert abs(r["est"] - true) / true <= 0.125 + 1e-9, (
            r["source"], r["pct"], r["est"], true,
        )


def test_log_histogram_excludes_nonpositive(spark):
    from nass_summary_spark.operators.quantile_sketch import (
        build_log_histogram,
    )

    df = spark.createDataFrame(
        [("a", -5), ("a", 0), ("a", 1), ("a", 7)], "g string, v long"
    )
    rows = build_log_histogram(df, ["g"], "v").collect()
    assert sum(r["cnt"] for r in rows) == 2  # only v=1 and v=7
    # v=1: k=0,p=1,sub=0 -> bucket 0; v=7: k=2,p=4,sub=(3*8)//4=6 -> 22
    assert {r["bucket"] for r in rows} == {0, 22}


# ---------------------------------------------------------------------------
# C29: the trained langid gate deployed on a stream
# ---------------------------------------------------------------------------

def test_langid_gate_stream_matches_batch_scorer(
    spark, sf_dir, tmp_path_factory
):
    """The langid stream gate (char-gram LUT projection) must be
    row-identical to the aggregated batch scorer with the same frozen
    weights, and its stream twin must equal the batch twin over a
    file stream — the C12b contract applied to the langid model."""
    from nass_summary_spark.operators.classifier import (
        TRAIN_SCALE,
        hashed_char_features,
        logreg_train,
        score_documents_weighted,
        trained_bias,
        trained_weights_map,
    )
    from nass_summary_spark.plans.queries import _langid_marked_docs
    from nass_summary_spark.streaming.langid import langid_gate

    docs = _langid_marked_docs(spark, sf_dir).persist()
    w = logreg_train(
        docs, "doc_id", "text", "y", n_iter=3, lr=0.5,
        feats=hashed_char_features(docs, "doc_id", "text"),
    )
    wmap = trained_weights_map(w)

    # (1) per-row char-gram LUT form == aggregated char-gram scorer
    gate = (
        langid_gate(docs, wmap, denom=float(TRAIN_SCALE), threshold=0.0)
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    agg = (
        score_documents_weighted(
            docs, "doc_id", "text", w,
            denom=float(TRAIN_SCALE), bias=trained_bias(w),
            feats=hashed_char_features(docs, "doc_id", "text"),
        )
        .select(
            "id", "n_feats", F.col("quality_prob").alias("lang_prob")
        )
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    assert gate.equals(agg[gate.columns])

    # (2) stream twin == batch twin over a file stream
    d = str(tmp_path_factory.mktemp("langid_stream"))
    plain = docs.select("doc_id", "text")
    plain.write.mode("overwrite").parquet(d)
    stream_in = spark.readStream.schema(plain.schema).parquet(d)
    q = (
        langid_gate(
            stream_in, wmap, denom=float(TRAIN_SCALE), threshold=0.5
        )
        .writeStream.format("memory")
        .queryName("langid_gate_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = (
        spark.table("langid_gate_t")
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    want = (
        langid_gate(plain, wmap, denom=float(TRAIN_SCALE), threshold=0.5)
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    docs.unpersist()
    assert len(want) > 0
    assert got[want.columns].equals(want)


# ---------------------------------------------------------------------------
# audio near-dup (acoustic fingerprint + the shared banding machinery)
# ---------------------------------------------------------------------------

def test_audio_fingerprint_invariances(spark):
    """The diff-sign fingerprint must be invariant to positive gain
    and (on the step fixture) to duration — the two 'copies' a
    byte-exact dedup can never catch — and NULL for garbage."""
    from nass_summary_spark.operators.audio import (
        audio_fingerprint_batch,
        synthesize_wav_group_blobs,
    )

    # ids 0..5 are one group at four durations and three gains; with
    # distinct click positions their fingerprints differ by <= 4 bits
    blobs = synthesize_wav_group_blobs(_ids(spark, 6), "doc_id")
    fps = {
        r["item_id"]: r["afp"]
        for r in audio_fingerprint_batch(blobs, "item_id", "blob").collect()
    }
    assert all(v is not None for v in fps.values())
    for a in range(6):
        for b in range(a + 1, 6):
            assert bin(fps[a] ^ fps[b]).count("1") <= 4, (a, b)
    bad = spark.createDataFrame(
        [(9, bytearray(b"RIFF????WAVEgarbage"))],
        "item_id bigint, blob binary",
    )
    rows = audio_fingerprint_batch(bad, "item_id", "blob").collect()
    assert rows[0]["afp"] is None


def test_audio_neardup_groups_recovered(spark):
    """Every within-group pair must be caught; cross-group pairs only
    at the replayed boundary distance (>= 4 bits apart)."""
    from nass_summary_spark.operators.audio import (
        audio_fingerprint_batch,
        synthesize_wav_group_blobs,
    )
    from nass_summary_spark.operators.phash import neardup_pairs_dhash

    n = 30
    blobs = synthesize_wav_group_blobs(_ids(spark, n), "doc_id")
    fps = audio_fingerprint_batch(blobs, "item_id", "blob")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in neardup_pairs_dhash(
            fps, hash_col="afp", n_bands=4, band_bits=14, max_dist=4
        ).collect()
    }
    within = {
        (a, b) for a in range(n) for b in range(a + 1, n) if a // 6 == b // 6
    }
    assert pairs >= within
