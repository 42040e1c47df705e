"""Streaming stages: run each stage as a stream over the real events
data via a file source and check parity with the same function (or,
for the two stages that keep a ``*_batch``/``*_stream`` pair, its
batch twin) over the static frame."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nass_summary_spark.streaming.events import (
    sessionize_batch,
    sessionize_stream,
    stream_dedup,
    windowed_agg,
)
from nass_summary_spark.streaming.sink import read_shards
from tests.conftest import await_stream


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    from nass_summary_spark.plans.queries import _t

    return _t(spark, sf_dir, "events").cache()


@pytest.fixture(scope="module")
def events_dir(spark, events_batch, tmp_path_factory):
    """Re-materialize events as a µs-timestamp parquet dir that the
    streaming file source can read directly."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    events_batch.write.mode("overwrite").parquet(path)
    return path


def _run_stream(spark, sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    return spark.table(name)


def test_windowed_agg_stream_matches_batch(spark, events_batch, events_dir):
    schema = events_batch.schema
    stream_in = spark.readStream.schema(schema).parquet(events_dir)
    got = _run_stream(
        spark, windowed_agg(stream_in, "1 hour", watermark="10 hours"), "win_t"
    ).toPandas()
    want = windowed_agg(events_batch, "1 hour").toPandas()
    key = ["window_start", "event_type"]
    got = got.sort_values(key, ignore_index=True)[want.columns]
    want = want.sort_values(key, ignore_index=True)
    assert got.equals(want)


def test_sessionize_stream_matches_batch(spark, events_batch, events_dir):
    schema = events_batch.schema
    stream_in = spark.readStream.schema(schema).parquet(events_dir)
    got = _run_stream(
        spark,
        sessionize_stream(stream_in, gap_minutes=30, watermark="100 days"),
        "sess_t",
    ).toPandas()
    want = sessionize_batch(events_batch, gap_minutes=30).toPandas()
    # session_window's end = last event + gap; align on start instead
    key = ["user_id", "session_start"]
    got = got.sort_values(key, ignore_index=True)
    want = want.sort_values(key, ignore_index=True)
    assert len(got) == len(want)
    assert got["n_events"].tolist() == want["n_events"].tolist()
    assert got["sum_value"].tolist() == want["sum_value"].tolist()


def test_dynamic_sessions_native_stream_matches_batch(
    spark, events_batch, events_dir
):
    """C18's NATIVE session_window(ts, gap_expr) form runs unchanged
    as a stream (the reason it exists beside the SQL-replayable
    islands form): streamed sessions in complete mode must equal the
    batch operator row-for-row."""
    from nass_summary_spark.operators.behavior import (
        dynamic_gap_sessions_native,
    )
    from nass_summary_spark.streaming.events import ensure_event_time

    gap = F.when(
        F.col("event_type") == "purchase", F.lit("2 minutes")
    ).otherwise(F.lit("30 minutes"))
    schema = events_batch.schema
    stream_in = ensure_event_time(
        spark.readStream.schema(schema).parquet(events_dir)
    ).withWatermark("ts", "100 days")
    got = _run_stream(
        spark,
        dynamic_gap_sessions_native(stream_in, "user_id", "ts", gap),
        "dynsess_t",
    ).toPandas()
    want = dynamic_gap_sessions_native(
        events_batch, "user_id", "ts", gap
    ).toPandas()
    key = ["user_id", "session_end_us"]
    got = got.sort_values(key, ignore_index=True)
    want = want.sort_values(key, ignore_index=True)
    assert len(got) == len(want)
    assert got["n_events"].tolist() == want["n_events"].tolist()
    assert got["session_end_us"].tolist() == want["session_end_us"].tolist()


def test_stream_dedup_streaming_mode(spark, events_batch, events_dir):
    dup_dir = events_dir  # single copy: dedup must be a no-op on unique ids
    schema = events_batch.schema
    stream_in = spark.readStream.schema(schema).parquet(dup_dir)
    deduped = stream_dedup(stream_in, id_col="event_id", watermark="100 days")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = spark.table("dedup_t").count()
    assert got == events_batch.select("event_id").distinct().count()


def test_stateful_running_user_stats(spark, events_batch, events_dir):
    """applyInPandasWithState twin: run the stream with update mode;
    the LAST emitted row per user must equal the batch aggregate."""
    from nass_summary_spark.streaming.stateful import running_user_stats

    schema = events_batch.schema
    stream_in = spark.readStream.schema(schema).parquet(events_dir)
    q = (
        running_user_stats(stream_in)
        .writeStream.format("memory")
        .queryName("stateful_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    import pandas as pd

    got = (
        spark.table("stateful_t")
        .toPandas()
        .groupby("user_id")
        .last()  # update mode may emit once per micro-batch; last wins
        .reset_index()
        .sort_values("user_id", ignore_index=True)
    )
    want = (
        running_user_stats(events_batch)
        .toPandas()
        .sort_values("user_id", ignore_index=True)
    )
    assert got["n_events"].tolist() == want["n_events"].tolist()
    assert got["sum_value"].tolist() == pytest.approx(want["sum_value"].tolist(), abs=1e-3)
    assert got["max_value"].tolist() == pytest.approx(want["max_value"].tolist())


def test_running_user_stats_evicts_idle_keys(spark, tmp_path_factory):
    """C5 bounded state: once the event-time watermark passes an idle
    user's last event by the eviction horizon, their state row is
    removed (a final row having been emitted) — state size tracks the
    ACTIVE key set, not every key ever seen."""
    import time as _time

    import pandas as pd

    from nass_summary_spark.streaming.stateful import running_user_stats

    base = str(tmp_path_factory.mktemp("evict"))
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def wave(rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(base)
        _time.sleep(0.05)  # distinct mtimes → deterministic file order

    # wave 1: five users at t0; wave 2/3: one late user 10h/20h on —
    # by wave 3 the watermark (30 min lag) is far past t0 + the 1h
    # eviction horizon, so users 1-5 must be timed out and removed.
    wave([(u, t0, 1.0) for u in range(1, 6)])
    wave([(99, t0 + pd.Timedelta(hours=10), 2.0)])
    wave([(99, t0 + pd.Timedelta(hours=20), 3.0)])

    stream_in = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    q = (
        running_user_stats(stream_in, watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("evict_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    progress = [p for p in q.recentProgress if p.get("stateOperators")]
    assert progress, "no state-operator progress recorded"
    final_state_rows = progress[-1]["stateOperators"][0]["numRowsTotal"]
    assert final_state_rows == 1  # only the still-active user 99 remains
    # the evicted users' final rows are still correct in the output
    got = (
        spark.table("evict_t")
        .toPandas()
        .groupby("user_id")
        .last()
        .reset_index()
        .sort_values("user_id", ignore_index=True)
    )
    assert got["user_id"].tolist() == [1, 2, 3, 4, 5, 99]
    assert got[got.user_id < 99]["n_events"].tolist() == [1] * 5
    assert int(got[got.user_id == 99]["n_events"].iloc[0]) == 2


def test_late_data_metrics_match_streaming_watermark_drops(
    spark, tmp_path_factory
):
    """The batch lateness operator must predict EXACTLY what the real
    streaming watermark drops: waves land as one file per arrival
    batch; a straggler whose 1-hour window closed under the 10-minute
    watermark is dropped (numRowsDroppedByWatermark), while a late
    row whose window is still open is admitted — the batch twin's
    (n_late, n_dropped) reproduces both."""
    import time as _time

    import pandas as pd

    from nass_summary_spark.streaming.events import (
        harvest_drop_metrics,
        late_data_metrics_batch,
    )

    base = str(tmp_path_factory.mktemp("late"))
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    waves = [
        [(1, t0 + pd.Timedelta(minutes=5), "click", 1.0)],
        # advances the high water mark past [0,1h) + delay...
        [(1, t0 + pd.Timedelta(hours=2), "click", 1.0)],
        # ...whose watermark takes effect (eviction) at THIS batch's
        # end — a straggler here would still merge (wm_lag=2)
        [(1, t0 + pd.Timedelta(hours=2, minutes=5), "click", 1.0)],
        # post-eviction straggler: window [0,1h) state is gone and
        # the engine's late filter is active → DROPPED
        [(2, t0 + pd.Timedelta(minutes=10), "click", 1.0)],
    ]
    rows = []
    for b, wave in enumerate(waves):
        pdf = pd.DataFrame(wave, columns=["user_id", "ts", "event_type", "value"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(base)
        _time.sleep(0.05)  # distinct mtimes → deterministic file order
        rows += [(b,) + r for r in wave]

    stream_in = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    q = (
        windowed_agg(stream_in, window="1 hour", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("late_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)

    batch_df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["b", "user_id", "ts", "event_type", "value"])
    )
    got = {
        r["arrival_batch"]: r
        for r in late_data_metrics_batch(
            batch_df, F.col("b"), ts_col="ts",
            delay_minutes=10, window_minutes=60, wm_lag=2,
        ).collect()
    }
    assert [got[b]["n_dropped"] for b in range(4)] == [0, 0, 0, 1]
    assert got[3]["n_late"] == 1
    assert got[3]["max_late_us"] == 115 * 60 * 1_000_000  # 2h05 − 10min

    # (1) METRIC parity: the engine's numRowsDroppedByWatermark per
    # batch equals the twin's n_dropped row-for-row
    drops = {m["batch_id"]: m["rows_dropped"] for m in harvest_drop_metrics(q)}
    assert [drops[b] for b in range(4)] == [
        int(got[b]["n_dropped"]) for b in range(4)
    ]
    # (2) DATA parity: the dropped straggler never reaches the
    # emitted counts — window [00,01) stays at 1 though the raw data
    # holds 2 rows there
    final = (
        spark.table("late_t")
        .toPandas()
        .groupby("window_start")
        .last()["n_events"]
    )
    assert final[pd.Timestamp("2024-01-01 00:00:00")] == 1


def test_enrich_join_stream_matches_batch(spark, events_batch, events_dir):
    from nass_summary_spark.streaming.events import enrich_join

    schema = events_batch.schema
    stream_in = spark.readStream.schema(schema).parquet(events_dir)
    got = _run_stream(spark, enrich_join(stream_in), "enrich_t").toPandas()
    want = enrich_join(events_batch).toPandas()
    got = got.sort_values("category", ignore_index=True)[want.columns]
    want = want.sort_values("category", ignore_index=True)
    assert got.equals(want)


def test_attribution_stream_matches_batch(spark, events_batch, events_dir):
    """Stream-stream join parity: the watermarked attribution join
    (append mode — stream-stream joins emit, they don't revise)
    produces exactly the batch join's pair set."""
    from nass_summary_spark.streaming.events import attribution_pairs

    schema = events_batch.schema
    stream_in = spark.readStream.schema(schema).parquet(events_dir)
    q = (
        attribution_pairs(stream_in, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("attr_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = spark.table("attr_t").toPandas()
    want = attribution_pairs(events_batch).toPandas()
    key = ["click_id", "purchase_id"]
    got = got.sort_values(key, ignore_index=True)[want.columns]
    want = want.sort_values(key, ignore_index=True)
    assert len(want) > 0
    assert got.equals(want)


def test_unattributed_clicks_stream_matches_batch(
    spark, events_batch, events_dir, tmp_path_factory
):
    """LEFT OUTER stream-stream join parity (C21): null-padded rows
    only emit once the purchase watermark passes the click's whole
    lookback window — and watermark effects lag the data that
    advanced them by a trigger or two, so the corpus is followed by
    two far-future sentinel waves (a real pipeline's heartbeat
    records) after which EVERY real click is finalized: the streamed
    set must equal the batch anti join exactly."""
    import time as _time

    import pandas as pd

    from nass_summary_spark.streaming.events import (
        unattributed_clicks_batch,
        unattributed_clicks_stream,
    )

    base = str(tmp_path_factory.mktemp("unattr_in"))
    # ONE data file first (multi-file arrival order interleaving old
    # clicks after the watermark advanced would drop them as late
    # input — an arrival-order artifact, not the semantics under
    # test), then the sentinel waves
    events_batch.coalesce(1).write.mode("overwrite").parquet(base)
    max_ts = pd.Timestamp(events_batch.agg(F.max("ts")).collect()[0][0])
    for i, hours in enumerate((10, 11, 12)):
        sentinel = events_batch.limit(1).select(
            F.lit(10_000_000 + i).cast("long").alias("event_id"),
            F.lit(max_ts + pd.Timedelta(hours=hours)).cast(
                events_batch.schema["ts"].dataType.simpleString()
            ).alias("ts"),
            *[
                F.col(f.name)
                for f in events_batch.schema.fields
                if f.name not in ("event_id", "ts")
            ],
        )
        # BOTH sides must advance: the join's global watermark is the
        # MIN of the click-side and purchase-side watermarks, and the
        # last real click can only finalize once a LATER CLICK moves
        # the click-side high water mark past its lookback window
        sentinel = sentinel.withColumn(
            "event_type", F.lit("purchase")
        ).unionByName(
            sentinel.withColumn("event_type", F.lit("click")).withColumn(
                "event_id", F.col("event_id") + 100
            )
        )
        _time.sleep(0.05)
        sentinel.coalesce(1).write.mode("append").parquet(base)

    schema = events_batch.schema
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    q = (
        unattributed_clicks_stream(stream_in, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("unattr_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 240)
    got = {
        cid
        for cid in spark.table("unattr_t").toPandas()["click_id"].astype(int)
        if cid < 10_000_000  # sentinel clicks are harness, not corpus
    }
    want = set(
        unattributed_clicks_batch(events_batch)
        .toPandas()["click_id"].astype(int).tolist()
    )
    assert len(want) > 0
    assert got == want


def test_stream_parquet_sink_exactly_once_across_restarts(
    spark, events_batch, tmp_path_factory
):
    """Incremental ingest: drop files in two waves, run the same
    checkpointed sink twice — every event lands exactly once."""
    from nass_summary_spark.streaming.sink import stream_to_parquet

    base = tmp_path_factory.mktemp("incr_sink")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")

    first = events_batch.where(F.col("event_id") % 2 == 0)
    second = events_batch.where(F.col("event_id") % 2 == 1)
    first.write.mode("append").parquet(in_dir)

    def run_once():
        sdf = (
            spark.readStream.schema(events_batch.schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(in_dir)
            .select("event_id", "ts", "user_id", "event_type", "value")
        )
        q = stream_to_parquet(sdf, out_dir, ckpt)
        await_stream(q, 120)

    run_once()
    got1 = spark.read.parquet(out_dir)
    assert got1.count() == first.count()

    second.write.mode("append").parquet(in_dir)
    run_once()  # restart from checkpoint: only the new wave is processed
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == events_batch.count()
    # exactly-once: no event id duplicated, none missing
    assert got2.select("event_id").distinct().count() == events_batch.count()


def test_incremental_windowed_summary_appends_finalized_windows_once(
    spark, events_batch, tmp_path_factory
):
    """Two waves (chronological), two runs of the same checkpointed
    query: finalized windows land exactly once and match the batch
    aggregate."""
    from nass_summary_spark.streaming.sink import stream_to_parquet

    base = tmp_path_factory.mktemp("incr_summary")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")

    from nass_summary_spark.functions.parsing import epoch_micros

    cutoff = events_batch.select(
        F.percentile(epoch_micros("ts"), F.lit(0.5)).alias("c")
    ).collect()[0]["c"]
    wave1 = events_batch.where(epoch_micros("ts") <= cutoff)
    wave2 = events_batch.where(epoch_micros("ts") > cutoff)
    wave1.write.mode("append").parquet(in_dir)

    def run_once():
        sdf = (
            spark.readStream.schema(events_batch.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(in_dir)
        )
        q = stream_to_parquet(windowed_agg(sdf), out_dir, ckpt)
        await_stream(q, 180)

    run_once()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0  # watermark passed at least the early windows

    wave2.write.mode("append").parquet(in_dir)
    run_once()
    got = spark.read.parquet(out_dir)
    n2 = got.count()
    assert n2 > n1  # later windows finalized on the second run

    # exactly-once: each (window, type) appears at most once...
    assert got.select("window_start", "event_type").distinct().count() == n2
    # ...and every emitted row matches the batch twin exactly
    batch = (
        windowed_agg(events_batch, window="1 hour")
        .withColumnRenamed("n_events", "batch_n")
        .withColumnRenamed("sum_value", "batch_sum")
    )
    joined = got.join(batch, ["window_start", "event_type"], "left")
    assert joined.where(F.col("batch_sum").isNull()).count() == 0
    assert (
        joined.where(
            (F.col("n_events") != F.col("batch_n"))
            | (F.abs(F.col("sum_value") - F.col("batch_sum")) > 1e-9)
        ).count()
        == 0
    )


def test_upsert_keyed_summary_exactly_once_and_replay_safe(
    spark, events_batch, tmp_path_factory
):
    """C9 foreachBatch upsert: two waves + restart yield batch-exact
    totals, and a forced replay of the last batch_id changes
    nothing (partition overwrite idempotence)."""
    from nass_summary_spark.streaming.sink import (
        read_keyed_summary,
        upsert_keyed_summary,
        write_partial_summary,
    )

    base = tmp_path_factory.mktemp("upsert_sink")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")

    wave1 = events_batch.where(F.col("event_id") % 2 == 0)
    wave2 = events_batch.where(F.col("event_id") % 2 == 1)
    wave1.write.mode("append").parquet(in_dir)

    def run_once():
        sdf = (
            spark.readStream.schema(events_batch.schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(in_dir)
        )
        q = upsert_keyed_summary(sdf, out_dir, ckpt)
        await_stream(q, 120)

    run_once()
    wave2.write.mode("append").parquet(in_dir)
    run_once()  # restart from checkpoint merges only the new wave

    expected = events_batch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exp_n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("exp_sum"),
    )
    got = read_keyed_summary(spark, out_dir)
    joined = got.join(expected, "event_type", "full_outer")
    assert (
        joined.where(
            F.col("n_events").isNull()
            | F.col("exp_n").isNull()
            | (F.col("n_events") != F.col("exp_n"))
            | (F.abs(F.col("sum_value") - F.col("exp_sum")) > 1e-9)
        ).count()
        == 0
    )

    # forced replay: merging the SAME batch content under the SAME
    # batch_id twice must leave totals unchanged (the failure mode a
    # restart can produce)
    mini = str(base / "mini")
    write_partial_summary(wave1, 0, mini)
    once = sorted(map(tuple, read_keyed_summary(spark, mini).collect()))
    write_partial_summary(wave1, 0, mini)
    twice = sorted(map(tuple, read_keyed_summary(spark, mini).collect()))
    assert once == twice


def test_funnel_batch_ordered_steps(spark):
    from datetime import datetime

    from nass_summary_spark.streaming.events import funnel_batch

    def ts(m):
        return datetime(2024, 1, 1, 10, m)

    rows = [
        # u1 completes the funnel in order
        (1, ts(0), "click"), (1, ts(1), "view"), (1, ts(2), "purchase"),
        # u2: purchase BEFORE view → stops at view
        (2, ts(0), "click"), (2, ts(2), "view"), (2, ts(1), "purchase"),
        # u3: never clicks → not even step 1 (view/purchase ignored)
        (3, ts(0), "view"), (3, ts(1), "purchase"),
        # u4: click only
        (4, ts(5), "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {r["step"]: (r["n_users"], r["conversion"]) for r in funnel_batch(df).collect()}
    assert got == {
        "click": (3, 1.0),
        "view": (2, round(2 / 3, 6)),
        "purchase": (1, round(1 / 3, 6)),
    }


def test_funnel_stream_matches_batch(spark, events_batch, events_dir):
    """C10 stream twin: per-user completion times from the stateful
    stream must reproduce the batch funnel counts exactly."""
    from nass_summary_spark.streaming.events import funnel_batch
    from nass_summary_spark.streaming.stateful import funnel_stream

    stream_in = spark.readStream.schema(events_batch.schema).parquet(events_dir)
    q = (
        funnel_stream(stream_in)
        .writeStream.format("memory")
        .queryName("funnel_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = (
        spark.table("funnel_t")
        .toPandas()
        .groupby("user_id")
        .last()
        .reset_index()
    )
    want = {r["step"]: r["n_users"] for r in funnel_batch(events_batch).collect()}
    assert int(got["t0"].notna().sum()) == want["click"]
    assert int(got["t1"].notna().sum()) == want["view"]
    assert int(got["t2"].notna().sum()) == want["purchase"]


def test_zone_window_stream_matches_batch(spark, events_batch, events_dir):
    """C11: the geometry stage composed with Structured Streaming —
    static broadcast zones + watermarked windowed agg must equal the
    batch twin exactly."""
    from nass_summary_spark.plans.queries import _zone_rects
    from nass_summary_spark.streaming.events import zone_window

    zones = _zone_rects(spark, "/root/testdata/sf0.001")
    schema = events_batch.schema
    stream_in = spark.readStream.schema(schema).parquet(events_dir)
    got = _run_stream(
        spark,
        zone_window(stream_in, zones, watermark="10 hours"),
        "zone_win_t",
    ).toPandas()
    want = zone_window(events_batch, zones).toPandas()
    assert len(want) > 0
    key = ["window_start", "cmz"]
    got = got.sort_values(key, ignore_index=True)[want.columns]
    want = want.sort_values(key, ignore_index=True)
    assert got.equals(want)


def test_quality_gate_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """C12: the streaming quality gate (stateless per-row classifier
    scoring + filter, append mode, no watermark/state) must emit
    exactly the batch gate's rows."""
    from nass_summary_spark.streaming.quality import quality_gate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = str(tmp_path_factory.mktemp("docs_stream"))
    docs.write.mode("overwrite").parquet(d)

    stream_in = spark.readStream.schema(docs.schema).parquet(d)
    q = (
        quality_gate(stream_in)
        .writeStream.format("memory")
        .queryName("quality_gate_t")
        .outputMode("append")  # stateless: append needs no watermark
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = spark.table("quality_gate_t").toPandas()
    want = quality_gate(docs).toPandas()
    assert len(want) > 0
    got = got.sort_values("id", ignore_index=True)[want.columns]
    want = want.sort_values("id", ignore_index=True)
    assert got.equals(want)


def test_stream_drift_counts_match_batch(spark, events_batch, events_dir):
    """C13: the watermarked per-(window,type) count stage — the only
    stateful part of the drift monitor — must equal the batch twin;
    the shared drift_finish projection then yields identical KL."""
    from nass_summary_spark.streaming.events import (
        drift_finish,
        drift_window_counts,
        type_baseline,
    )

    schema = events_batch.schema
    stream_in = spark.readStream.schema(schema).parquet(events_dir)
    got_counts = _run_stream(
        spark,
        drift_window_counts(stream_in, watermark="10 hours"),
        "drift_counts_t",
    )
    want_counts = drift_window_counts(events_batch)
    key = ["window_start", "event_type"]
    g = got_counts.toPandas().sort_values(key, ignore_index=True)
    w = want_counts.toPandas().sort_values(key, ignore_index=True)[g.columns]
    assert len(w) > 0 and g.equals(w)

    bl = type_baseline(events_batch)
    got_kl = drift_finish(spark.createDataFrame(g), bl).toPandas()
    want_kl = drift_finish(want_counts, bl).toPandas()
    got_kl = got_kl.sort_values("window_start", ignore_index=True)[want_kl.columns]
    want_kl = want_kl.sort_values("window_start", ignore_index=True)
    assert got_kl.equals(want_kl)


def test_rate_limit_bucket_hand_simulation(spark):
    """Token bucket (capacity 2, refill 0.5/s): hand-checked series —
    two immediate admits, a third instant event rejected, a 2s-later
    event admitted (refilled 1 token), a 0.1s follow-up rejected."""
    import pandas as pd

    from nass_summary_spark.streaming.ratelimit import rate_limit_stream

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        (1, 10, t0.to_pydatetime()),
        (1, 11, t0.to_pydatetime()),
        (1, 12, (t0 + pd.Timedelta(milliseconds=1)).to_pydatetime()),
        (1, 13, (t0 + pd.Timedelta(seconds=2, milliseconds=1)).to_pydatetime()),
        (1, 14, (t0 + pd.Timedelta(seconds=2, milliseconds=100)).to_pydatetime()),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    got = {r["event_id"]: r["admitted"]
           for r in rate_limit_stream(df, capacity=2.0, refill_per_sec=0.5).collect()}
    assert got == {10: True, 11: True, 12: False, 13: True, 14: False}


def test_rate_limit_stream_matches_batch(spark, events_batch, events_dir):
    """C15 stream twin: the stateful token bucket over the file
    stream must admit exactly the same events as the batch fold."""
    from nass_summary_spark.streaming.ratelimit import rate_limit_stream

    stream_in = spark.readStream.schema(events_batch.schema).parquet(events_dir)
    q = (
        rate_limit_stream(stream_in, capacity=5.0, refill_per_sec=0.1)
        .writeStream.format("memory")
        .queryName("bucket_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = (
        spark.table("bucket_t")
        .toPandas()
        .sort_values(["user_id", "event_id"], ignore_index=True)
    )
    want = (
        rate_limit_stream(events_batch, capacity=5.0, refill_per_sec=0.1)
        .toPandas()
        .sort_values(["user_id", "event_id"], ignore_index=True)
    )
    assert len(got) == len(want) > 0
    assert got["admitted"].tolist() == want["admitted"].tolist()
    assert got["event_id"].tolist() == want["event_id"].tolist()


def test_ewma_stream_matches_batch_operator(spark, events_batch, events_dir):
    """C16: the stateful incremental EWMA over the file stream must
    equal the batch ewma_smooth on the same hourly series (ordered
    single-batch arrival -> exact parity at the 6-dp rounding)."""
    from nass_summary_spark.operators.stats import ewma_smooth
    from nass_summary_spark.streaming.stateful import ewma_stream

    hourly_batch = events_batch.groupBy(
        (F.col("user_id") % 50).alias("series_key"),
        F.date_trunc("hour", F.col("ts")).alias("ts"),
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("value")
    )
    # materialize the hourly series once; stream it back as files
    import tempfile

    hdir = tempfile.mkdtemp(prefix="ewma_stream_")
    hourly_batch.write.mode("overwrite").parquet(hdir)
    stream_in = spark.readStream.schema(hourly_batch.schema).parquet(hdir)
    q = (
        ewma_stream(stream_in, alpha=0.2)
        .writeStream.format("memory")
        .queryName("ewma_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = {(r["series_key"], r["ts_us"]): r["ewma"]
           for r in spark.table("ewma_t").collect()}
    want_df = ewma_smooth(
        hourly_batch.withColumnRenamed("ts", "window_start")
        .withColumnRenamed("value", "hour_avg"),
        ["series_key"], "window_start", "hour_avg", alpha=0.2,
    )
    from nass_summary_spark.functions.parsing import epoch_micros

    want = {(r["series_key"], r["us"]): r["ewma"] for r in
            want_df.withColumn("us", epoch_micros(F.col("window_start"))).collect()}
    assert len(got) == len(want) > 0
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=2e-6)


def test_drift_finish_unseen_type_yields_null_kl_not_silent_drop(spark):
    """A type present in a window but absent from the baseline means
    KL is mathematically +inf: the row must NOT be dropped — n_events
    keeps the true window count and kl comes back NULL (alert), while
    windows fully covered by the baseline still get a finite KL."""
    import math

    from nass_summary_spark.streaming.events import drift_finish

    counts = spark.createDataFrame(
        [("w1", "a", 6), ("w1", "b", 2), ("w1", "zz_new", 2), ("w2", "a", 3), ("w2", "b", 1)],
        ["window_start", "event_type", "n"],
    )
    baseline = spark.createDataFrame(
        [("a", 0.75), ("b", 0.25)], ["event_type", "p"]
    )
    got = {r["window_start"]: r for r in drift_finish(counts, baseline).collect()}
    assert got["w1"]["n_events"] == 10  # includes the unseen type's events
    assert got["w1"]["kl"] is None  # +inf drift surfaces as NULL, not a drop
    # w2 matches the baseline distribution exactly -> KL == 0
    assert got["w2"]["n_events"] == 4
    assert math.isclose(got["w2"]["kl"], 0.0, abs_tol=1e-12)


def test_trending_counts_stream_matches_batch(spark, events_batch, events_dir):
    """C14: the high-cardinality (per-user) watermarked window count
    must equal the batch twin; the shared top-k finish then ranks
    identically."""
    from nass_summary_spark.streaming.events import (
        trending_finish,
        trending_window_counts,
    )

    schema = events_batch.schema
    stream_in = spark.readStream.schema(schema).parquet(events_dir)
    got = _run_stream(
        spark,
        trending_window_counts(stream_in, watermark="10 hours"),
        "trending_counts_t",
    )
    want = trending_window_counts(events_batch)
    key = ["window_start", "user_id"]
    g = got.toPandas().sort_values(key, ignore_index=True)
    w = want.toPandas().sort_values(key, ignore_index=True)[g.columns]
    assert len(w) > 0 and g.equals(w)

    fk = ["window_start", "rnk"]
    gf = trending_finish(spark.createDataFrame(g)).toPandas().sort_values(fk, ignore_index=True)
    wf = trending_finish(want).toPandas().sort_values(fk, ignore_index=True)[gf.columns]
    assert gf.equals(wf)


def test_temporal_join_on_stream_matches_batch(spark, events_batch, events_dir):
    """C17: stream-static point-in-time enrichment — the SCD2
    temporal_join applied with a STREAMING fact side (stream-static
    joins accept the non-equi interval predicate) must produce
    exactly the batch result."""
    from nass_summary_spark.operators.merge import scd2_history, temporal_join

    # dimension history: per event_type "config versions" at known
    # event-time boundaries derived from the data itself
    bounds = events_batch.groupBy("event_type").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    # events ts arrives TIMESTAMP_NTZ: cast before unix_micros (the
    # ensure_event_time discipline)
    bounds = bounds.select(
        "event_type",
        F.col("t0").cast("timestamp").alias("t0"),
        F.col("t1").cast("timestamp").alias("t1"),
    )
    changes = bounds.select(
        "event_type", F.col("t0").alias("ts"), F.lit("v1").alias("cfg")
    ).unionByName(
        bounds.select(
            "event_type",
            F.timestamp_micros(
                (
                    (F.unix_micros(F.col("t0")) + F.unix_micros(F.col("t1"))) / 2
                ).cast("long")
            ).alias("ts"),
            F.lit("v2").alias("cfg"),
        )
    )
    hist = scd2_history(changes, "event_type", "ts", ["cfg"]).select(
        "event_type", "cfg", "valid_from", "valid_to", "version"
    )
    probe_cols = ["event_id", "event_type", "ts"]
    from nass_summary_spark.streaming.events import ensure_event_time

    want = {
        (r["event_id"], r["version"], r["cfg"])
        for r in temporal_join(
            ensure_event_time(events_batch.select(*probe_cols)),
            hist, "event_type", "ts",
        ).collect()
    }
    stream_in = (
        spark.readStream.schema(events_batch.schema).parquet(events_dir)
        .select(*probe_cols)
    )
    joined = temporal_join(ensure_event_time(stream_in), hist, "event_type", "ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("temporal_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = {
        (r["event_id"], r["version"], r["cfg"])
        for r in spark.table("temporal_t").collect()
    }
    assert len(want) > 0 and got == want


def test_table_checksum_streaming_parity(spark, events_batch, events_dir):
    """C22: table_checksum is a pure commutative aggregation, so the
    SAME operator runs on a stream in complete mode and must emit
    digests identical to the batch run over the same data — the
    incremental copy-verification shape (digest maintained as rows
    arrive, compared against the source table's batch digest)."""
    from nass_summary_spark.operators.integrity import table_checksum

    schema = events_batch.schema
    stream_in = spark.readStream.schema(schema).parquet(events_dir)
    got = _run_stream(
        spark,
        table_checksum(
            stream_in, ["event_id", "user_id", "event_type"],
            group_cols=["event_type"],
        ),
        "cksum_t",
    ).toPandas().sort_values("event_type", ignore_index=True)
    want = (
        table_checksum(
            events_batch, ["event_id", "user_id", "event_type"],
            group_cols=["event_type"],
        )
        .toPandas()
        .sort_values("event_type", ignore_index=True)
    )
    assert got[want.columns].equals(want)


def test_minhash_dedup_stream_union_parity(spark, tmp_path):
    """C23: streaming incremental MinHash dedup. Feed the corpus one
    parquet file per micro-batch through minhash_dedup_stream; every
    near-dup pair is emitted exactly once — in the batch where its
    LATER document arrives — so the union of per-batch pair outputs
    must equal minhash_lsh_pairs from scratch on the whole corpus,
    for ANY file/batch split. The index on disk is the only state."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.dedup import minhash_lsh_pairs
    from nass_summary_spark.operators.dedup_index import build_minhash_index
    from nass_summary_spark.streaming.dedup_stream import minhash_dedup_stream

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") % 2 == 0)
    )
    docs_dir = str(tmp_path / "docs_in")
    # three files -> three micro-batches under maxFilesPerTrigger=1
    for k in range(3):
        docs.where(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(docs_dir)

    idx = str(tmp_path / "idx")
    build_minhash_index(
        docs.where(F.lit(False)), "doc_id", "text", idx,
        n=3, num_perm=32, bands=8,
    )
    stream_in = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    q = minhash_dedup_stream(
        stream_in, idx, str(tmp_path / "pairs"), str(tmp_path / "ckpt"),
        n=3, num_perm=32, bands=8, threshold=0.35,
    )
    await_stream(q, 300)

    got = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in read_shards(spark, str(tmp_path / "pairs")).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_perm=32, bands=8, threshold=0.35
        ).collect()
    }
    assert want and got == want


def test_ann_ingest_stream_matches_sequential_batches(spark, tmp_path):
    """C24: streaming ANN ingest. Feed vectors one file per
    micro-batch; each batch's emitted neighbors must equal applying
    the batch operator sequentially (probe against the index as it
    stood BEFORE the batch), and after the stream drains a full
    probe of the final index equals brute force over everything."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.ann_index import (
        ann_index_probe,
        build_ann_index,
        extend_ann_index,
        load_centroids,
    )
    from nass_summary_spark.operators.similarity import knn_bruteforce
    from nass_summary_spark.streaming.ann_stream import ann_ingest_stream

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    seed = emb.where(F.col("vec_id") % 3 == 0)
    vec_dir = str(tmp_path / "vec_in")
    for k in (1, 2):
        emb.where(F.col("vec_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(vec_dir)

    idx = str(tmp_path / "idx")
    build_ann_index(seed, "vec_id", "embedding", idx, k_cells=4, n_iter=3)
    # sequential-batch replica on a SECOND index copy, same quantizer
    idx2 = str(tmp_path / "idx2")
    build_ann_index(seed, "vec_id", "embedding", idx2, k_cells=4, n_iter=3)
    assert load_centroids(spark, idx) == load_centroids(spark, idx2)

    q = ann_ingest_stream(
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(vec_dir),
        idx, str(tmp_path / "nn"), str(tmp_path / "ckpt"),
        id_col="vec_id", vec_col="embedding", k=5, nprobe=2,
    )
    await_stream(q, 300)

    got = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in read_shards(spark, str(tmp_path / "nn")).collect()
    }
    # replay the same micro-batches through the batch operators; the
    # file-source delivers one file per trigger in ARRIVAL (mtime)
    # order, not path order (part-file names embed random uuids)
    import glob
    import os

    want = set()
    for f in sorted(
        glob.glob(f"{vec_dir}/part-*.parquet"), key=os.path.getmtime
    ):
        batch = spark.read.parquet(f)
        rows = ann_index_probe(
            spark, batch, "vec_id", "embedding", idx2, k=5, nprobe=2
        ).collect()
        want |= {
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in rows
        }
        extend_ann_index(batch, "vec_id", "embedding", idx2)
    assert got and got == want

    # the drained index covers the union: full probe == brute force
    queries = emb.where(F.col("vec_id") < 6)
    full = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in ann_index_probe(
            spark, queries, "vec_id", "embedding", idx, k=5, nprobe=4
        ).collect()
    )
    exact = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in knn_bruteforce(emb, queries, "vec_id", "embedding", k=5).collect()
    )
    assert full == exact


def test_linkage_stream_union_parity(spark, tmp_path):
    """C25: streaming record linkage. Weights are FROZEN at build
    time (here EM-fit on a seed slice via em_params), so scoring is
    per-pair and independent of batching — the union of per-batch
    match outputs must equal the batch scorer over the union of
    arrivals, for ANY batch split. The reference + params on disk
    are the only state; a replayed batch overwrites identical rows."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.linkage import (
        blocked_agreements,
        em_params,
        fellegi_sunter_em,
        fellegi_sunter_scores,
    )
    from nass_summary_spark.streaming.linkage_stream import (
        build_linkage_reference,
        linkage_stream,
    )

    cust = spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet"
    ).select(
        "c_custkey",
        F.col("c_nationkey").alias("blk"),
        F.col("c_mktsegment").alias("seg"),
        F.substring("c_name", -2, 1).alias("tag"),
        (F.col("c_acctbal") < 0).alias("debt"),
    )
    ref = cust.where(F.col("c_custkey") % 2 == 0).withColumnRenamed(
        "c_custkey", "rid"
    )
    arr = cust.where(F.col("c_custkey") % 2 == 1).withColumnRenamed(
        "c_custkey", "aid"
    )
    fields = ["seg", "tag", "debt"]
    fit = fellegi_sunter_em(
        blocked_agreements(
            arr.where(F.col("aid") % 3 == 0), ref, "aid", "rid", "blk",
            fields,
        ),
        fields, n_iter=3,
    )
    m_probs, u_probs = em_params(fit)
    assert set(m_probs) == set(fields) and set(u_probs) == set(fields)

    refp = str(tmp_path / "ref")
    build_linkage_reference(ref, "rid", "blk", m_probs, u_probs, refp)
    arr_dir = str(tmp_path / "arr_in")
    for k in range(3):
        arr.where(F.col("aid") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(arr_dir)

    q = linkage_stream(
        spark.readStream.schema(arr.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arr_dir),
        refp, str(tmp_path / "matches"), str(tmp_path / "ckpt"),
        "aid", threshold=-100.0,
    )
    await_stream(q, 300)

    got = {
        (r["aid"], r["rid"], r["score"])
        for r in read_shards(spark, str(tmp_path / "matches")).collect()
    }
    want = {
        (r["aid"], r["rid"], r["score"])
        for r in fellegi_sunter_scores(
            arr, ref, "aid", "rid", "blk", m_probs,
            threshold=-100.0, u_probs=u_probs,
        ).collect()
    }
    assert want and got == want


def test_linkage_reference_guards(spark, tmp_path):
    """C25 loud-fail contracts: mismatched m/u field sets refuse to
    build; a reference directory whose relation lost a declared
    column refuses to load."""
    import pytest
    from pyspark.sql import functions as F

    from nass_summary_spark.streaming.linkage_stream import (
        build_linkage_reference,
        load_linkage_reference,
    )

    ref = spark.createDataFrame(
        [(1, "b", "x")], ["rid", "blk", "f1"]
    )
    with pytest.raises(ValueError, match="parameter mismatch"):
        build_linkage_reference(
            ref, "rid", "blk", {"f1": 0.9}, {"f2": 0.1},
            str(tmp_path / "bad"),
        )
    p = str(tmp_path / "ok")
    build_linkage_reference(ref, "rid", "blk", {"f1": 0.9}, {"f1": 0.1}, p)
    # simulate a mixed-generation rewrite that dropped the field
    ref.select("rid", "blk").write.mode("overwrite").parquet(
        f"{p}/reference"
    )
    with pytest.raises(ValueError, match="mixes generations"):
        load_linkage_reference(spark, p)


def test_linkage_em_refresh_detects_drift_and_refits(spark, tmp_path):
    """C26: incremental EM refresh for the streaming linkage scorer.
    The pattern histogram doubles as drift signal and EM sufficient
    statistic: (1) same-distribution arrivals measure KL ~ 0 and the
    frozen params stay untouched, (2) a drifted arrival slice (a
    field collapsed to a constant shifts the agreement patterns)
    trips the threshold, (3) the refit params equal a from-scratch
    fellegi_sunter_em over the same candidates EXACTLY (same code
    path — the parity that makes the refresh auditable), and (4) the
    swapped sidecar is what load_linkage_reference then serves."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.linkage import (
        blocked_agreements,
        em_params,
        fellegi_sunter_em,
    )
    from nass_summary_spark.streaming.linkage_stream import (
        build_linkage_reference,
        load_linkage_reference,
        pattern_drift_kl,
        persist_pattern_histogram,
        refresh_linkage_params,
    )

    cust = spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet"
    ).select(
        "c_custkey",
        F.col("c_nationkey").alias("blk"),
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_acctbal") < 0).alias("debt"),
    )
    ref = cust.where(F.col("c_custkey") % 2 == 0).withColumnRenamed(
        "c_custkey", "rid"
    )
    seed = cust.where(F.col("c_custkey") % 2 == 1).withColumnRenamed(
        "c_custkey", "aid"
    )
    fields = ["seg", "debt"]
    seed_cand = blocked_agreements(
        seed, ref, "aid", "rid", "blk", fields
    )
    m0, u0 = em_params(fellegi_sunter_em(seed_cand, fields, n_iter=3))
    refp = str(tmp_path / "linkref")
    build_linkage_reference(ref, "rid", "blk", m0, u0, refp)
    persist_pattern_histogram(seed_cand, fields, refp)

    # same distribution -> tiny KL, no refresh, params untouched
    out = refresh_linkage_params(seed, refp, "aid", kl_threshold=0.05)
    assert out["refreshed"] is False and out["kl"] < 0.01, out
    assert out["m_probs"] == m0 and out["u_probs"] == u0

    # drifted arrivals: segment values outside the reference's
    # domain -> agree_seg collapses from ~1/5 to exactly 0 and the
    # pattern mass redistributes (a constant IN-domain value would
    # barely move the agreement rate — cross-pair agreement is ~1/5
    # either way)
    drifted = seed.withColumn("seg", F.lit("ZZZ-DRIFTED"))
    drift_cand = blocked_agreements(
        drifted, ref, "aid", "rid", "blk", fields
    )
    kl = pattern_drift_kl(drift_cand, fields, refp)
    assert kl > 0.05, kl
    out2 = refresh_linkage_params(drifted, refp, "aid", kl_threshold=0.05)
    assert out2["refreshed"] is True and out2["kl"] == kl
    # refit == from-scratch EM over the same candidates, exactly
    want_m, want_u = em_params(
        fellegi_sunter_em(drift_cand, fields, n_iter=5)
    )
    assert out2["m_probs"] == want_m and out2["u_probs"] == want_u
    # the swapped sidecar is live
    _ref, _rid, _blk, m_live, u_live = load_linkage_reference(spark, refp)
    assert m_live == want_m and u_live == want_u
    # and the new baseline makes the drifted slice read as no-drift
    assert pattern_drift_kl(drift_cand, fields, refp) < 0.01


def test_linkage_refresh_failed_swap_leaves_one_generation(
    spark, tmp_path, monkeypatch
):
    """The EM refresh publishes the new weights and their drift
    baseline together: with ``fsio.swap_in`` failing on its k-th call,
    the reference afterwards serves either the pre-refresh pair or the
    refreshed pair — never new weights next to the old baseline."""
    import shutil

    from nass_summary_spark.functions import fsio
    from nass_summary_spark.operators.linkage import (
        blocked_agreements,
        em_params,
        fellegi_sunter_em,
    )
    from nass_summary_spark.streaming.linkage_stream import (
        build_linkage_reference,
        load_linkage_reference,
        pattern_drift_kl,
        persist_pattern_histogram,
        refresh_linkage_params,
    )

    cust = spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet"
    ).select(
        "c_custkey",
        F.col("c_nationkey").alias("blk"),
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_acctbal") < 0).alias("debt"),
    )
    ref = cust.where(F.col("c_custkey") % 2 == 0).withColumnRenamed(
        "c_custkey", "rid"
    )
    seed = cust.where(F.col("c_custkey") % 2 == 1).withColumnRenamed(
        "c_custkey", "aid"
    )
    fields = ["seg", "debt"]
    seed_cand = blocked_agreements(seed, ref, "aid", "rid", "blk", fields)
    m0, u0 = em_params(fellegi_sunter_em(seed_cand, fields, n_iter=3))
    pristine = str(tmp_path / "pristine")
    build_linkage_reference(ref, "rid", "blk", m0, u0, pristine)
    persist_pattern_histogram(seed_cand, fields, pristine)

    drifted = seed.withColumn("seg", F.lit("ZZZ-DRIFTED"))
    drift_cand = blocked_agreements(
        drifted, ref, "aid", "rid", "blk", fields
    ).cache()

    def snap(path):
        _ref, _rid, _blk, m, u = load_linkage_reference(spark, path)
        return m, u, pattern_drift_kl(drift_cand, fields, path)

    def refresh(path):
        return refresh_linkage_params(drifted, path, "aid", kl_threshold=0.05)

    fresh = str(tmp_path / "fresh")
    shutil.copytree(pristine, fresh)
    assert refresh(fresh)["refreshed"] is True
    old_gen, new_gen = snap(pristine), snap(fresh)
    assert old_gen[:2] != new_gen[:2] and old_gen[2] > 0.05 > new_gen[2]

    real_swap_in = fsio.swap_in
    for k in (1, 2):
        path = str(tmp_path / f"ref{k}")
        shutil.copytree(pristine, path)
        calls = []

        def flaky_swap_in(*args, **kwargs):
            calls.append(args[1])
            if len(calls) == k:
                raise RuntimeError(f"injected swap_in failure (call {k})")
            return real_swap_in(*args, **kwargs)

        monkeypatch.setattr(fsio, "swap_in", flaky_swap_in)
        try:
            refresh(path)
            failed = False
        except RuntimeError as exc:
            assert "injected swap_in failure" in str(exc)
            failed = True
        monkeypatch.setattr(fsio, "swap_in", real_swap_in)
        assert snap(path) == (old_gen if failed else new_gen), (k, calls)
    drift_cand.unpersist()


def test_trained_model_gate_stream_matches_weighted_scorer(
    spark, sf_dir, tmp_path_factory
):
    """C12b (r8): the train->deploy loop — a model fit in-engine
    (logreg_train) must gate a STREAM through the stateless per-row
    form and emit exactly what the aggregated batch scorer computes:
    (1) the per-row literal-LUT expression is row-identical to
    score_documents_weighted (exact BIGINT numerator folds on both
    paths), (2) the streaming twin emits exactly the batch gate's
    rows."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.classifier import (
        TRAIN_SCALE,
        logreg_train,
        score_documents_weighted,
        trained_bias,
        trained_weights_map,
    )
    from nass_summary_spark.streaming.quality import quality_gate_weighted

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labeled = docs.withColumn(
        "y", F.when(F.length("text") >= 300, F.lit(1)).otherwise(F.lit(0))
    )
    w = logreg_train(labeled, "doc_id", "text", "y", n_iter=2)
    wmap = trained_weights_map(w)
    assert -1 in wmap  # bias row rides in the map

    # (1) per-row LUT form == aggregated scorer, row for row
    gate = quality_gate_weighted(
        docs, wmap, denom=float(TRAIN_SCALE), threshold=0.0
    ).toPandas().sort_values("id", ignore_index=True)
    agg = (
        score_documents_weighted(
            docs, "doc_id", "text", w,
            denom=float(TRAIN_SCALE), bias=trained_bias(w),
        )
        .select("id", "n_feats", "quality_prob")
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    assert gate.equals(agg[gate.columns])

    # (2) stream twin == batch twin
    d = str(tmp_path_factory.mktemp("docs_stream_w"))
    docs.write.mode("overwrite").parquet(d)
    stream_in = spark.readStream.schema(docs.schema).parquet(d)
    q = (
        quality_gate_weighted(
            stream_in, wmap, denom=float(TRAIN_SCALE), threshold=0.02
        )
        .writeStream.format("memory")
        .queryName("quality_gate_w_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = spark.table("quality_gate_w_t").toPandas()
    want = quality_gate_weighted(
        docs, wmap, denom=float(TRAIN_SCALE), threshold=0.02
    ).toPandas()
    got = got.sort_values("id", ignore_index=True)[want.columns]
    want = want.sort_values("id", ignore_index=True)
    # 0.02 sits at this model's prob median, so the gate genuinely
    # splits the corpus (keeps some, drops some) on both paths
    assert got.equals(want)
    assert 0 < len(want) < docs.count()


def test_dsir_gate_stream_matches_batch_and_aggregated_path(
    spark, sf_dir, tmp_path_factory
):
    """C27: build + persist the DSIR reference, reload it, and (1)
    the frozen per-row scorer must reproduce the aggregated B113
    path's (score_q, keep) doc-for-doc on the reference corpus
    itself (frozen threshold = that corpus's own mean), (2) the
    streaming gate must emit exactly the batch gate's rows."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.importance import dsir_scores
    from nass_summary_spark.streaming.dsir_stream import (
        build_dsir_reference,
        dsir_gate,
        load_dsir_reference,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = F.col("source").isin("src1", "src2", "src3")
    ref = str(tmp_path_factory.mktemp("dsir_ref"))
    build_dsir_reference(docs, "doc_id", "text", target, ref)
    lam, n_tot, t_tot, nb, scale = load_dsir_reference(spark, ref)
    assert nb == 4096 and n_tot > 0 and lam

    # (1) frozen per-row scorer == aggregated path on the same corpus
    agg = {
        r["doc_id"]: r
        for r in dsir_scores(docs, "doc_id", "text", target).collect()
    }
    gated = dsir_gate(docs, lam, n_tot, t_tot).collect()
    kept_agg = {i for i, r in agg.items() if r["keep"]}
    assert {r["id"] for r in gated} == kept_agg and kept_agg
    for r in gated:
        assert r["score_q"] == agg[r["id"]]["score_q"]

    # (2) stream twin emits exactly the batch rows
    d = str(tmp_path_factory.mktemp("dsir_stream_in"))
    docs.write.mode("overwrite").parquet(d)
    stream_in = spark.readStream.schema(docs.schema).parquet(d)
    q = (
        dsir_gate(stream_in, lam, n_tot, t_tot)
        .writeStream.format("memory")
        .queryName("dsir_gate_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = spark.table("dsir_gate_t").toPandas()
    want = dsir_gate(docs, lam, n_tot, t_tot).toPandas()
    got = got.sort_values("id", ignore_index=True)[want.columns]
    want = want.sort_values("id", ignore_index=True)
    assert got.equals(want)


def test_dsir_reference_mixed_generation_fails_loudly(
    spark, sf_dir, tmp_path_factory
):
    """C27: a ratio table with buckets outside its own meta's bucket
    space must refuse to load."""
    import pytest
    from pyspark.sql import functions as F

    from nass_summary_spark.functions.smalldf import local_struct_df
    from nass_summary_spark.streaming.dsir_stream import (
        build_dsir_reference,
        load_dsir_reference,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = str(tmp_path_factory.mktemp("dsir_bad"))
    build_dsir_reference(
        docs, "doc_id", "text", F.col("source") == "src1", ref
    )
    local_struct_df(
        spark, "bucket bigint, lam_q bigint", [(99999, 1)]
    ).write.mode("overwrite").parquet(f"{ref}/ratios")
    with pytest.raises(ValueError, match="mixes generations"):
        load_dsir_reference(spark, ref)


def test_sketch_ingest_stream_matches_batch_rollup(
    spark, sf_dir, tmp_path_factory
):
    """C28: per-batch shard sketches streamed to disk must roll up
    to exactly the batch B114 answer (sparse-mode exact), for the
    engine's own micro-batch split; a replayed batch write is
    byte-idempotent by construction (partition overwrite)."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.distinct_sketch import (
        build_distinct_sketches,
        rollup_distinct,
    )
    from nass_summary_spark.streaming.sketch_stream import (
        rollup_stream_sketches,
        sketch_ingest_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = str(tmp_path_factory.mktemp("sketch_stream_in"))
    # several files -> several micro-batches under maxFilesPerTrigger
    docs.repartition(4).write.mode("overwrite").parquet(d)
    sk = str(tmp_path_factory.mktemp("sketches"))
    ck = str(tmp_path_factory.mktemp("ck"))

    stream_in = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = sketch_ingest_stream(stream_in, ["source"], "doc_id", sk, ck)
    await_stream(q, 120)

    shards = read_shards(spark, sk)
    assert shards.select("batch_id").distinct().count() >= 2

    got = {
        r["source"]: r["est_distinct"]
        for r in rollup_stream_sketches(spark, sk, ["source"]).collect()
    }
    want = {
        r["source"]: r["est_distinct"]
        for r in rollup_distinct(
            build_distinct_sketches(docs, ["source"], "doc_id"), ["source"]
        ).collect()
    }
    exact = {
        r["source"]: r["x"]
        for r in docs.groupBy("source")
        .agg(F.countDistinct("doc_id").alias("x"))
        .collect()
    }
    assert got == want == exact and got


def test_conformal_threshold_deploys_on_streaming_gate(
    spark, sf_dir, tmp_path_factory
):
    """B122 → C12b composition: the conformal threshold selected on
    the calibration split deploys directly as the streaming gate's
    threshold — the stream emits exactly the batch gate's rows at
    that operating point, closing train → select-threshold → deploy."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.classifier import (
        TRAIN_SCALE,
        logreg_train,
        trained_bias,
        trained_weights_map,
    )
    from nass_summary_spark.operators.sampling import id_bucket
    from nass_summary_spark.plans.queries import QUERIES, _logreg_labeled_docs
    from nass_summary_spark.plans.queries import _TS_ITER, _TS_LR
    from nass_summary_spark.streaming.quality import quality_gate_weighted

    thr = QUERIES["threshold_select"](spark, sf_dir).collect()[0]["threshold"]
    docs = _logreg_labeled_docs(spark, sf_dir)
    w = logreg_train(
        docs.where(id_bucket("doc_id", 4).isin(0, 1)),
        "doc_id", "text", "y", n_iter=_TS_ITER, lr=_TS_LR,
    )
    weights = trained_weights_map(w)
    bias = trained_bias(w)
    incoming = docs.where(id_bucket("doc_id", 4) == 3).drop("y")

    d = str(tmp_path_factory.mktemp("conformal_stream_in"))
    incoming.write.mode("overwrite").parquet(d)
    stream_in = spark.readStream.schema(incoming.schema).parquet(d)
    q = (
        quality_gate_weighted(
            stream_in, weights, float(TRAIN_SCALE), bias, threshold=thr
        )
        .writeStream.format("memory")
        .queryName("conformal_gate_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = spark.table("conformal_gate_t").toPandas()
    want = quality_gate_weighted(
        incoming, weights, float(TRAIN_SCALE), bias, threshold=thr
    ).toPandas()
    assert len(want) > 0 and len(want) < incoming.count()
    got = got.sort_values("id", ignore_index=True)[want.columns]
    want = want.sort_values("id", ignore_index=True)
    assert got.equals(want)


def test_quantile_ingest_stream_matches_batch_rollup(
    spark, sf_dir, tmp_path_factory
):
    """C31: per-batch log-histogram shards streamed to disk must
    roll up to EXACTLY the batch B129 answer (bucket counts are
    exact integers and merge is addition, so the streamed rollup is
    bit-identical, not just within tolerance), for the engine's own
    micro-batch split; a replayed batch write is idempotent by
    construction (partition overwrite of deterministic counts)."""
    from pyspark.sql import functions as F

    from nass_summary_spark.operators.quantile_sketch import (
        build_log_histogram,
        histogram_quantiles,
    )
    from nass_summary_spark.streaming.sketch_stream import (
        quantile_ingest_stream,
        rollup_stream_quantiles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("n_chars") >= 1
    )
    d = str(tmp_path_factory.mktemp("qsketch_stream_in"))
    docs.repartition(4).write.mode("overwrite").parquet(d)
    sk = str(tmp_path_factory.mktemp("qsketches"))
    ck = str(tmp_path_factory.mktemp("qck"))

    stream_in = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = quantile_ingest_stream(stream_in, ["source"], "n_chars", sk, ck)
    await_stream(q, 120)

    shards = read_shards(spark, sk)
    assert shards.select("batch_id").distinct().count() >= 2

    got = sorted(
        tuple(r)
        for r in rollup_stream_quantiles(
            spark, sk, ["source"], [50, 90, 99]
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in histogram_quantiles(
            build_log_histogram(docs, ["source"], "n_chars"),
            ["source"],
            [50, 90, 99],
        ).collect()
    )
    assert got == want and got
    # and the streamed estimates honor the B129 error bound vs exact
    exact = {
        (r["source"], p): r[f"e{p}"]
        for r in docs.groupBy("source")
        .agg(
            *[
                F.expr(f"percentile(n_chars, {p / 100})").alias(f"e{p}")
                for p in (50, 90, 99)
            ]
        )
        .collect()
        for p in (50, 90, 99)
    }
    for src, pct, _n, est in got:
        e = exact[(src, pct)]
        assert abs(est - e) <= e / 8 + 1e-6


def test_domain_gate_stream_matches_sequential_replay(
    spark, tmp_path_factory
):
    """C32: the streaming host gate (cross-batch per-host cap backed
    by the persisted count table) must equal an independent
    sequential replay of its arrival-order definition — per batch,
    hosts rank by hash order shifted by prior-batch counts — and the
    cap must keep holding when a LATER stream run continues from the
    same state."""
    from pyspark.sql import functions as F

    from nass_summary_spark.functions.smalldf import local_struct_df
    from nass_summary_spark.operators.domain import extract_host
    from nass_summary_spark.operators.sampling import id_bucket
    from nass_summary_spark.streaming.domain_stream import domain_gate_stream

    def mk_docs(lo, hi):
        rows = [
            (
                i,
                f"https://www.h{i % 3}.example.com/p/{i}"
                if i % 10
                else "https://spam.example.net/x",
            )
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(rows, "doc_id long, url string")

    src = str(tmp_path_factory.mktemp("dg_in"))
    mk_docs(0, 60).repartition(3).write.mode("overwrite").parquet(src)
    out = str(tmp_path_factory.mktemp("dg_out"))
    state = str(tmp_path_factory.mktemp("dg_state"))
    ck = str(tmp_path_factory.mktemp("dg_ck"))
    bl = local_struct_df(spark, "host string", [("spam.example.net",)])

    stream_in = (
        spark.readStream.schema("doc_id long, url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = domain_gate_stream(
        stream_in, "url", "doc_id", bl, 12, out, state, ck
    )
    await_stream(q, 120)

    gated = read_shards(spark, out)
    assert gated.select("batch_id").distinct().count() >= 2

    def replay_expected(gated_df):
        # independent arrival-order replay from the input + the
        # stream's own batch assignment
        assign = {
            r["doc_id"]: r["batch_id"]
            for r in gated_df.select("doc_id", "batch_id").collect()
        }
        base = (
            mk_docs(0, 200)
            .select(
                "doc_id",
                extract_host("url").alias("host"),
                id_bucket("doc_id").alias("bucket"),
            )
            .collect()
        )
        rows = [r for r in base if r["doc_id"] in assign]
        counts: dict = {}
        expected = {}
        for bid in sorted({assign[r["doc_id"]] for r in rows}):
            batch = sorted(
                (r for r in rows if assign[r["doc_id"]] == bid),
                key=lambda r: (r["bucket"], r["doc_id"]),
            )
            for r in batch:
                h = r["host"]
                counts[h] = counts.get(h, 0) + 1
                rank = counts[h]
                if h == "spam.example.net":
                    disp = "blocked"
                elif rank > 12:
                    disp = "capped"
                else:
                    disp = "kept"
                expected[r["doc_id"]] = (h, rank, disp)
        return expected

    got = {
        r["doc_id"]: (r["host"], r["host_rank"], r["disposition"])
        for r in gated.collect()
    }
    assert got == replay_expected(gated)
    # cap actually bit within the first run
    kept_per_host = (
        gated.where(F.col("disposition") == "kept")
        .groupBy("host")
        .count()
        .collect()
    )
    assert all(r["count"] <= 12 for r in kept_per_host)
    assert any(r["disposition"] == "capped" for r in gated.collect())

    # continuation: more files arrive, same checkpoint + state — the
    # cap must continue from the persisted counts, not restart
    mk_docs(60, 90).repartition(2).write.mode("append").parquet(src)
    stream_in2 = (
        spark.readStream.schema("doc_id long, url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = domain_gate_stream(
        stream_in2, "url", "doc_id", bl, 12, out, state, ck
    )
    await_stream(q2, 120)
    gated2 = read_shards(spark, out)
    assert gated2.count() == 90
    got2 = {
        r["doc_id"]: (r["host"], r["host_rank"], r["disposition"])
        for r in gated2.collect()
    }
    assert got2 == replay_expected(gated2)
    late_kept = [
        d for d, (h, rk, disp) in got2.items()
        if d >= 60 and disp == "kept" and h.startswith("h")
    ]
    assert not late_kept  # every non-blocked host filled its cap early


def test_domain_gate_stream_caps_across_batches_on_file_uris(
    spark, tmp_path_factory
):
    """The cross-batch cap reads the prior count deltas through the
    state table's Hadoop filesystem: with ``file://`` URIs for the
    output, state and checkpoint (as with ``hdfs://`` or ``s3a://``),
    no host keeps more than the cap across batches."""
    from pyspark.sql import functions as F

    from nass_summary_spark.functions.smalldf import local_struct_df
    from nass_summary_spark.streaming.domain_stream import domain_gate_stream

    rows = [(i, f"https://www.h{i % 3}.example.com/p/{i}") for i in range(90)]
    src = str(tmp_path_factory.mktemp("dgu_in"))
    spark.createDataFrame(rows, "doc_id long, url string").repartition(
        3
    ).write.mode("overwrite").parquet(src)
    out, state, ck = (
        f"file://{tmp_path_factory.mktemp(name)}"
        for name in ("dgu_out", "dgu_state", "dgu_ck")
    )
    bl = local_struct_df(spark, "host string", [("spam.example.net",)])
    q = domain_gate_stream(
        spark.readStream.schema("doc_id long, url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        "url", "doc_id", bl, 12, out, state, ck,
    )
    await_stream(q, 120)

    gated = read_shards(spark, out)
    assert gated.count() == 90
    assert gated.select("batch_id").distinct().count() >= 2
    kept = {
        r["host"]: r["count"]
        for r in gated.where(F.col("disposition") == "kept")
        .groupBy("host")
        .count()
        .collect()
    }
    assert sorted(kept.values()) == [12, 12, 12]


def test_sprt_stream_matches_batch_monitor(spark, sf_dir, tmp_path_factory):
    """C33: the SPRT decision sequence computed from streamed
    per-batch count shards must equal the batch monitor over the
    union of arrivals EXACTLY (integer constants + addition-merged
    BIGINT counts — no tolerance), for the engine's own micro-batch
    split."""
    from pyspark.sql import functions as F

    from nass_summary_spark.functions.parsing import epoch_micros
    from nass_summary_spark.operators.experiment import sprt_monitor
    from nass_summary_spark.streaming.sketch_stream import (
        sprt_decision_from_stream,
        sprt_ingest_stream,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    d = str(tmp_path_factory.mktemp("sprt_in"))
    ev.repartition(4).write.mode("overwrite").parquet(d)
    st = str(tmp_path_factory.mktemp("sprt_state"))
    ck = str(tmp_path_factory.mktemp("sprt_ck"))

    day = F.floor(epoch_micros(F.col("ts")) / F.lit(86_400_000_000))
    ok = F.col("user_id") % 3 == 0
    stream_in = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = sprt_ingest_stream(stream_in, "event_type", day, ok, st, ck)
    await_stream(q, 120)

    shards = read_shards(spark, st)
    assert shards.select("batch_id").distinct().count() >= 2

    got = sorted(
        tuple(r)
        for r in sprt_decision_from_stream(spark, st, 0.30, 0.36).collect()
    )
    daily = ev.groupBy(
        F.col("event_type").alias("arm"), day.alias("t")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(ok.cast("int")).cast("bigint").alias("x"),
    )
    want = sorted(
        tuple(r)
        for r in sprt_monitor(
            daily, "arm", "t", "n", "x", 0.30, 0.36
        ).collect()
    )
    assert got == want and got


def test_shard_protocol_spelled_only_in_sink():
    """The per-batch shard protocol lives in ``streaming/sink.py``:
    no other module of the package builds a ``batch_id=`` path, calls
    ``foreachBatch`` or sets ``availableNow``, and no streaming module
    lists directories with ``glob``."""
    import ast
    from pathlib import Path

    import nass_summary_spark

    root = Path(nass_summary_spark.__file__).parent
    users, globbers = set(), set()
    for p in root.rglob("*.py"):
        rel = p.relative_to(root).as_posix()
        tree = ast.parse(p.read_text())
        docstrings = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(
                n,
                (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
            )
            and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and "batch_id=" in n.value
                and id(n) not in docstrings
            ) or (
                isinstance(n, ast.Attribute) and n.attr == "foreachBatch"
            ) or (
                isinstance(n, ast.keyword) and n.arg == "availableNow"
            ):
                users.add(rel)
            if rel.startswith("streaming/") and (
                (
                    isinstance(n, ast.Import)
                    and any(a.name == "glob" for a in n.names)
                )
                or (isinstance(n, ast.ImportFrom) and n.module == "glob")
            ):
                globbers.add(rel)
    assert sorted(users) == ["streaming/sink.py"]
    assert not globbers


def test_stream_dedup_static_frame_unwatermarked(spark, sf_dir, events_batch):
    """On a static frame stream_dedup is a plain keyed dedup: ``ts``
    keeps its input type and the stream_dedup query's optimized plan
    carries no watermark."""
    from nass_summary_spark.plans.queries import QUERIES

    out = stream_dedup(events_batch, id_col="event_id")
    assert out.schema["ts"].dataType == events_batch.schema["ts"].dataType
    plan = QUERIES["stream_dedup"](spark, sf_dir)._jdf.queryExecution()
    assert "EventTimeWatermark" not in plan.optimizedPlan().toString()
