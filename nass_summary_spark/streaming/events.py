"""Event-stream operators (SURVEY.md §2 C1–C4).

Each stage is ONE function that accepts a static or a streaming
frame. On at-rest data it is the plan the DuckDB oracle checks; on a
``readStream`` frame it is the Structured Streaming stage, verified
in tests by running the file stream to completion and comparing to
the same function over the static frame. A stage with event-time
state takes a ``watermark`` lateness and applies it only when the
input ``isStreaming`` (:func:`_watermarked`): at 100 TB/day of
events the window / join state must evict, while a static frame
keeps exactly its batch plan.

Two stages keep a ``*_batch``/``*_stream`` pair because the stream
form is a different operator, not the same plan with a watermark:
``sessionize`` (a lag window over a sorted user partition vs the
built-in ``session_window`` aggregation) and ``unattributed_clicks``
(an anti join vs a watermarked outer join, the only form a stream
can emit "no purchase followed").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from nass_summary_spark.functions.smalldf import local_struct_df


def ensure_event_time(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Cast an event-time column to TIMESTAMP if it arrived as
    TIMESTAMP_NTZ (parquet without tz metadata): Structured Streaming
    watermarks accept only TIMESTAMP. The cast interprets wall clocks
    in the session timezone (sessions here pin UTC), preserving
    ordering and window arithmetic."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(events.schema[ts_col].dataType, TimestampNTZType):
        return events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return events


def _watermarked(
    events: DataFrame, watermark: str, ts_col: str = "ts"
) -> DataFrame:
    """Watermark a STREAMING frame on ``ts_col`` (cast to TIMESTAMP
    first, see :func:`ensure_event_time`); a static frame is returned
    unchanged, so a stage's batch plan carries no watermark node."""
    if not events.isStreaming:
        return events
    return ensure_event_time(events, ts_col).withWatermark(ts_col, watermark)


def windowed_agg(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window count/sum per event type. On a stream in
    append mode each (window, type) row lands once, when the
    watermark passes the window end."""
    return (
        _watermarked(events, watermark).groupBy(
            F.window(F.col("ts"), window).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal sum → exact, order-independent → oracle-stable
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def late_data_metrics_batch(
    events: DataFrame,
    arrival_batch,
    ts_col: str = "ts",
    delay_minutes: int = 10,
    window_minutes: int = 60,
    wm_lag: int = 1,
) -> DataFrame:
    """Observed-lateness / dropped-row metrics as a FIRST-CLASS
    output — the operational signal a watermark choice is tuned by
    ("how late does our data actually arrive, and what would this
    delay drop?"), computed with exactly Structured Streaming's
    watermark semantics:

    * ``arrival_batch`` (a caller-supplied column: micro-batch id,
      ingest file id, collector flush bucket) plays the role of the
      trigger interval — the watermark is CONSTANT within a batch
      and advances between batches;
    * the watermark entering batch b is ``max(event time over all
      batches < b) − delay`` (Spark updates the watermark from the
      previous batch's max at batch end);
    * a row is LATE if its event time is below the previous batches'
      high water mark, and DROPPED if its ``window_minutes`` tumbling
      window has already closed under the drop watermark
      (``window_end ≤ watermark``) — the state-eviction rule
      streaming aggregation actually applies (and what
      ``numRowsDroppedByWatermark`` counts, parity-tested in
      tests/test_streaming.py);
    * ``wm_lag`` sets how many batches the drop watermark trails the
      data that advanced it. 1 is the textbook definition (max of
      all previous batches — what the registered query's oracle
      replays); the engine measurably applies its late-input filter
      one batch later still (state for a window is evicted at the
      END of the batch whose entering watermark passed it, so a
      straggler in THAT batch still merges) — ``wm_lag=2``
      reproduces Spark's observed drops exactly, as the parity test
      pins.

    Scale shape: one batch-cardinality aggregation (tiny), ONE
    single-partition running-max window over that batch-level
    relation only (never over rows), broadcast back onto the fact
    scan — the fact table itself shuffles once for the final per-
    batch metric aggregation. Timestamps go through tz-independent
    ``epoch_micros`` (NTZ-safe). Returns (arrival_batch, n_events,
    n_late, n_dropped, max_late_us).
    """
    from pyspark.sql import Window

    from nass_summary_spark.functions.parsing import epoch_micros

    delay_us = delay_minutes * 60_000_000
    win_us = window_minutes * 60_000_000
    staged = events.withColumn("__b", arrival_batch).withColumn(
        "__e", epoch_micros(F.col(ts_col))
    )
    per_batch = staged.groupBy("__b").agg(F.max("__e").alias("__bmax"))
    wm = per_batch.withColumn(
        "__high",
        F.max("__bmax").over(
            Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
        ),
    ).withColumn(
        "__drop_high",
        F.max("__bmax").over(
            Window.orderBy("__b").rowsBetween(
                Window.unboundedPreceding, -int(wm_lag)
            )
        ),
    )
    joined = staged.join(
        F.broadcast(wm.select("__b", "__high", "__drop_high")), "__b"
    )
    wend = (F.floor(F.col("__e") / win_us) + 1) * win_us
    late = F.col("__high").isNotNull() & (F.col("__e") < F.col("__high"))
    dropped = F.col("__drop_high").isNotNull() & (
        wend <= F.col("__drop_high") - delay_us
    )
    return (
        joined.groupBy("__b")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(late, 1).otherwise(0)).alias("n_late"),
            F.sum(F.when(dropped, 1).otherwise(0)).alias("n_dropped"),
            F.max(F.when(late, F.col("__high") - F.col("__e"))).alias(
                "max_late_us"
            ),
        )
        .select(
            F.col("__b").alias("arrival_batch"),
            "n_events",
            "n_late",
            "n_dropped",
            "max_late_us",
        )
    )


def harvest_drop_metrics(query) -> list[dict]:
    """Per-micro-batch watermark observability from a (finished)
    streaming query's progress: rows dropped by the watermark and the
    watermark's position — the streaming counterpart the
    :func:`late_data_metrics_batch` parity test reads."""
    out = []
    for p in query.recentProgress:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        out.append(
            {
                "batch_id": p.get("batchId"),
                "rows_dropped": sum(
                    int(op.get("numRowsDroppedByWatermark", 0)) for op in ops
                ),
                "watermark": (p.get("eventTime") or {}).get("watermark"),
            }
        )
    return out


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap
    from the previous event exceeds ``gap_minutes``.

    Batch shape: lag → boundary flag → running sum (session index) →
    groupBy. Two windows over the same (user, ts) sort order = ONE
    shuffle; the aggregate reuses the same partitioning.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    # microsecond precision: second-truncating casts would move
    # events across the gap boundary relative to other engines.
    # epoch_micros (not unix_micros) so TIMESTAMP_NTZ event data —
    # parquet written without tz metadata — works and gaps are
    # timezone-independent.
    from nass_summary_spark.functions.parsing import epoch_micros

    gap = epoch_micros("ts") - F.lag(epoch_micros("ts")).over(w)
    boundary = F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1).otherwise(0)
    sessioned = events.withColumn("__b", boundary).withColumn(
        "session_idx", F.sum("__b").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sessioned.groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .drop("session_idx")
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    )


def sessionize_stream(events: DataFrame, gap_minutes: int = 30, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin via ``session_window`` — Spark's built-in
    gap-based session aggregation with watermark-evicted state.

    Note the built-in defines session extent as [first event, last
    event + gap); tests align the batch twin accordingly.
    """
    return (
        ensure_event_time(events).withWatermark("ts", watermark)
        .groupBy(
            F.session_window(F.col("ts"), f"{gap_minutes} minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(events: DataFrame, id_col: str = "event_id", watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-by-key dedup within the watermark horizon
    (``dropDuplicatesWithinWatermark`` keeps state bounded)."""
    deduped = ensure_event_time(events).withWatermark("ts", watermark)
    if hasattr(deduped, "dropDuplicatesWithinWatermark") and events.isStreaming:
        return deduped.dropDuplicatesWithinWatermark([id_col])
    return deduped.dropDuplicates([id_col])


def rate_per_window_batch(events: DataFrame, window: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding-window event rate per type (C4)."""
    return (
        events.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


#: Static enrichment dimension for the stream-static join (C6):
#: event_type → (category, weight). Deterministic literals so batch,
#: stream, and the SQL oracle agree exactly.
EVENT_TYPE_DIM: list[tuple[str, str, float]] = [
    ("click", "engagement", 1.0),
    ("view", "engagement", 0.5),
    ("purchase", "revenue", 10.0),
    ("signup", "growth", 5.0),
    ("error", "ops", 0.0),
]


def _event_type_dim(spark) -> DataFrame:
    return local_struct_df(
        spark, "event_type string, category string, weight double", EVENT_TYPE_DIM
    )


def enrich_join(events: DataFrame) -> DataFrame:
    """Stream-static enrichment (C6): events joined to the event-type
    dimension (broadcast — the dim is catalog-sized) and aggregated
    to weighted per-category totals. On a stream it needs no
    watermark: the static side is fixed per micro-batch (Spark
    re-plans the broadcast each batch, picking up dim updates) and
    aggregation state is bounded by category cardinality."""
    dim = F.broadcast(_event_type_dim(events.sparkSession))
    return (
        events.join(dim, "event_type")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("value") * F.col("weight")).cast("decimal(18,2)")
            ).cast("double").alias("weighted_value"),
        )
    )


#: Attribution lookback: a purchase is attributed to every click by
#: the same user in the preceding window.
ATTRIBUTION_WINDOW = "30 minutes"


def _attribution_sides(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return clicks, purchases


def _attribution_cond():
    return (
        (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}"))
    )


_ATTR_COLS = ["user_id", "click_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value"]


def attribution_pairs(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stream-stream join (C7): purchases attributed to same-user
    clicks within the lookback window. Executes as a hash equi-join
    on user_id with the time bound as residual — the join key is the
    user, so both sides co-partition on one shuffle. On a stream both
    sides are watermarked; the time-range predicate lives IN the join
    condition, which is what lets Spark derive a state-eviction
    constraint (buffered clicks are dropped once the purchase
    watermark passes click_ts + window), so join state is bounded by
    (rate × lookback), not by stream length."""
    clicks, purchases = _attribution_sides(events)
    purchases = purchases.withColumnRenamed("user_id", "__p_user")
    cond = (F.col("user_id") == F.col("__p_user")) & _attribution_cond()
    return (
        _watermarked(clicks, watermark, "click_ts")
        .join(_watermarked(purchases, watermark, "purchase_ts"), cond)
        .select(*_ATTR_COLS)
    )


def unattributed_clicks_batch(events: DataFrame) -> DataFrame:
    """Stream-stream OUTER join (C21), batch twin: clicks that NO
    same-user purchase followed within the lookback — the
    non-converting side an attribution pipeline bids against, which
    the inner join (C7) structurally cannot emit. LEFT ANTI on the
    same co-partitioned user equi-join + residual time bound: one
    shuffle, no pair materialization for matched clicks. Returns
    (user_id, click_id, click_ts)."""
    clicks, purchases = _attribution_sides(events)
    purchases = purchases.withColumnRenamed("user_id", "__p_user")
    cond = (F.col("user_id") == F.col("__p_user")) & _attribution_cond()
    return clicks.join(purchases, cond, "left_anti").select(
        "user_id", "click_id", "click_ts"
    )


def unattributed_clicks_stream(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin: a watermarked stream-stream LEFT OUTER join —
    the harder join mode, because "no purchase arrived" is only
    decidable once the purchase watermark passes the click's whole
    lookback window; Spark buffers the click in join state until
    then and emits the null-padded row at eviction. Same bounded
    state argument as C7 (rate × lookback), plus the outer rows'
    emission is itself watermark-driven — parity-tested against the
    batch anti join in tests/test_streaming.py."""
    clicks, purchases = _attribution_sides(events)
    purchases = purchases.withColumnRenamed("user_id", "__p_user")
    cond = (F.col("user_id") == F.col("__p_user")) & _attribution_cond()
    joined = _watermarked(clicks, watermark, "click_ts").join(
        _watermarked(purchases, watermark, "purchase_ts"),
        cond,
        "left_outer",
    )
    return joined.where(F.col("purchase_id").isNull()).select(
        "user_id", "click_id", "click_ts"
    )


def funnel_batch(
    events: DataFrame,
    steps: tuple[str, ...] = ("click", "view", "purchase"),
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: per user, the earliest time each step
    can complete given the previous step already happened (strictly
    later timestamps); output one row per step with how many users
    reached it and the conversion rate from step 1.

    Shape: ONE shuffle — a single user-partitioned sort feeds
    ``min(when(...))`` conditional aggregates computed stepwise over
    window minimums, then ONE global aggregate exploded to
    per-step rows. No
    self-joins (the naive form joins the events table once per step);
    event rows never shuffle more than once.
    """
    from pyspark.sql import Window

    cur = events.select(
        F.col(user_col).alias("user"), F.col(ts_col).alias("t"), F.col(type_col).alias("et")
    )
    w = Window.partitionBy("user")
    # stepwise: t_k = min ts of step-k events strictly after t_{k-1};
    # each level is a window-min over the SAME user partitioning, so
    # Catalyst plans one Exchange and stacks the Window operators
    prev = None
    for i, step in enumerate(steps):
        cond = F.col("et") == F.lit(step)
        if prev is not None:
            cond = cond & (F.col("t") > F.col(prev))
        cur = cur.withColumn(f"__s{i}", F.min(F.when(cond, F.col("t"))).over(w))
        prev = f"__s{i}"
    reached = cur.groupBy("user").agg(
        *[F.max(f"__s{i}").alias(f"s{i}") for i in range(len(steps))]
    )
    # ONE global aggregate (per-step user counts as columns), exploded
    # to rows — a per-step union would recompute the window plan once
    # per step
    agg = reached.agg(
        *[F.count(F.col(f"s{i}")).cast("bigint").alias(f"c{i}") for i in range(len(steps))]
    )
    rows = agg.select(
        F.col("c0"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).alias("step_idx"),
                        F.lit(step).alias("step"),
                        F.col(f"c{i}").alias("n_users"),
                    )
                    for i, step in enumerate(steps)
                ]
            )
        ).alias("r"),
    )
    return rows.select(
        F.col("r.step_idx").alias("step_idx"),
        F.col("r.step").alias("step"),
        F.col("r.n_users").alias("n_users"),
        F.round(F.col("r.n_users") / F.col("c0").cast("double"), 6).alias("conversion"),
    )


# --- geo zone occupancy (C11) ----------------------------------------------


def _event_points(events: DataFrame) -> DataFrame:
    """Events as half-offset integer-lattice points (never on a zone
    edge, so ray-cast boundary behavior is unreachable — same
    derivation as the F4 batch query)."""
    k = F.col("event_id")
    return events.withColumn(
        "x", ((k * 29) % 1000 + 0.5).cast("double")
    ).withColumn("y", ((k * 71) % 1000 + 0.5).cast("double"))


def zone_window(
    events: DataFrame,
    zones: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed zone occupancy (C11): events become points, the grid
    spatial join assigns containing zones (operators/geo.py), and a
    tumbling window counts per (window, zone). ``arrow=False``: the
    pure-HOF ray-cast keeps the plan fully deterministic/JVM —
    required on a stream, and micro-batch volumes never reach the
    Arrow path's break-even. On a stream the zone table stays STATIC
    (broadcast re-planned per micro-batch, like :func:`enrich_join`)
    and the watermark bounds windowed-aggregation state: geometry
    composes with Structured Streaming because it is just a
    broadcast equi-join plus a deterministic JVM predicate."""
    from nass_summary_spark.operators.geo import points_in_polygons

    hits = points_in_polygons(
        _event_points(_watermarked(events, watermark)),
        zones, 64.0, ring_col="zone_ring", arrow=False,
    )
    return (
        hits.groupBy(F.window(F.col("ts"), window).alias("w"), F.col("cmz"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "cmz",
            "n_events",
            "sum_value",
        )
    )


def drift_window_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """C13, stage 1: per-(window, event_type) counts — on a stream the
    only stateful stage of the drift monitor, state bounded by
    watermark horizon × type cardinality."""
    return (
        _watermarked(events, watermark).groupBy(
            F.window(F.col("ts"), window).alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def drift_finish(counts: DataFrame, baseline: DataFrame, round_dp: int = 8) -> DataFrame:
    """C13, stage 2: per-window KL divergence of the window's
    event_type distribution against a BASELINE distribution
    (event_type, p).  A pure batch projection over stage 1's counts —
    in streaming it runs inside foreachBatch on the finalized window
    rows (the C9 pattern), so no multi-level streaming aggregation is
    needed.  Types absent from a window contribute no term (their
    window probability is 0).  A type present in a window but ABSENT
    from the baseline makes the KL mathematically +inf: the baseline
    is LEFT-joined so such rows survive, ``n_events`` stays the true
    window count, and ``kl`` comes back NULL — the strongest possible
    drift alert, never a silent drop.  Baseline is broadcast
    (type-cardinality sized).  Output: (window_start, n_events, kl)."""
    tot = counts.groupBy("window_start").agg(F.sum("n").alias("nw"))
    return (
        counts.join(F.broadcast(tot), "window_start")
        .join(F.broadcast(baseline), "event_type", "left")
        .select(
            "window_start",
            F.col("n"),
            F.col("p"),
            (
                (F.col("n") / F.col("nw"))
                * F.log((F.col("n") / F.col("nw")) / F.col("p"))
            ).alias("term"),
        )
        .groupBy("window_start")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.when(
                F.max(F.col("p").isNull().cast("int")) == 1, F.lit(None).cast("double")
            )
            .otherwise(F.round(F.sum("term"), round_dp))
            .alias("kl"),
        )
    )


def type_baseline(events: DataFrame) -> DataFrame:
    """Baseline event_type distribution from a reference corpus (in
    the demo: the same batch data; in production: a trusted
    historical slice) — (event_type, p)."""
    c = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    t = events.agg(F.count(F.lit(1)).cast("double").alias("t"))
    return c.join(F.broadcast(t)).select(
        "event_type", (F.col("c") / F.col("t")).alias("p")
    )


def trending_window_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """C14, stage 1: per-(window, user) event counts — on a stream,
    watermarked windowed counts keyed by a HIGH-cardinality dimension
    (users): state bounded by watermark horizon × active users, the
    stress case the low-cardinality drift monitor (C13) doesn't
    exercise."""
    return (
        _watermarked(events, watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n")
    )


def trending_finish(counts: DataFrame, k: int = 3) -> DataFrame:
    """C14, stage 2: per-window top-k by count (total-order
    tie-break) — a pure ranking projection over stage 1's counts; in
    streaming it runs inside foreachBatch over finalized windows
    (the C9/C13 pattern).  Compiles to a partial WindowGroupLimit
    before the exchange, like every other top-k in the repo."""
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("user_id").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )
