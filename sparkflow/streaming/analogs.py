"""Streaming patterns (SURVEY §2.9) — the heart of the Flink pattern
catalog, as oracle-checkable event-time computations.

The driver oracle is batch, so each pattern here is its *batch
event-time analog*: the same event-time semantics evaluated over the
bounded `events` table (SURVEY §2.9's analog strategy — sound because
Spark's watermark-gated windows and Flink's are defined on event time,
not arrival time). True streaming twins (readStream + watermarks +
Trigger.AvailableNow, transformWithStateInPandas with timers) live in
streaming/stateful.py and are exercised by pytest; `stream_tumbling`
runs as a REAL streaming query even here, proving the equivalence the
other analogs rely on.

Flink-side equivalents per op are noted in each docstring (public
DataStream API vocabulary — TumblingEventTimeWindows, SessionWindows,
KeyedProcessFunction + ValueState/timers, CEP Pattern, dedup-with-TTL).

Scale notes: every analog is a window function or groupBy over the key
— one shuffle, no driver-side loops. The true-streaming forms use
watermarks to bound state (the 100 TB requirement); globally-ordered
constructs appear ONLY where Flink's semantics are inherently global
(the watermark itself), marked below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import normalize_ts, table
from ..oracle_compat import cents
from ..registry import register

# µs-precision hour bucket, identical in both engines.
_SPARK_HOUR = "timestamp_micros(((unix_micros(ts) div 1000000) div 3600) * 3600 * 1000000)"
_SQL_HOUR = "make_timestamp(((epoch_us(ts)//1000000//3600)*3600)*1000000)"


@register(
    "stream_tumbling",
    oracle="""
    SELECT make_timestamp(((epoch_us(ts)//1000000//3600)*3600)*1000000) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           (CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS value_sum
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time window (TumblingEventTimeWindows.of(1h))
    — run as a TRUE Structured Streaming query: file-stream source →
    F.window aggregation → memory sink via Trigger.AvailableNow. The
    result equals the batch date_trunc analog, which is exactly the
    equivalence the other analogs in this module rely on."""
    table(spark, sf_dir, "events")  # set nanos conf
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        normalize_ts(
            spark.readStream.schema(raw_schema).parquet(f"{sf_dir}/events*.parquet")
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("hour_start"), "event_type", "n_events", "value_sum"
        )
    )
    name = "sparkflow_tumbling_sink"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_sliding",
    oracle="""
    SELECT make_timestamp((((epoch_us(ts)//1000000//900)*900) - k.k*900)*1000000)
             AS window_start,
           COUNT(*) AS n_events,
           (CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS value_sum
    FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) k(k)
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h window sliding every 15min (SlidingEventTimeWindows): each event
    belongs to exactly 4 windows. F.window(ts, 1h, 15m) does the fan-out
    natively (works identically on batch and streaming DataFrames); the
    oracle reproduces it with an explicit 4-way bucket expansion."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "value_sum")
    )


@register(
    "stream_session",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800*1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           (CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS value_sum
    FROM sess GROUP BY user_id, sess_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with 30-min gap
    (EventTimeSessionWindows.withGap): native F.session_window — Spark
    merges adjacent intervals per key, the same merge a Flink session
    window performs. The oracle is the classic lag-gap → cumulative
    session-id rewrite; pytest asserts both forms agree (SURVEY §7
    hard-item 4)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


@register(
    "events_sessionize",
    oracle="""
    WITH marked AS (
      SELECT event_id, user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800*1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked
    )
    SELECT event_id, user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
                                   ORDER BY ts, event_id) AS BIGINT)
             AS event_in_session
    FROM sess
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-level SESSION-ID ASSIGNMENT — the assignment twin of
    stream_session's aggregate form: every event gets (session_seq,
    event_in_session) under the same 30-min inactivity-gap rule, which
    is what downstream per-session feature extraction actually joins on
    (a session AGGREGATE cannot be joined back to events without
    recomputing the gap logic). Classic lag-gap → running-sum rewrite:
    one shuffle on user_id, two window passes over the same sorted
    partition (Catalyst plans them in a single Window stage chain, no
    second exchange). event_in_session falls out of the same marks:
    global row_number minus the row_number at the session's opening
    event. Order is (ts, event_id) everywhere — total and
    engine-identical under ties."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    marked = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    rn = F.row_number().over(w)
    opener_rn = F.max(F.when(F.col("is_new") == 1, rn)).over(wrun)
    return marked.select(
        "event_id",
        "user_id",
        F.sum("is_new").over(wrun).cast("bigint").alias("session_seq"),
        (rn - opener_rn + 1).cast("bigint").alias("event_in_session"),
    )


@register(
    "stream_watermark_late",
    oracle="""
    WITH wm AS (
      SELECT event_type, ts,
             MAX(ts) OVER (ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS arrival_max_ts
      FROM events
    )
    SELECT event_type,
           COUNT(CASE WHEN epoch_us(arrival_max_ts) - epoch_us(ts)
                           <= 600*1000000 THEN 1 END) AS n_kept,
           COUNT(CASE WHEN epoch_us(arrival_max_ts) - epoch_us(ts)
                           >  600*1000000 THEN 1 END) AS n_late
    FROM wm GROUP BY event_type
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-out-of-orderness watermark + late-data side output
    (WatermarkStrategy.forBoundedOutOfOrderness(10m) + side output): an
    event is late if it arrives (event_id = arrival order) more than 10
    minutes behind the running max event time — precisely the Flink/Spark
    watermark definition. Kept/late routed to two counters per type (the
    filter-split side-output pattern).

    Scale shape (r14, r13 verdict item 1): the running max over arrival
    order is a BANDED prefix max, never a global single-task window —
    the same transformation as `win_rank_dense_ntile`'s banded rank:

    1. Range-band the stream on `event_id` (broadcast percentile cut
       points; event_id is unique, so banding is trivially
       order-consistent and the bands are balanced).
    2. Running max WITHIN each band in parallel
       (``Window.partitionBy("band")``).
    3. The cross-band carry is each band's prefix max — a broadcast
       triangular self-join over the B-row band-stats table; the global
       running max at any row is greatest(within-band running max,
       prefix max of earlier bands). Exact because band(e) is monotone
       in event_id: every event of an earlier band arrived earlier.

    No unpartitioned Window or table-row single-partition Exchange
    remains (pinned in tests/test_plans.py). The true streaming form
    (withWatermark, pytest twin) is per-executor-merged; this batch
    plan now has the same no-global-sort property."""
    n_bands = 32
    ev = table(spark, sf_dir, "events")
    cuts = ev.select(
        F.percentile_approx(
            "event_id", [i / n_bands for i in range(1, n_bands)], 10000
        ).alias("cuts")
    )
    banded = ev.crossJoin(F.broadcast(cuts)).withColumn(
        "band", F.size(F.filter("cuts", lambda c: F.col("event_id") > c))
    )
    wb = (
        Window.partitionBy("band")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = banded.select(
        "event_type", "ts", "band", F.max("ts").over(wb).alias("loc_max")
    )
    stats = banded.groupBy("band").agg(F.max("ts").alias("band_max"))
    a, b = stats.alias("a"), stats.alias("b")
    prefix = (
        a.join(F.broadcast(b), F.col("b.band") < F.col("a.band"), "left")
        .groupBy(F.col("a.band").alias("band"))
        .agg(F.max("b.band_max").alias("prefix_max"))
    )
    run_max = F.greatest("loc_max", "prefix_max")  # null-skipping (band 0)
    lateness = F.unix_micros(run_max) - F.unix_micros(F.col("ts"))
    flagged = local.join(F.broadcast(prefix), "band").select(
        "event_type", (lateness > 600 * 1_000_000).alias("is_late")
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.when(~F.col("is_late"), 1)).alias("n_kept"),
        F.count(F.when(F.col("is_late"), 1)).alias("n_late"),
    )


@register(
    "stream_dedup",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per (user_id, event_type) — the classic Flink keyed
    ValueState seen-flag + TTL dedup. Batch analog: row_number()=1.
    The true streaming twin is dropDuplicatesWithinWatermark (pytest),
    whose watermark TTL is what bounds state at 100 TB."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )


@register(
    "stream_stateful_counter",
    oracle="""
    SELECT event_id, user_id, ts,
           COUNT(*) OVER w AS running_count,
           (CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w AS DOUBLE)
             / 100.0) AS running_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running count + sum emitted per event — the canonical
    KeyedProcessFunction + ValueState pattern. Batch analog: cumulative
    window. True twin: transformWithStateInPandas StatefulProcessor
    (streaming/stateful.py), pytest-asserted equal to this."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("running_count"),
        (F.sum(cents("value")).over(w).cast("double") / 100.0).alias("running_sum"),
    )


@register(
    "stream_timeout_session",
    oracle="""
    SELECT user_id, event_id, ts AS quiet_since,
           (epoch_us(LEAD(ts) OVER w) - epoch_us(ts)) // 1000000 AS silence_seconds
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    QUALIFY LEAD(ts) OVER w IS NULL
         OR epoch_us(LEAD(ts) OVER w) - epoch_us(ts) > 1800*1000000
    """,
)
def stream_timeout_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'User went quiet' after 30 min of inactivity — the
    registerEventTimeTimer pattern (timer fires when no newer event
    resets it). Batch analog: lead-gap > 30 min, or no next event at all
    (final silence, silence_seconds NULL). True twin with real timers in
    streaming/stateful.py."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    gap_us = F.unix_micros(nxt) - F.unix_micros(F.col("ts"))
    return (
        ev.select(
            "user_id",
            "event_id",
            F.col("ts").alias("quiet_since"),
            (gap_us / F.lit(1_000_000)).cast("long").alias("silence_seconds"),
            nxt.alias("_nxt"),
            gap_us.alias("_gap"),
        )
        .filter(F.col("_nxt").isNull() | (F.col("_gap") > 1800 * 1_000_000))
        .drop("_nxt", "_gap")
    )


@register(
    "stream_cep_funnel",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts,
             MAX(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_view_ts
      FROM events
    ), with_click AS (
      SELECT *,
             MAX(CASE WHEN event_type = 'click' THEN last_view_ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS best_view_before_click
      FROM ordered
    )
    SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
           best_view_before_click AS funnel_open_ts
    FROM with_click
    WHERE event_type = 'purchase'
      AND best_view_before_click IS NOT NULL
      AND epoch_us(ts) - epoch_us(best_view_before_click) <= 86400000000
    """,
)
def stream_cep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP funnel view →(followedBy) click →(followedBy) purchase within
    24 hours (FlinkCEP Pattern.begin('view').followedBy('click')
    .followedBy('purchase').within(24h); 24h chosen so the testdata's
    ~10h per-user event spacing yields matches at every SF).

    NFA-free formulation in two carried windows: (1) latest view at or
    before each event; (2) over clicks, the latest such view — i.e. the
    best funnel-opening view that already has a click after it. A
    purchase completes the funnel iff that carried view is within 1h.
    Maximizing the view timestamp is optimal, so this detects exactly the
    existence of a matching triple — linear per key, no triple self-join
    blow-up, which is what makes it viable at 100 TB."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_view = F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = ev.withColumn("last_view_ts", last_view)
    best = F.max(
        F.when(F.col("event_type") == "click", F.col("last_view_ts"))
    ).over(w)
    staged = staged.withColumn("best_view_before_click", best)
    return (
        staged.filter(
            (F.col("event_type") == "purchase")
            & F.col("best_view_before_click").isNotNull()
            & (
                F.unix_micros("ts") - F.unix_micros("best_view_before_click")
                <= 86400 * 1_000_000
            )
        )
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("best_view_before_click").alias("funnel_open_ts"),
        )
    )


@register(
    "stream_cep_negation",
    oracle="""
    WITH nxt AS (
      SELECT user_id, event_id, event_type, ts,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_purchase_ts
      FROM events
    )
    SELECT user_id, event_id AS view_id, ts AS view_ts, next_purchase_ts
    FROM nxt
    WHERE event_type = 'view'
      AND (next_purchase_ts IS NULL
           OR epoch_us(next_purchase_ts) - epoch_us(ts) > 3600000000::BIGINT)
    """,
)
def stream_cep_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP negation — FlinkCEP `begin('view').notFollowedBy('purchase')
    .within(1h)`: views with NO purchase by the same user in the next
    hour (the abandoned-funnel query every funnel user writes next).

    NFA-free and anti-join-free: one forward-looking window carries the
    EARLIEST following purchase per user; the negation holds iff it is
    absent or beyond the horizon. Linear per key with a single shuffle —
    the naive formulation (left anti range-join views×purchases) pays a
    second shuffle and a per-row range probe. Streaming twin: the same
    pattern through `CepPattern.compile_stream`, whose terminal-negation
    hold keeps each view in keyed state until the watermark passes
    view_ts + 1h — the timer FlinkCEP would set for the `within`
    clause — and emits it iff no purchase arrived in the interval."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("next_purchase_ts", next_purchase)
        .filter(
            (F.col("event_type") == "view")
            & (
                F.col("next_purchase_ts").isNull()
                | (
                    F.unix_micros("next_purchase_ts") - F.unix_micros("ts")
                    > 3600 * 1_000_000
                )
            )
        )
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
            "next_purchase_ts",
        )
    )


@register(
    "stream_cep_times",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id, ts,
             LAG(ts, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS ts_2back
      FROM events WHERE event_type = 'click'
    )
    SELECT user_id, event_id AS streak_end_id,
           ts_2back AS streak_start_ts, ts AS streak_end_ts
    FROM clicks
    WHERE ts_2back IS NOT NULL
      AND epoch_us(ts) - epoch_us(ts_2back) <= 86400000000::BIGINT
    """,
)
def stream_cep_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP quantifier — FlinkCEP `Pattern.begin('click').times(3)
    .within(24h)` (contiguous relaxed to same-type stream): every point
    where a user's 3rd consecutive click lands within 24 h of the 1st.

    The `times(n)` NFA collapses to ONE lag(n-1) window over the
    filtered event stream: each row sees the timestamp n-1 same-type
    events back; the quantifier matches iff the span fits the window.
    Linear per key, one shuffle — `oneOrMore` is the same shape with a
    running count instead of a fixed lag."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_2back = F.lag("ts", 2).over(w)
    return (
        ev.withColumn("ts_2back", ts_2back)
        .filter(
            F.col("ts_2back").isNotNull()
            & (
                F.unix_micros("ts") - F.unix_micros("ts_2back")
                <= 86400 * 1_000_000
            )
        )
        .select(
            "user_id",
            F.col("event_id").alias("streak_end_id"),
            F.col("ts_2back").alias("streak_start_ts"),
            F.col("ts").alias("streak_end_ts"),
        )
    )


@register(
    "stream_window_topn",
    oracle="""
    WITH hourly AS (
      SELECT make_timestamp(((epoch_us(ts)//1000000//3600)*3600)*1000000)
               AS hour_start,
             user_id, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT hour_start, user_id, n_events, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY hour_start
                                   ORDER BY n_events DESC, user_id) AS rn
      FROM hourly
    ) WHERE rn <= 3
    """,
)
def stream_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed Top-N (the canonical Flink SQL pattern: ROW_NUMBER over
    a window aggregate, rn <= N — 'top 3 most active users per hour').
    Two shuffles total: the (hour, user) partial-agg exchange, then the
    per-hour rank window; the rank input is already one row per (hour,
    user), orders of magnitude smaller than the event stream. In true
    streaming this runs as a watermarked tumbling aggregate feeding an
    in-memory per-window heap (the analog's row_number)."""
    ev = table(spark, sf_dir, "events")
    hour = F.expr(
        "timestamp_micros(((unix_micros(ts) div 1000000) div 3600) * 3600 * 1000000)"
    )
    hourly = ev.groupBy(hour.alias("hour_start"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("hour_start").orderBy(
        F.col("n_events").desc(), "user_id"
    )
    return (
        hourly.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("hour_start", "user_id", "n_events", "rn")
    )


@register(
    "stream_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT user_id,
             make_timestamp(((MIN(epoch_us(ts))//1000000//3600)*3600)*1000000) AS h0,
             make_timestamp(((MAX(epoch_us(ts))//1000000//3600)*3600)*1000000) AS h1
      FROM events GROUP BY user_id
    ), spine AS (
      SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM bounds
    ), hourly AS (
      SELECT user_id,
             make_timestamp(((epoch_us(ts)//1000000//3600)*3600)*1000000) AS hour,
             MAX_BY(value, ts) AS hour_value
      FROM events GROUP BY 1, 2
    )
    SELECT s.user_id, s.hour,
           LAST_VALUE(h.hour_value IGNORE NULLS)
             OVER (PARTITION BY s.user_id ORDER BY s.hour
                   ROWS UNBOUNDED PRECEDING) AS filled_value
    FROM spine s LEFT JOIN hourly h
      ON s.user_id = h.user_id AND s.hour = h.hour
    """,
)
def stream_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: one row per (user, hour) between the user's
    first and last event, carrying the last observed value through empty
    hours — the KeyedProcessFunction-with-timers carry-forward pattern
    [RECALL: this author's signature time-series pattern, SURVEY §2.9].

    Spark-first: hour spine via sequence()+explode (no timer machinery),
    left join the hourly last-values, last(ignorenulls) carry-forward.
    (user_id, ts) is unique in the data (verified), so max_by(value, ts)
    is deterministic."""
    ev = table(spark, sf_dir, "events")
    hour = F.expr(_SPARK_HOUR)
    bounds = ev.groupBy("user_id").agg(
        F.min(hour).alias("h0"), F.max(hour).alias("h1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    hourly = (
        ev.withColumn("hour", hour)
        .groupBy("user_id", "hour")
        .agg(F.max_by("value", "ts").alias("hour_value"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hour"], "left")
        .withColumn("filled_value", F.last("hour_value", ignorenulls=True).over(w))
        .select("user_id", "hour", "filled_value")
    )


@register(
    "stream_dynamic_rules",
    oracle="""
    WITH rules AS (
      SELECT 'click' AS rule_type, 5.0 AS threshold UNION ALL
      SELECT 'purchase', 10.0 UNION ALL
      SELECT 'error', 1.0
    )
    SELECT e.event_id, e.event_type, e.value, r.threshold,
           CASE WHEN e.value > r.threshold THEN 1 ELSE 0 END AS alert
    FROM events e JOIN rules r ON e.event_type = r.rule_type
    """,
)
def stream_dynamic_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-state dynamic rules (Flink's BroadcastProcessFunction:
    a low-volume control stream of rules replicated to all tasks,
    applied to the high-volume event stream). Batch analog: the rule set
    as a broadcast-joined tiny DataFrame. The true-streaming twin
    (streaming/stateful.py dynamic_rules_stream) re-reads the rules
    location every micro-batch, so rule changes land without restarting
    the query — pytest swaps the rules file between batches and asserts
    both rule versions took effect."""
    rules = spark.createDataFrame(
        [("click", 5.0), ("purchase", 10.0), ("error", 1.0)],
        "rule_type string, threshold double",
    )
    ev = table(spark, sf_dir, "events")
    return ev.join(F.broadcast(rules), ev.event_type == rules.rule_type).select(
        "event_id",
        "event_type",
        "value",
        "threshold",
        F.when(F.col("value") > F.col("threshold"), 1).otherwise(0).alias("alert"),
    )


@register(
    "events_markov_chain",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type AS a,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events
    ),
    trans AS (
      SELECT a, b, COUNT(*) AS n_ab FROM ordered
      WHERE b IS NOT NULL GROUP BY a, b
    ),
    totals AS (SELECT a, SUM(n_ab) AS n_a FROM trans GROUP BY a),
    p1 AS (
      SELECT t.a, t.b, t.n_ab,
             CAST((t.n_ab * 1000000) // x.n_a AS BIGINT) AS p_e6
      FROM trans t JOIN totals x ON t.a = x.a
    ),
    p2 AS (
      SELECT l.a AS a, r.b AS c,
             CAST(SUM(l.p_e6 * r.p_e6) // 1000000 AS BIGINT) AS p2_e6
      FROM p1 l JOIN p1 r ON l.b = r.a
      GROUP BY l.a, r.b
    )
    SELECT p1.a AS from_type, p1.b AS to_type,
           CAST(p1.n_ab AS BIGINT) AS n_trans, p1.p_e6 AS p1_e6,
           COALESCE(p2.p2_e6, 0) AS p2_e6
    FROM p1 LEFT JOIN p2 ON p1.a = p2.a AND p1.b = p2.c
    """,
)
def events_markov_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern analysis: the per-user event-type Markov
    chain — 1-step transition probabilities from consecutive-event pairs,
    plus the 2-step probability (matrix square) for each observed
    transition. The CEP-adjacent 'what follows what' question asked of
    clickstreams, answered relationally.

    Exactness: probabilities are fixed-point integers
    (floor(n_ab·1e6/n_a)); the 2-step entries sum int64 products and
    floor-divide once — order-independent, bit-identical to the oracle.

    Scale: one shuffle for the per-user lead() window over the corpus;
    everything after operates on the |event_types|² transition matrix —
    constant-size no matter how many events flowed in. The matrix
    self-join is name-based (renamed projections), never attribute refs
    on one plan (which Catalyst resolves trivially-true)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("a"),
            F.lead("event_type").over(w).alias("b"),
        )
        .filter(F.col("b").isNotNull())
    )
    trans = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    totals = trans.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    p1 = (
        trans.join(F.broadcast(totals), "a")
        .withColumn("p_e6", F.expr("(n_ab * 1000000) div n_a"))
        .select("a", "b", "n_ab", "p_e6")
    )
    left = p1.select(F.col("a"), F.col("b").alias("mid"), F.col("p_e6").alias("pl"))
    right = p1.select(F.col("a").alias("mid"), F.col("b").alias("c"), F.col("p_e6").alias("pr"))
    p2 = (
        left.join(right, "mid")
        .groupBy("a", "c")
        .agg(F.expr("CAST(sum(pl * pr) div 1000000 AS BIGINT)").alias("p2_e6"))
        .select(F.col("a").alias("from_type"), F.col("c").alias("to_type"), "p2_e6")
    )
    direct = p1.select(
        F.col("a").alias("from_type"),
        F.col("b").alias("to_type"),
        F.col("n_ab").cast("bigint").alias("n_trans"),
        F.col("p_e6").alias("p1_e6"),
    )
    return direct.join(p2, ["from_type", "to_type"], "left").select(
        "from_type",
        "to_type",
        "n_trans",
        "p1_e6",
        F.coalesce(F.col("p2_e6"), F.lit(0)).cast("bigint").alias("p2_e6"),
    )


@register(
    "stream_changelog_cdc",
    oracle="""
    WITH ops AS (
      SELECT user_id, ts, event_id, value,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op
      FROM events
    ),
    last_op AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM ops
    )
    SELECT user_id, event_id AS last_event_id, value AS final_value
    FROM last_op WHERE rn = 1 AND op <> 'D'
    """,
)
def stream_changelog_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog/CDC materialization (Flink retract-stream → table; Spark
    update-mode sink): interpret events as an upsert/delete changelog
    (signup=INSERT, click/view/purchase=UPSERT, error=DELETE) and
    materialize the final table state — a user survives iff their
    LAST op in (ts, event_id) order is not a delete, carrying that op's
    value. Batch analog of applying a Debezium-style feed.

    Last-writer-wins needs only the max-(ts,event_id) row per key: one
    shuffle, and at 100 TB the window degenerates to a max-aggregation
    with map-side partials (no per-key history retained) — the same
    reason Flink's changelog state is O(keys), not O(ops)."""
    ev = table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select("user_id", "ts", "event_id", "value", op.alias("op"))
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("final_value"),
        )
    )


@register(
    "events_attribution",
    oracle="""
    WITH tagged AS (
      SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS t_us
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    attributed AS (
      SELECT user_id, event_id, event_type, t_us,
             MAX(CASE WHEN event_type = 'click' THEN event_id END)
               OVER (PARTITION BY user_id ORDER BY t_us
                     RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
               AS last_touch_click,
             MIN(CASE WHEN event_type = 'click' THEN event_id END)
               OVER (PARTITION BY user_id ORDER BY t_us
                     RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
               AS first_touch_click
      FROM tagged
    )
    SELECT user_id, event_id AS purchase_id,
           first_touch_click, last_touch_click
    FROM attributed WHERE event_type = 'purchase'
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: for every purchase, the first-touch and
    last-touch click of the same user within the preceding 24 h — the
    conversion-credit query behind every ads pipeline. One RANGE frame
    on event-time microseconds computes both touches in a single pass
    (conditional MIN/MAX over the trailing day); no self-join, no
    per-purchase probe.

    Caveat shared with the oracle: MAX(event_id) stands in for
    'latest click' (event_id order ≈ time order within a user-day);
    a same-µs click+purchase tie is included by the RANGE frame on both
    sides identically. Scale: one shuffle on user_id; frame state is
    bounded by the 24 h horizon."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    t_us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(t_us)
        .rangeBetween(-86_400_000_000, Window.currentRow)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    attributed = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.max(click_id).over(w).alias("last_touch_click"),
        F.min(click_id).over(w).alias("first_touch_click"),
    )
    return attributed.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        "first_touch_click",
        "last_touch_click",
    )


@register(
    "events_retention_cohort",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(epoch_us(ts) // 604800000000) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             f.cohort_week,
             (epoch_us(e.ts) // 604800000000) - f.cohort_week AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM activity GROUP BY cohort_week, week_offset
    """,
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted as
    active in each subsequent week — the triangle matrix behind every
    retention dashboard. Two passes expressed as one plan: per-user min
    (the cohort) rejoined to the activity stream, then distinct
    (user, week) counting per (cohort, offset).

    Scale: both aggregations key on user_id / (cohort, offset) with
    map-side partials; the firsts table is user-cardinality (broadcast
    when users ≪ events, AQE's call). Epoch-week integer division is
    identical in both engines."""
    ev = table(spark, sf_dir, "events")
    week = F.expr("unix_micros(ts) div 604800000000")
    firsts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = (
        ev.select("user_id", week.alias("w"))
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("w") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active_users")
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x
      FROM events
    ),
    stats AS (
      SELECT user_id, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS q
      FROM c GROUP BY user_id
    )
    SELECT c.event_id, c.user_id,
           CAST(c.n * c.x - c.s AS BIGINT) AS dev_num,
           ((c.n * c.x - c.s) * (c.n * c.x - c.s)
              > 9 * (c.n * c.q - c.s * c.s)) AS is_anomaly
    FROM (SELECT c.*, s.n, s.s, s.q FROM c JOIN stats s USING (user_id)) c
    WHERE c.n >= 10
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly flags (|x − μ| > 3σ per user) with NO floating
    point: the test (n·x − S)² > 9·(n·Q − S²) is algebra-identical to
    z² > 9 over population moments (S = Σx, Q = Σx², cents-integer x)
    and stays entirely in int64 — the determinism trick that makes an
    anomaly detector reproducible across engines, partitionings, and
    reruns (a double-σ threshold flickers on re-aggregation order).

    Scale: one moments pass per user (algebraic, map-side partials), one
    rejoin — the same two-pass shape as the versioned-dim join; the
    per-user moments table broadcasts when users ≪ events."""
    ev = table(spark, sf_dir, "events")
    c = ev.select("event_id", "user_id", cents("value").alias("x"))
    stats = c.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    j = c.join(F.broadcast(stats), "user_id").filter(F.col("n") >= 10)
    dev = F.col("n") * F.col("x") - F.col("s")
    return j.select(
        "event_id",
        "user_id",
        dev.cast("bigint").alias("dev_num"),
        (dev * dev > 9 * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))).alias(
            "is_anomaly"
        ),
    )


@register(
    "events_ohlc",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           (MIN(struct_pack(t := ts, e := event_id, v := value))).v AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           (MAX(struct_pack(t := ts, e := event_id, v := value))).v AS close,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle downsampling — the canonical time-series rollup
    (market data, metrics): per hour × type, the first/last value by
    event time plus the high/low. First/last ride on lexicographic
    MIN/MAX over a (ts, event_id, value) struct — a single partial-
    aggregable pass (no window, no self-join), deterministic because
    (ts, event_id) is unique, and bit-exact because the selected value
    is copied, never recomputed. Flink-side: tumbling window +
    ProcessWindowFunction keeping first/last/min/max accumulators.

    Scale: one map-side-combining hash aggregate — the same shape as
    agg_hash_group; no shuffle beyond the (hour, type) group exchange,
    no ordering requirement on input splits."""
    ev = table(spark, sf_dir, "events")
    s = F.struct(F.col("ts").alias("t"), F.col("event_id").alias("e"), F.col("value").alias("v"))
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        )
        .agg(
            F.min(s).getField("v").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(s).getField("v").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "events_interpolate_linear",
    oracle="""
    WITH anchors AS (
      SELECT user_id, epoch_us(ts) // 1000000 // 3600 AS h,
             (MAX(struct_pack(t := ts, e := event_id, v := value))).v AS v
      FROM events GROUP BY 1, 2
    ),
    nx AS (
      SELECT user_id, h, v,
             LEAD(h) OVER (PARTITION BY user_id ORDER BY h) AS nh,
             LEAD(v) OVER (PARTITION BY user_id ORDER BY h) AS nv
      FROM anchors
    ),
    filled AS (
      SELECT user_id, g AS h,
             v + (nv - v) * (g - h) / (nh - h) AS value,
             CAST(1 AS INT) AS is_interpolated
      FROM nx, LATERAL (SELECT UNNEST(range(h + 1, nh))) t(g)
      WHERE nh IS NOT NULL AND nh > h + 1
    )
    SELECT user_id,
           make_timestamp(h * CAST(3600000000 AS BIGINT)) AS hour_start,
           value, is_interpolated
    FROM (
      SELECT user_id, h, v AS value, CAST(0 AS INT) AS is_interpolated
      FROM anchors
      UNION ALL SELECT * FROM filled
    ) u
    """,
)
def events_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill — the numeric twin of
    stream_gap_fill's carry-forward: per user, hourly anchor points
    (last value in each observed hour, struct-max deterministic), then
    every missing hour between consecutive anchors gets
    v1 + (v2-v1)·(t-t1)/(t2-t1). The interpolation expression is the
    SAME text in both engines, so the IEEE double sequence — and hence
    the hash — is identical.

    Scale: one hash aggregate + one lead window + an explode whose
    output is bounded by the filled range, all partitioned by user_id —
    no joins, no driver state. Flink-side: KeyedProcessFunction with a
    pending-gap buffer flushed when the next element arrives."""
    ev = table(spark, sf_dir, "events")
    s = F.struct(F.col("ts").alias("t"), F.col("event_id").alias("e"), F.col("value").alias("v"))
    anchors = ev.groupBy(
        "user_id",
        (F.unix_micros("ts") / 1000000 / 3600).cast("long").alias("h"),
    ).agg(F.max(s).getField("v").alias("v"))
    w = Window.partitionBy("user_id").orderBy("h")
    nx = anchors.select(
        "user_id", "h", "v",
        F.lead("h").over(w).alias("nh"),
        F.lead("v").over(w).alias("nv"),
    )
    filled = (
        nx.filter(F.col("nh").isNotNull() & (F.col("nh") > F.col("h") + 1))
        .select(
            "user_id", "v", "nv", "h", "nh",
            F.explode(F.sequence(F.col("h") + 1, F.col("nh") - 1)).alias("g"),
        )
        .select(
            "user_id",
            F.col("g").alias("h"),
            F.expr("v + (nv - v) * (g - h) / (nh - h)").alias("value"),
            F.lit(1).cast("int").alias("is_interpolated"),
        )
    )
    base = anchors.select(
        "user_id", "h", F.col("v").alias("value"),
        F.lit(0).cast("int").alias("is_interpolated"),
    )
    return base.unionByName(filled).select(
        "user_id",
        F.timestamp_micros(F.col("h") * F.lit(3600000000).cast("long")).alias("hour_start"),
        "value",
        "is_interpolated",
    )


_TSTAT_EXPR = (
    "(CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b) / "
    "SQRT(((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1)) / n_a"
    " + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1)) / n_b)"
)


@register(
    "events_ab_test",
    oracle=f"""
    WITH m AS (
      SELECT
        COUNT(*) FILTER (event_type = 'click') AS n_a,
        SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
          FILTER (event_type = 'click') AS s_a,
        SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
            * CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
          FILTER (event_type = 'click') AS q_a,
        COUNT(*) FILTER (event_type = 'view') AS n_b,
        SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
          FILTER (event_type = 'view') AS s_b,
        SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
            * CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
          FILTER (event_type = 'view') AS q_b
      FROM events WHERE event_type IN ('click', 'view')
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(s_a AS DOUBLE) / n_a / 100.0 AS mean_a,
           CAST(s_b AS DOUBLE) / n_b / 100.0 AS mean_b,
           {_TSTAT_EXPR} AS t_stat
    FROM m
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test between two event cohorts ('click' vs 'view'
    values) — the A/B-experiment readout every event pipeline ends in.
    One filtered-aggregation pass collects exact integer moments
    (n, Σcents, Σcents²) for both cohorts simultaneously (no second
    scan, no join); the t-statistic is then a single shared-text IEEE
    expression over those six integers, so Spark and DuckDB produce the
    same bits. The moments are partial-aggregable → map-side combine,
    one 1-row reduce at any scale."""
    c = cents("value")
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    is_a = F.col("event_type") == "click"
    m = ev.agg(
        F.count(F.when(is_a, 1)).cast("bigint").alias("n_a"),
        F.sum(F.when(is_a, c)).alias("s_a"),
        F.sum(F.when(is_a, c * c)).alias("q_a"),
        F.count(F.when(~is_a, 1)).cast("bigint").alias("n_b"),
        F.sum(F.when(~is_a, c)).alias("s_b"),
        F.sum(F.when(~is_a, c * c)).alias("q_b"),
    )
    return m.select(
        "n_a",
        "n_b",
        F.expr("CAST(s_a AS DOUBLE) / n_a / 100.0").alias("mean_a"),
        F.expr("CAST(s_b AS DOUBLE) / n_b / 100.0").alias("mean_b"),
        F.expr(_TSTAT_EXPR).alias("t_stat"),
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_view,
           (SELECT COUNT(*) FROM s2) AS n_view_click,
           (SELECT COUNT(*) FROM s3) AS n_full_funnel,
           CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
             / (SELECT COUNT(*) FROM s1) AS pct_click,
           CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
             / (SELECT COUNT(*) FROM s1) AS pct_full
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion-rate rollup (the aggregate readout over the CEP
    funnel machinery): users reaching view → first later click → first
    later purchase, as corpus-level counts and exact integer-ratio
    conversion percentages. Each stage is a per-user MIN aggregate
    joined to the previous stage's timestamps — three keyed aggregates
    + three equi-joins on user_id, all partition-aligned on the same
    key, so at scale the stages pipeline without re-shuffling."""
    ev = table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.agg(F.count(F.lit(1)).alias("n_view"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n_view_click"))
    n3 = s3.agg(F.count(F.lit(1)).alias("n_full_funnel"))
    return (
        n1.crossJoin(n2)
        .crossJoin(n3)
        .select(
            "n_view",
            "n_view_click",
            "n_full_funnel",
            (F.col("n_view_click").cast("double") / F.col("n_view")).alias("pct_click"),
            (F.col("n_full_funnel").cast("double") / F.col("n_view")).alias("pct_full"),
        )
    )


@register(
    "stream_async_enrich",
    oracle="""
    SELECT event_id, user_id,
           substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS user_tier,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
    FROM events WHERE event_type = 'purchase'
    """,
)
def stream_async_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Async-I/O enrichment (Flink AsyncDataStream.unorderedWait): each
    record needs a field from an EXTERNAL lookup service. The Spark
    translation replaces per-record async callbacks with Arrow-BATCHED
    lookups inside mapInPandas: one batch = one bulk request (Flink's
    'capacity'), duplicate keys within the batch are deduplicated
    before the call (the cache layer every async enricher grows), and
    row order within the partition is preserved (orderedWait). The
    'service' here is a deterministic md5-based tier function so the
    oracle can replay it; swap `_lookup` for a real client and the
    plumbing — batching, dedup, schema — is unchanged. When the service
    can be snapshotted to a table, prefer the broadcast stream-static
    join (join_stream_static); this shape is for lookups that must stay
    remote."""
    import hashlib

    import numpy as np
    import pandas as pd

    def _lookup(user_ids):
        # stands in for one bulk RPC: unique keys -> tier strings
        return {
            u: hashlib.md5(str(u).encode()).hexdigest()[:2] for u in user_ids
        }

    def enrich(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            tiers = _lookup(pdf["user_id"].unique())  # dedup, then "call"
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "user_id": pdf["user_id"],
                    "user_tier": pdf["user_id"].map(tiers),
                    "value_cents": np.floor(pdf["value"] * 100 + 0.5).astype(
                        "int64"
                    ),
                }
            )

    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return ev.select("event_id", "user_id", "value").mapInPandas(
        enrich, "event_id LONG, user_id LONG, user_tier STRING, value_cents LONG"
    )


_NTILE_CHECKPOINT = True


def _banded_ntile5(base: DataFrame, specs: list,
                   n_bands: int = 8, cuts: list | None = None,
                   n_total: int | None = None) -> DataFrame:
    """Bit-exact NTILE(5) OVER (ORDER BY metric [DESC], user_id) for
    SEVERAL metrics at once, as ONE banded two-pass plan (r15, r14
    verdict item 8 — the r14 form ran three independent pipelines,
    ~30 small stages at sf100). `specs` = [(metric, desc, score_name),
    ...]. The base rows EXPLODE to (user_id, m, val) with val
    sign-normalized so ascending (val, user_id) is each metric's score
    order — one scan of the reduced table feeds every metric. Banding
    is per metric on grouped broadcast percentile cuts (equal values
    share a band, so banding stays order-consistent with the total
    order), and the shared band id `band = m·B + local_band` makes ONE
    Window shuffle sort all metrics' bands in parallel (the plan pin
    still sees windowspecdefinition(band#…)). Global row numbers
    recover from one |specs|·B-row broadcast triangular join gated to
    same-metric bands; NTILE reconstructs by its SQL definition; the
    per-metric scores PIVOT back to one row per user in one keyed
    aggregation (replacing |specs| joins). No unpartitioned Window
    anywhere; parallelism is bounded below by each metric's value
    spread (at worst one distinct value per band, still 1/B of the
    table).

    cuts / n_total (r16, r15 verdict item 3 — the dispatch-floor
    fold): when the caller already holds approximate per-metric cut
    values (ascending, in the SIGN-NORMALIZED long space) and the
    exact row count — events_rfm computes both in the SAME single
    aggregation job that materializes its per-user checkpoint — the
    percentile-sketch job and the count job (and their broadcast
    exchanges) disappear entirely: banding compares against literal
    arrays in whole-stage codegen and the NTILE arithmetic reads a
    literal total. Cuts remain load-balance-only (correctness needs
    just order-consistency, which ANY literal cut values give)."""
    # LONG-ONLY CONTRACT (r15 advice): the sign-normalize casts each
    # metric to long, which would silently TRUNCATE a fractional metric
    # and mis-rank it — assert integral input types so a future caller
    # fails loudly instead (events_rfm passes counts/sums of longs).
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    _integral = (ByteType, ShortType, IntegerType, LongType)
    for c, _desc, _n in specs:
        dt = base.schema[c].dataType
        if not isinstance(dt, _integral):
            raise TypeError(
                f"_banded_ntile5 metric {c!r} has non-integral type "
                f"{dt.simpleString()} — the sign-normalized long "
                "encoding would truncate fractional values and "
                "mis-order the NTILE; pre-scale the metric to an "
                "integral column (e.g. micros) first"
            )
    structs = [
        F.struct(
            F.lit(m).alias("m"),
            ((-F.col(c)) if desc else F.col(c)).cast("long").alias("val"),
        )
        for m, (c, desc, _n) in enumerate(specs)
    ]
    long = base.select(
        "user_id", F.explode(F.array(*structs)).alias("e")
    ).select("user_id", F.col("e.m").alias("m"), F.col("e.val").alias("val"))
    if cuts is not None:
        # literal cuts (see docstring): band assignment is pure
        # codegen — a per-metric CASE over literal arrays, no sketch
        # job, no broadcast
        band_expr = None
        for m in range(len(specs)):
            arm = F.lit(m * n_bands) + (
                F.size(F.filter(
                    F.array(*[F.lit(int(c)).cast("long")
                              for c in cuts[m]]),
                    lambda c: F.col("val") > c,
                )) if cuts[m] else F.lit(0)
            )
            band_expr = (
                F.when(F.col("m") == m, arm) if band_expr is None
                else band_expr.when(F.col("m") == m, arm)
            )
        banded = long.select(
            "user_id", "m", "val", band_expr.alias("band"))
    else:
        # cuts only LOAD-BALANCE the bands — correctness needs just
        # order-consistency (equal values share a band), which ANY cut
        # values give — so low accuracy is free: ±1% band-size error vs
        # a 5x cheaper sketch pass (measured 2.4 s -> ~0.4 s at sf100)
        cut_frame = long.groupBy("m").agg(
            F.percentile_approx(
                "val", [i / n_bands for i in range(1, n_bands)], 100
            ).alias("cuts")
        )
        banded = long.join(F.broadcast(cut_frame), "m").select(
            "user_id",
            "m",
            "val",
            (
                F.col("m") * n_bands
                + F.size(F.filter("cuts", lambda c: F.col("val") > c))
            ).alias("band"),
        )
    local = banded.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("band").orderBy("val", "user_id")
        ),
    )
    if cuts is not None:
        # literal-cuts path (r16): band counts come from the PRE-window
        # frame (groupBy count — no sort), so the windowed frame has a
        # SINGLE consumer and needs no checkpoint materialization: the
        # offsets broadcast subplan re-runs only the cheap codegen
        # explode+banding, never the 3·B-band sort
        stats = banded.groupBy("band").agg(
            F.count(F.lit(1)).alias("n_rows"))
    else:
        # materialize ONCE: the band-count job and the final pivot both
        # read this frame; without the checkpoint each would re-pay
        # explode + banding + the window sort. The module flag exists
        # for tests/test_plans.py: the checkpoint truncates the visible
        # plan, so the window-shape pin inspects the uncheckpointed
        # construction and separately pins that production truncates
        # here.
        if _NTILE_CHECKPOINT:
            local = local.localCheckpoint(eager=False)
        # per-band row counts fall out of the window output for free:
        # n_rows(band) = MAX(rn) — no second pass over the banded rows
        stats = local.groupBy("band").agg(F.max("rn").alias("n_rows"))
    a, b = stats.alias("a"), stats.alias("b")
    offsets = (
        a.join(
            F.broadcast(b),
            (F.col("b.band") < F.col("a.band"))
            & (F.floor(F.col("b.band") / n_bands)
               == F.floor(F.col("a.band") / n_bands)),
            "left",
        )
        .groupBy(F.col("a.band").alias("band"))
        .agg(F.coalesce(F.sum("b.n_rows"), F.lit(0)).alias("off_rows"))
    )
    # every metric ranks the same user set, so one row count serves
    # all; a caller-supplied exact count becomes a literal (no count
    # job, no broadcast cross join)
    g_rn = F.col("rn") + F.col("off_rows")
    k = 5
    nt = (F.lit(int(n_total)) if n_total is not None
          else F.col("n_total"))
    q = F.floor(nt / k)
    r = nt % k
    ntile = F.when(
        g_rn <= r * (q + 1), F.ceil(g_rn / (q + 1))
    ).otherwise(r + F.ceil((g_rn - r * (q + 1)) / F.greatest(q, F.lit(1))))
    scored_long = local.join(F.broadcast(offsets), "band")
    if n_total is None:
        total = base.agg(F.count(F.lit(1)).alias("n_total"))
        scored_long = scored_long.crossJoin(F.broadcast(total))
    scored_long = scored_long.select(
        "user_id", "m", "val", ntile.cast("int").alias("score"))
    # pivot scores AND the (exact-long) metric values back to one row
    # per user — val is the sign-normalized metric, so the original
    # column comes back by undoing the normalization; this removes the
    # final base-join shuffle entirely
    aggs = []
    for m, (c, desc, _n) in enumerate(specs):
        v = F.max(F.when(F.col("m") == m, F.col("val")))
        aggs.append(((-v) if desc else v).alias(c))
    for m, (_c, _d, name) in enumerate(specs):
        aggs.append(
            F.max(F.when(F.col("m") == m, F.col("score"))).alias(name)
        )
    return scored_long.groupBy("user_id").agg(*aggs)


@register(
    "events_rfm",
    oracle="""
    WITH per_user AS (
      SELECT user_id, MAX(epoch_us(ts)) AS last_us, COUNT(*) AS freq,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM events GROUP BY user_id
    ),
    g AS (SELECT MAX(last_us) AS all_us FROM per_user),
    base AS (
      SELECT user_id, (g.all_us - last_us) // 86400000000 AS rec_days,
             freq, monetary_cents
      FROM per_user, g
    ),
    scored AS (
      SELECT user_id, rec_days, freq, monetary_cents,
             CAST(NTILE(5) OVER (ORDER BY rec_days DESC, user_id) AS INTEGER) AS r_score,
             CAST(NTILE(5) OVER (ORDER BY freq, user_id) AS INTEGER) AS f_score,
             CAST(NTILE(5) OVER (ORDER BY monetary_cents, user_id) AS INTEGER) AS m_score
      FROM base
    )
    SELECT user_id, rec_days, freq, monetary_cents,
           r_score, f_score, m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER) AS rfm_code
    FROM scored
    """,
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user Recency (whole days since
    the user's last event, relative to the dataset's newest event),
    Frequency (event count), Monetary (exact cents sum), each scored
    into quintiles by NTILE(5) with a deterministic (metric, user_id)
    tie-break — score 5 = most recent / most frequent / top spend —
    plus the composite 3-digit rfm_code marketing tools key on.

    Scale shape (r14, r13 verdict item 2; folded r15, r14 verdict item
    8): the heavy pass is one keyed partial aggregation (events ->
    per-user triple); everything after runs on the REDUCED per-user
    table. The anchor timestamp is a 1-row aggregate broadcast-crossed
    in. The three quintile scores are BANDED exact NTILEs in ONE
    SHARED band layout (`_banded_ntile5` multi-metric form): the
    reduced rows explode to (user_id, metric, sign-normalized value),
    band per metric on grouped broadcast percentile cuts, ONE Window
    shuffle over the combined band id sorts all 3·B bands in
    parallel, one triangular broadcast join recovers global row
    numbers, and the scores AND metric values pivot back per user in
    one keyed aggregation (the sign-normalized long IS the metric, so
    no re-join against base is needed) — r14 ran this as three
    independent banded pipelines plus three joins (~30 small stages
    of dispatch floor at sf100); r15 is one pipeline and zero joins,
    bit-equal to NTILE(5) OVER (ORDER BY metric, user_id) per metric.
    The per-user aggregate is localCheckpointed (lazy) so the events
    scan + heavy keyed aggregation run ONCE (measured r14: exchange
    reuse alone left ~5 live fact scans in the final plan), and the
    windowed band frame is localCheckpointed too — the band-count job
    (offsets) and the final pivot read one materialization instead of
    re-paying the explode + banding + sort."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents("value")).alias("monetary_cents"),
    )
    per_user = per_user.localCheckpoint(eager=False)
    # r16 (r15 verdict item 3): ONE aggregation job computes the
    # anchor, the exact user count AND all three approximate cut sets
    # — and its execution materializes the checkpoint, so the whole
    # pre-window phase is a single job. The recency cuts derive from
    # last_us percentiles through the monotone sign-normalize map
    # (cuts only load-balance; order-consistency is automatic), so no
    # second pass is needed after the anchor is known.
    n_bands = 8
    probs = [i / n_bands for i in range(1, n_bands)]
    st_ = per_user.agg(
        F.max("last_us").alias("all_us"),
        F.count(F.lit(1)).alias("n_total"),
        F.percentile_approx("last_us", probs, 100).alias("p_last"),
        F.percentile_approx("freq", probs, 100).alias("p_freq"),
        F.percentile_approx("monetary_cents", probs, 100).alias("p_mon"),
    ).first()
    all_us = int(st_["all_us"]) if st_["all_us"] is not None else 0
    n_total = int(st_["n_total"])
    day_us = 86400000000
    rec_cuts = sorted(
        -((all_us - int(c)) // day_us) for c in (st_["p_last"] or [])
    )
    freq_cuts = [int(c) for c in (st_["p_freq"] or [])]
    mon_cuts = [int(c) for c in (st_["p_mon"] or [])]
    base = per_user.select(
        "user_id",
        F.expr(f"({all_us}L - last_us) div {day_us}")
        .alias("rec_days"),
        "freq",
        "monetary_cents",
    )
    scored = _banded_ntile5(base, [
        ("rec_days", True, "r_score"),
        ("freq", False, "f_score"),
        ("monetary_cents", False, "m_score"),
    ], n_bands=n_bands, cuts=[rec_cuts, freq_cuts, mon_cuts],
        n_total=n_total,
    ).select(
        "user_id", "rec_days", "freq", "monetary_cents",
        "r_score", "f_score", "m_score",
    )
    return scored.withColumn(
        "rfm_code",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).cast(
            "int"
        ),
    )


@register(
    "events_ts_decompose",
    oracle="""
    WITH hourly AS (
      SELECT epoch_us(ts) // 3600000000 AS hb, COUNT(*) AS vol,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM events GROUP BY hb
    ),
    trended AS (
      SELECT hb, vol, value_cents,
             CAST((SUM(value_cents) OVER w * 1000000)
               // COUNT(*) OVER w AS BIGINT) AS trend_e6
      FROM hourly
      WINDOW w AS (ORDER BY hb RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    resid AS (
      SELECT hb, vol, value_cents, trend_e6,
             CAST(value_cents * 1000000 - trend_e6 AS BIGINT) AS resid_e6
      FROM trended
    ),
    seasonal AS (
      SELECT hb % 24 AS hod,
             CAST(SUM(resid_e6) AS DOUBLE) / COUNT(*) AS seasonal_e6
      FROM resid GROUP BY hod
    )
    SELECT r.hb, r.vol, r.value_cents, r.trend_e6, r.resid_e6, s.seasonal_e6
    FROM resid r JOIN seasonal s ON s.hod = r.hb % 24
    """,
)
def events_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive time-series decomposition of the hourly value
    stream: trend = centered +/-12h moving average (RANGE frame over the
    hour bucket, so calendar gaps shrink the window instead of
    smearing rows), residual = value - trend, seasonal = mean residual
    per hour-of-day. All in exact arithmetic: value is exact cents,
    trend is (window_sum * 1e6) div window_hours on positive integers
    (truncation == floor, both engines identical), residual is an
    exact integer, and the seasonal mean is ONE IEEE division of an
    exact integer sum by an exact count - identical in both engines
    (the davg idiom), never an order-dependent double sum.

    Scale shape: events -> hourly rollup is one keyed partial agg; the
    trend window orders the ROLLUP globally, whose row count is bounded
    by calendar time, not data volume (10 years ~ 87k hourly rows), so
    a single-partition window is safe at any SF. The 24-row seasonal
    index joins back via broadcast."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr("unix_micros(ts) div 3600000000").alias("hb")
    ).agg(
        F.count(F.lit(1)).alias("vol"),
        F.sum(cents("value")).alias("value_cents"),
    )
    trended = hourly.select(
        "hb",
        "vol",
        "value_cents",
        F.expr(
            "(sum(value_cents) OVER (ORDER BY hb RANGE BETWEEN 12 PRECEDING"
            " AND 12 FOLLOWING) * 1000000) div count(*) OVER (ORDER BY hb"
            " RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)"
        ).alias("trend_e6"),
    )
    resid = trended.withColumn(
        "resid_e6", F.col("value_cents") * 1_000_000 - F.col("trend_e6")
    )
    seasonal = resid.groupBy((F.col("hb") % 24).alias("hod")).agg(
        (F.sum("resid_e6").cast("double") / F.count(F.lit(1))).alias(
            "seasonal_e6"
        )
    )
    return resid.join(
        F.broadcast(seasonal), resid["hb"] % 24 == seasonal["hod"]
    ).select("hb", "vol", "value_cents", "trend_e6", "resid_e6", "seasonal_e6")
