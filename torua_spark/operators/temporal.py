"""Temporal operators (reference B9 — "temporal graph analysis ...
execute temporal queries in parallel, aggregate at coordinator",
README.md:214-218).

Batch event-time windowing over the events table. The tumbling window
uses Spark's native ``window()`` expression (the same operator the
streaming variant uses with a watermark); sliding top-k is a rank
window over day buckets.

Determinism: window starts are emitted as formatted strings so the
DuckDB oracle comparison is type- and timezone-unambiguous
(FIXTURES.md §3); ties in top-k rank are broken by event_type.

Scale: tumbling agg is partial+final on (user, hour) — fully
map-combined; top-k is one shuffle on the day bucket with a
whole-stage-codegen rank; no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from torua_spark.functions.compat import round4

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def tumbling_user_hour(events: DataFrame) -> DataFrame:
    """Declared `temporal_tumbling` — events per user per 1-hour
    tumbling window with avg(value)."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round4(F.avg("value")).alias("avg_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("hour_start"),
            "user_id",
            "n_events",
            "avg_value",
        )
    )


def sliding_topk_event_types(events: DataFrame, k: int = 3) -> DataFrame:
    """Declared `temporal_sliding_topk` — top-k event_types per day by
    count; rank window with deterministic event_type tiebreak."""
    daily = (
        events.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("day").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        daily.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("day", "event_type", "n", "rank")
    )


FUNNEL_SEQUENCE = ["signup", "click", "purchase"]


def event_funnel(events: DataFrame,
                 sequence: list[str] | None = None) -> DataFrame:
    """Ordered-sequence funnel — the MATCH_RECOGNIZE-shaped pattern
    Spark has no native operator for: per user, the earliest time of
    stage k STRICTLY AFTER their matched stage k-1 time (first-touch
    attribution), reported as per-stage user counts + conversion from
    the previous stage.

    Composition: one conditional min-aggregate per stage over the
    (co-partitioned) events-per-user relation — stage k's aggregate
    filters on the stage k-1 timestamp joined back on user_id. After
    the first shuffle on user_id every later stage reuses the same
    hash partitioning, so the funnel depth adds aggregates, not
    repartitions. Ties inside a stage don't matter (min); stage
    boundaries are strict (> prev) so one event can't match twice."""
    sequence = sequence or FUNNEL_SEQUENCE
    ev = events.select("user_id", "event_type", "ts")
    reached = (
        ev.filter(F.col("event_type") == sequence[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .localCheckpoint(eager=False)
    )
    # One tagged (stage, user_id) relation instead of a driver-side
    # count() per stage: the old shape ran k jobs, stage k recomputing
    # stages 0..k-1 (quadratic), with a driver round-trip each. The
    # checkpoint per stage computes each stage's aggregate ONCE and the
    # deeper stages reuse its blocks. It is not one job: under AQE each
    # localCheckpoint(eager=False) runs its exchanges while the plan is
    # built. `scripts/profile_query.py event_funnel` at sf0.01 counts 6
    # jobs building the DataFrame (the events load included) and 2 more
    # for its count(), cold and warm alike.
    tagged = [reached.select(F.lit(0).alias("stage"), "user_id")]
    for k, stage in enumerate(sequence[1:], start=1):
        reached = (
            ev.filter(F.col("event_type") == stage)
            .join(reached, "user_id")
            .filter(F.col("ts") > F.col(f"t{k - 1}"))
            .groupBy("user_id", *[f"t{j}" for j in range(k)])
            .agg(F.min("ts").alias(f"t{k}"))
            .localCheckpoint(eager=False)
        )
        tagged.append(reached.select(F.lit(k).alias("stage"), "user_id"))
    all_stages = tagged[0]
    for t in tagged[1:]:
        all_stages = all_stages.unionByName(t)
    counts = all_stages.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    from torua_spark.sources.local import local_df

    spine = local_df(
        events.sparkSession,
        [(k, sequence[k]) for k in range(len(sequence))],
        "stage int, event_type string",
    )
    # conversion = n_k / n_{k-1} (stage 0 -> 1.0; empty previous stage
    # -> 0.0), computed with a lag window over the stage-count rows —
    # the window is stage-count-sized, never corpus-sized.
    from pyspark.sql import Window

    w = Window.orderBy("stage")
    joined = spine.join(counts, "stage", "left").withColumn(
        "n_users", F.coalesce(F.col("n_users"), F.lit(0))
    )
    prev = F.lag("n_users").over(w)
    conversion = (
        F.when(F.col("stage") == 0, F.lit(1.0))
        .when(prev.isNull() | (prev == 0), F.lit(0.0))
        .otherwise(F.col("n_users").cast("double") / prev)
    )
    return joined.select(
        "stage", "event_type", "n_users",
        round4(conversion).alias("conversion"),
    )


def session_windows(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization — classic lag+cumsum session assignment (the
    batch equivalent of streaming session_window): a new session starts
    when the gap to the previous event of the same user reaches
    ``gap_minutes``. Gap comparison is at MICROSECOND precision with
    ``>=`` — exactly Spark's ``session_window`` semantics (a session
    spans [start, last_event + gap); an event landing exactly on the
    boundary opens a new session), so the batch and streaming session
    queries sessionize identically even for sub-second gaps.
    Output: per-user session count and max session length (events per
    session).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.lit(gap_minutes * 60 * 1_000_000)
    sessions = (
        events.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                | ((F.unix_micros("ts") - F.unix_micros("prev_ts")) >= gap_us)
            ).cast("long"),
        )
        .withColumn("session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n").alias("max_session_events"),
    )


def gapfill_hourly(events: DataFrame) -> DataFrame:
    """Time-series densification: per-(event_type, hour) counts with
    EXPLICIT zero rows for hours inside the corpus span that saw no
    events of that type — the gap-fill join every dashboard/forecast
    feed needs (sparse aggregates silently skip empty buckets).

    Scale shape: the dense axis is GENERATED, not shuffled — the
    corpus-wide (min, max) hour pair is a 1-row aggregate, `sequence`
    explodes it into the hour spine, and the spine x type grid
    (bounded: hours-in-span x |event_type|) broadcasts into the left
    join against the real per-bucket aggregate. The only corpus-sized
    work is the grouped count that existed anyway."""
    hour = F.date_trunc("hour", F.col("ts"))
    counts = events.groupBy(
        hour.alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    span = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = span.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    grid = spine.crossJoin(events.select("event_type").distinct())
    return (
        grid.join(counts, ["h", "event_type"], "left")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        )
    )


def daily_trend(events: DataFrame) -> DataFrame:
    """Period-over-period trend analytics: per (event_type, day) —
    count, trailing 3-day moving average (bounded rowsBetween frame),
    day-over-day delta (lag), and percent change. The moving-aggregate
    family every metrics dashboard ships.

    Scale: the window partitions by event_type over DAY-grain rows —
    the windowed relation is (types x days), thousands of rows at any
    corpus size; the only corpus-sized work is the day-grain count."""
    from pyspark.sql import Window

    day = events.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    ma = w.rowsBetween(-2, 0)
    from torua_spark.functions.compat import round4

    prev = F.lag("n").over(w)
    return day.select(
        "event_type",
        "day",
        "n",
        round4(F.avg("n").over(ma)).alias("ma3"),
        (F.col("n") - prev).alias("dod_delta"),
        round4((F.col("n") - prev) / prev).alias("pct_change"),
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention matrix (B9 batch analytics; the
    user-engagement read every events pipeline serves): users
    cohorted by FIRST-seen day, per-cohort active-user counts at each
    day offset, and the retention ratio against the cohort size.

    Plan shape: two user-keyed aggregations (first-seen, distinct
    active days) that shuffle on the SAME key as their join, then a
    tiny (cohort, offset) grid aggregation and a broadcast-sized
    cohort-size join — at 100 TB everything heavy rides one user_id
    hash partitioning; the grid is O(days^2) rows regardless of event
    volume."""
    first = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort")
    )
    active = events.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("aday")
    ).distinct()
    sizes = first.groupBy("cohort").agg(
        F.count_distinct("user_id").alias("cohort_size")
    )
    grid = (
        active.join(first, "user_id")
        .groupBy(
            "cohort",
            F.datediff(F.col("aday"), F.col("cohort")).cast("long").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return grid.join(sizes, "cohort").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
        "day_offset",
        "n_active",
        "cohort_size",
        round4(F.col("n_active") / F.col("cohort_size")).alias("retention"),
    )


def ohlc_bars(events: DataFrame, every: str = "1 hour") -> DataFrame:
    """Resample bars (B9): per event_type and time bucket, the OHLC
    tuple — open = first value, close = last value, high/low = max/min
    — plus volume (row count). The financial-resample shape, equally
    the telemetry-rollup shape.

    Open/close are struct-min/max over (ts, event_id, value): the
    event_id tie-break makes simultaneous events deterministic, so
    the relation is hash-checkable (DuckDB twin: row_number over the
    same order). One partial+final aggregation — no window over the
    raw events, so nothing sorts more than its group."""
    bucket = F.date_trunc("hour", F.col("ts")) if every == "1 hour" else (
        F.window("ts", every)["start"]
    )
    first = F.min(F.struct("ts", "event_id", "value"))
    last = F.max(F.struct("ts", "event_id", "value"))
    return (
        events.select("event_type", bucket.alias("bucket"), "ts", "event_id", "value")
        .groupBy("event_type", "bucket")
        .agg(
            round4(first.getField("value")).alias("open"),
            round4(F.max("value")).alias("high"),
            round4(F.min("value")).alias("low"),
            round4(last.getField("value")).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .select(
            "event_type",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
            "open", "high", "low", "close", "volume",
        )
    )
