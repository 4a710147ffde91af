"""Event-time analytics over the ``events`` table (SURVEY §2b, M5 batch).

Batch-mode event-time operators: tumbling / sliding / session windows,
JSON property extraction, latest-event dedup. The same window expressions
run unchanged under Structured Streaming (see streaming/pipelines.py) —
batch is the oracle-checkable twin of each streaming pipeline.

Scale notes: window aggregations shuffle on (window, key) — bounded
cardinality; session windows shuffle on user_id. JSON extraction is a
JVM built-in (no Python). ``events.ts`` arrives as ns-precision parquet
and is normalized to µs TIMESTAMP_NTZ by the catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_saas_etl_spark.catalog import ensure_parallelism, load_tables
from aws_saas_etl_spark.functions.num import davg_rounded, dround, dsum_rounded

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def events_hourly_stats(spark, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count / sum / avg(value)."""
    ev = load_tables(spark, sf_dir).events
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_rounded(F.col("value"), 2).alias("sum_value"),
            davg_rounded(F.col("value"), 4).alias("avg_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
        )
        .orderBy("window_start", "event_type")
    )


def events_sliding_windows(spark, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour long, every 30 minutes): event counts +
    distinct users. Each event lands in exactly 2 windows."""
    ev = load_tables(spark, sf_dir).events
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            F.date_format("w.end", TS_FMT).alias("window_end"),
            "n_events",
            "n_users",
        )
        .orderBy("window_start")
    )


def events_session_stats(spark, sf_dir: str, gap_minutes: int = 10) -> DataFrame:
    """Session windows (10-minute inactivity gap) per user.

    Uses ``F.session_window`` — the same operator Structured Streaming
    uses for stateful sessionization. Spark's session end = last event +
    gap; the oracle reproduces that with gaps-and-islands SQL.
    """
    ev = load_tables(spark, sf_dir).events
    return (
        ev.groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_rounded(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", TS_FMT).alias("session_start"),
            F.date_format("w.end", TS_FMT).alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


def events_json_props(spark, sf_dir: str) -> DataFrame:
    """JSON property extraction (multimodal/nested columns, SURVEY §2b):
    parse ``props`` (a JSON string) with a JVM built-in and aggregate."""
    ev = load_tables(spark, sf_dir).events
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            davg_rounded(F.col("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.min("k").alias("min_k"),
        )
        .orderBy("event_type")
    )


def events_latest_per_user(spark, sf_dir: str) -> DataFrame:
    """Latest event per user (streaming-dedup shape: keep newest by key).

    row_number over (user, ts desc, event_id desc) — the batch twin of
    ``dropDuplicatesWithinWatermark`` keep-latest semantics.
    """
    ev = load_tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", TS_FMT).alias("ts"),
            "event_type",
            dround(F.col("value"), 2).alias("value"),
        )
    )


def events_user_activity(spark, sf_dir: str) -> DataFrame:
    """Per-user daily activity with event-type pivot — the contingency
    rollup a funnel dashboard reads."""
    ev = load_tables(spark, sf_dir).events
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "purchase", "signup", "error"])
        .orderBy("day")
    )


def events_asof_last_click(spark, sf_dir: str) -> DataFrame:
    """AS-OF join expressed Spark-natively: for every purchase event, the
    most recent preceding click by the same user and the elapsed seconds.

    Instead of a per-row point lookup (the classic as-of), a single
    ordered window per user with a conditional last_value(ignoreNulls)
    carries the click timestamp forward — one shuffle on user_id, linear
    scan per partition, no join at all.
    """
    ev = load_tables(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_click_ts", last_click)
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", TS_FMT).alias("purchase_ts"),
            F.date_format("last_click_ts", TS_FMT).alias("click_ts"),
            (
                F.unix_timestamp(F.col("ts").cast("timestamp"))
                - F.unix_timestamp(F.col("last_click_ts").cast("timestamp"))
            ).alias("seconds_since_click"),
        )
    )


VALUE_BANDS = [(0.0, 50.0), (50.0, 100.0), (100.0, 150.0), (150.0, 200.0)]


def events_value_band_stats(spark, sf_dir: str) -> DataFrame:
    """Range join: events banded into [lo, hi) value ranges via a broadcast
    interval table — the canonical dimension-range-join shape (at scale the
    small side is always the banding table)."""
    # non-equi broadcast join = nested-loop: parallelize the probe side
    ev = ensure_parallelism(load_tables(spark, sf_dir).events)
    spark_bands = spark.createDataFrame(
        [(i, lo, hi) for i, (lo, hi) in enumerate(VALUE_BANDS)],
        "band_id INT, lo DOUBLE, hi DOUBLE",
    )
    return (
        ev.join(
            F.broadcast(spark_bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band_id", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            davg_rounded(F.col("value"), 4).alias("avg_value"),
        )
        .orderBy("band_id")
    )


ATTRIBUTION_HORIZON_MIN = 60  # purchases attribute to clicks within this window


def events_click_attribution(spark, sf_dir: str) -> DataFrame:
    """Event-time interval join: every (click, purchase) pair for the same
    user where the purchase lands within ``ATTRIBUTION_HORIZON_MIN``
    minutes after the click — the batch twin of the stream-stream join in
    streaming/pipelines.py:click_purchase_attribution.

    The join shuffles both sides on user_id only; the time bound is a
    post-join range predicate on co-partitioned rows. Seconds are diffed
    after per-value truncation (cast-to-long) so the oracle's
    floor(epoch()) twin is exact.
    """
    ev = ensure_parallelism(load_tables(spark, sf_dir).events)
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        "value",
    )
    horizon = F.expr(f"INTERVAL {ATTRIBUTION_HORIZON_MIN} MINUTES")
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") < F.col("click_ts") + horizon),
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            (
                F.unix_timestamp(F.col("purchase_ts").cast("timestamp"))
                - F.unix_timestamp(F.col("click_ts").cast("timestamp"))
            ).alias("secs_to_purchase"),
            dround(F.col("value"), 2).alias("purchase_value"),
        )
        .orderBy("click_id", "purchase_id")
    )


def events_resample_locf(spark, sf_dir: str) -> DataFrame:
    """Time-series resampling to a dense per-user hourly grid with
    last-observation-carried-forward gap fill — the feature-store /
    monitoring view of an irregular event stream.

    Scale shape: the grid size is bounded by (time span ÷ step) × users,
    independent of event volume — the heavy input collapses to hourly
    partial aggregates FIRST (map-side combine), then the per-user
    ``sequence`` explode manufactures the grid (a few hundred rows per
    user, never proportional to event count). The LOCF window runs per
    user over that bounded grid, so the sort is thousands of rows per
    partition at any corpus size. Three shuffles, all on user_id — AQE
    reuses the exchange between the grid join and the window.
    """
    ev = load_tables(spark, sf_dir).events.na.drop(subset=["ts", "user_id"])
    hourly = ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour")).agg(
        davg_rounded(F.col("value"), 4).alias("avg_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # span bounds derive from the hourly aggregate, not a second scan of
    # raw events: date_trunc(hour, min(ts)) == min(date_trunc(hour, ts)),
    # and the re-aggregation reuses hourly's exchange (AQE ReusedExchange)
    spans = hourly.groupBy("user_id").agg(
        F.min("hour").alias("h0"),
        F.max("hour").alias("h1"),
    )
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            F.date_format("hour", TS_FMT).alias("hour"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("avg_value", ignorenulls=True).over(w).alias("value_locf"),
            F.col("avg_value").isNull().cast("int").alias("is_gap"),
        )
        .orderBy("user_id", "hour")
    )


def events_daily_funnel(spark, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel per day: users whose first view precedes
    their first click precedes their first purchase (strict event-time
    order, same day). The canonical product-analytics query over an event
    stream.

    Scale shape: one shuffle on (user_id, day) into a conditional-min
    aggregate (map-side partial), then a tiny per-day rollup — stage
    ordering is decided per user from three timestamps, never by joining
    the event table to itself per stage (the k-way self-join formulation
    shuffles the fact table once per funnel step).
    """
    ev = load_tables(spark, sf_dir).events.na.drop(subset=["ts", "user_id"])
    stage_min = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts"))
    )
    per_user = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    ).agg(
        stage_min("view").alias("t_view"),
        stage_min("click").alias("t_click"),
        stage_min("purchase").alias("t_purchase"),
    )
    clicked = F.col("t_click") > F.col("t_view")
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return (
        per_user.groupBy("day")
        .agg(
            F.count("t_view").alias("n_viewed"),
            F.count(F.when(clicked, 1)).alias("n_clicked_after_view"),
            F.count(F.when(purchased, 1)).alias("n_purchased_after_click"),
        )
        .orderBy("day")
    )


RETENTION_MAX_OFFSET = 7


def events_retention_cohorts(spark, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day, and
    for each day-offset 0..N, how many of that cohort were active again —
    the canonical growth-analytics triangle.

    Scale shape: per-user first day (one agg), distinct active (user,
    day) pairs (map-side distinct partials), a user-keyed join (both
    sides already partitioned by user_id — exchange reuse), then a tiny
    (cohort, offset) aggregate. Never a per-offset self-join.
    """
    ev = load_tables(spark, sf_dir).events.na.drop(subset=["ts", "user_id"])
    active = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    first = active.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    offset = F.datediff("day", "cohort_day")
    return (
        active.join(first, "user_id")
        .where(offset <= RETENTION_MAX_OFFSET)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            offset.alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


ANOMALY_Z = 2.0


def events_hourly_anomalies(spark, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hours whose event count deviates ≥
    ``ANOMALY_Z`` sample standard deviations from that event type's mean
    hourly volume.

    Determinism: mean and variance are derived from Σc and Σc² over
    INTEGER hourly counts — exact in both engines at any parallelism (a
    stddev_samp over doubles would be accumulation-order-dependent).
    Scale shape: two bounded aggregates (hour×type, then type) and a
    broadcast join of the per-type stats back onto the hourly table.
    """
    ev = load_tables(spark, sf_dir).events.na.drop(subset=["ts"])
    hourly = ev.groupBy(
        F.col("event_type"), F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("c"))
    stats = hourly.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_hours")
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n_hours")) / (
        F.col("n_hours") - 1
    )
    z = (F.col("c") - mean) / F.sqrt(var)
    return (
        hourly.join(F.broadcast(stats), F.col("event_type") == F.col("et"))
        .where((F.col("n_hours") > 1) & (var > 0))
        .select(
            "event_type",
            F.date_format("hour", TS_FMT).alias("hour"),
            "c",
            dround(z, 4).alias("z_score"),
        )
        .where(F.abs(F.col("z_score")) >= ANOMALY_Z)
        .orderBy("event_type", "hour")
    )


def events_scd2_history(spark, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from a change
    log: each user's event stream becomes versioned validity intervals
    [valid_from, valid_to) carrying the value in force during the
    interval — the historized form of the reference's in-place jobs-row
    UPDATE lifecycle (reference app.py:216-233 overwrites status; SCD2
    keeps every version queryable as-of any time).

    One shuffle: a single window over (user_id ORDER BY ts, event_id)
    supplies version_no (row_number) and each version's end (lead). The
    final version per key is open-ended (valid_to NULL, is_current=1).
    At 100 TB the window key is the entity id — high cardinality and
    evenly distributed, so partitions stay balanced and there is no
    global sort; AQE computes both window functions in one pass over
    one exchange.
    """
    ev = load_tables(spark, sf_dir).events.na.drop(subset=["ts"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "ts", "event_id", "value")
        .withColumn("version_no", F.row_number().over(w))
        .withColumn("valid_to_ts", F.lead("ts").over(w))
        .select(
            "user_id",
            "version_no",
            F.date_format("ts", TS_FMT).alias("valid_from"),
            F.date_format("valid_to_ts", TS_FMT).alias("valid_to"),
            F.col("valid_to_ts").isNull().cast("int").alias("is_current"),
            dround(F.col("value"), 2).alias("value"),
        )
    )


def events_pointintime_join(spark, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join — the feature-store primitive: each
    purchase is joined to the click-stream VERSION in force at its
    timestamp, i.e. the SCD2 validity interval [valid_from, valid_to)
    that contains it (open-ended for each user's latest version).

    Different physical shape from the as-of window (`events_asof_last_click`
    computes last-non-null within one sorted stream): here the versions are
    a separate relation, joined on user_id with the interval test as a
    residual range predicate — the form a feature store uses when features
    and observations live in different tables. At 100 TB this is one
    sort-merge join on user_id (high-cardinality, evenly spread); interval
    disjointness per user bounds matches to ≤1, so no row blowup. Purchases
    before a user's first click survive as unattributed (left join).
    """
    ev = load_tables(spark, sf_dir).events.na.drop(subset=["ts"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("version_no", F.row_number().over(w))
        .withColumn("valid_to", F.lead("ts").over(w))
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("valid_from"),
            "valid_to",
            "version_no",
            F.col("value").alias("v_value"),
        )
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    cond = (
        (purchases.user_id == versions.v_user_id)
        & (purchases.p_ts >= versions.valid_from)
        & (versions.valid_to.isNull() | (purchases.p_ts < versions.valid_to))
    )
    return purchases.join(versions, cond, "left").select(
        "user_id",
        "purchase_id",
        F.date_format("p_ts", TS_FMT).alias("purchase_ts"),
        "version_no",
        dround(F.col("v_value"), 2).alias("value_in_force"),
        F.col("version_no").isNull().cast("int").alias("is_unattributed"),
    )


def events_incremental_hourly_merge(spark, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the hourly rollup is
    built as BASE partials (history) merged with DELTA partials (the last
    24h of the stream), then re-aggregated — the nightly-increment pattern
    that avoids rescanning history at 100 TB: yesterday's stored partial
    states + today's batch, one small merge.

    Correct merging demands algebraic (mergeable) state: COUNT merges by
    +, and the value sum accumulates in DECIMAL so the merge is exact and
    order-independent (a double sum would drift between the merged and
    recomputed paths). The oracle is the straight one-pass rollup over all
    events — the check proves merge(partials) == recompute(whole), which
    is the invariant incremental ETL lives on.
    """
    ev = load_tables(spark, sf_dir).events.na.drop(subset=["ts"])
    bounds = ev.agg(F.date_trunc("hour", F.max("ts")).alias("hmax"))
    tagged = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            F.date_trunc("hour", "ts").alias("hour"),
            "value",
            (
                F.date_trunc("hour", "ts")
                >= F.col("hmax") - F.expr("INTERVAL 24 HOURS")
            ).alias("is_delta"),
        )
    )
    partials = tagged.groupBy("hour", "is_delta").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(22,6)")).alias("ps"),
    )
    base = partials.where(~F.col("is_delta"))
    delta = partials.where(F.col("is_delta"))
    merged = (
        base.unionByName(delta)
        .groupBy("hour")
        .agg(F.sum("pn").alias("n_events"), F.sum("ps").alias("s"))
    )
    return merged.select(
        F.date_format("hour", TS_FMT).alias("hour"),
        "n_events",
        F.col("s").cast("decimal(38,2)").cast("double").alias("total_value"),
    )


ROLLING_DAYS = 7  # trailing window width (days, inclusive of current day)


def events_rolling_features(spark, sf_dir: str) -> DataFrame:
    """Per-user daily activity with trailing 7-day rolling features — the
    time-series feature-engineering shape (user embeddings, churn models)
    over event data.

    Two-level aggregation keeps the window cheap at scale: events first
    collapse to (user, day) partials — one shuffle on (user_id, day),
    map-side combined — and the RANGE-frame window then runs over the
    ~365-rows-per-user daily series, never the raw events. The frame
    orders by integer day number with RANGE BETWEEN 6 PRECEDING so gap
    days are handled by VALUE range, not row count (a user active on day
    1 and day 20 must not see day 1 in day 20's trailing week).
    """
    ev = load_tables(spark, sf_dir).events.na.drop(subset=["ts"])
    daily = (
        ev.select(
            "user_id",
            F.date_trunc("day", "ts").alias("day_ts"),
            F.col("value"),
        )
        .groupBy("user_id", "day_ts")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,6)")).alias("day_sum6"),
        )
        .withColumn("day_num", F.datediff("day_ts", F.lit("1970-01-01").cast("date")))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_num")
        .rangeBetween(-(ROLLING_DAYS - 1), 0)
    )
    return daily.select(
        "user_id",
        F.date_format("day_ts", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.col("day_sum6").cast("decimal(38,2)").cast("double").alias("day_value"),
        F.sum("n_events").over(w).alias("rolling_7d_events"),
        F.sum("day_sum6").over(w).cast("decimal(38,2)").cast("double").alias(
            "rolling_7d_value"
        ),
        F.count(F.lit(1)).over(w).alias("active_days_7d"),
    ).orderBy("user_id", "day")


GAP_HOURS_MIN = 6  # report inactivity gaps longer than this


def events_gap_detection(spark, sf_dir: str) -> DataFrame:
    """Per-user inactivity gaps (consecutive-event deltas above a
    threshold) — the monitoring twin of sessionization: where
    ``events_session_stats`` groups activity, this reports the SILENCE
    between (sensor dropout, pipeline stalls, churn precursors).

    One window over (user_id, ts) — a single shuffle; the lag/delta
    math is pure JVM expressions.
    """
    ev = load_tables(spark, sf_dir).events.na.drop(subset=["ts"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_secs = F.col("ts").cast("timestamp").cast("double") - F.col(
        "prev_ts"
    ).cast("timestamp").cast("double")
    return (
        ev.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", prev_ts)
        .where(F.col("prev_ts").isNotNull())
        .withColumn("gap_secs", gap_secs)
        .where(F.col("gap_secs") > GAP_HOURS_MIN * 3600)
        .select(
            "user_id",
            F.date_format("prev_ts", TS_FMT).alias("gap_start"),
            F.date_format("ts", TS_FMT).alias("gap_end"),
            # dround, not round(double): plain double rounding diverges
            # between engines at exact .xxxx5 boundaries (functions/num.py)
            dround(F.col("gap_secs") / 3600.0, 4).alias("gap_hours"),
        )
        .orderBy("user_id", "gap_start")
    )


def events_variant_props(spark, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's VARIANT type: ``parse_json``
    once into a variant, then typed ``variant_get`` extractions — the
    engine-native path for JSON columns (binary-encoded, no re-parse per
    field access), vs ``events_json_props``'s string-path
    ``get_json_object``. Missing paths surface as NULL through
    ``try_variant_get`` instead of erroring.
    """
    ev = load_tables(spark, sf_dir).events
    v = F.parse_json("props")
    with_v = ev.select("event_type", v.alias("v"))
    k = F.expr("variant_get(v, '$.k', 'int')")
    absent = F.expr("try_variant_get(v, '$.no_such_field', 'string')")
    return (
        with_v.select("event_type", k.alias("k"), absent.alias("absent"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            davg_rounded(F.col("k").cast("double"), 4).alias("avg_k"),
            F.sum(F.col("absent").isNull().cast("long")).alias("n_absent_null"),
        )
        .orderBy("event_type")
    )


# One-sided CUSUM parameters: slack k (in σ units) absorbs normal noise;
# decision threshold h (in σ units) flags a sustained upward level shift.
CUSUM_SLACK = 0.5
CUSUM_H = 4.0


def events_cusum_changepoints(spark, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point statistic per event type over the
    hourly count series — the sequential-detection complement of the
    pointwise z-score query (``events_hourly_anomalies``): a small but
    SUSTAINED rate shift accumulates past the threshold even though no
    single hour is anomalous.

    The CUSUM recurrence S_t = max(0, S_{t−1} + d_t) looks iterative,
    but rewrites into two plain window functions: with P_t = Σ_{j≤t} d_j,
    S_t = P_t − min(0, min_{j≤t} P_j) — a prefix sum and a running min,
    both per-type ordered by hour. No driver loop, no recursion; the
    same rewrite any scan-style recurrence with a reset-at-floor admits.

    Determinism: per-type mean/σ come from exact integer moments (Σc,
    Σc²) like the anomaly query; d_t and the two window folds then run
    in hour order on both engines, so doubles match bit-for-bit.
    Scale shape: the series is hours×types (bounded, independent of
    event volume); everything heavy happens in the first hourly
    aggregate with map-side combine.
    """
    ev = load_tables(spark, sf_dir).events.na.drop(subset=["ts"])
    hourly = ev.groupBy(
        F.col("event_type"), F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("c"))
    stats = hourly.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_hours")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n_hours")
    ) / (F.col("n_hours") - 1)
    sigma = F.sqrt(var)
    d = F.col("c").cast("double") - (mean + CUSUM_SLACK * sigma)
    wseq = Window.partitionBy("event_type").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scored = (
        hourly.join(F.broadcast(stats), F.col("event_type") == F.col("et"))
        .where((F.col("n_hours") > 1) & (var > 0))
        .withColumn("p", F.sum(d).over(wseq))
        .withColumn("runmin", F.least(F.lit(0.0), F.min("p").over(wseq)))
    )
    s = (F.col("p") - F.col("runmin")) / sigma
    return scored.select(
        "event_type",
        F.date_format("hour", TS_FMT).alias("hour"),
        "c",
        dround(s, 4).alias("cusum_sigma"),
        (s > CUSUM_H).cast("int").alias("flagged"),
    ).orderBy("event_type", "hour")


PRUNED_ROLLUP_DAYS = 7  # trailing window the pruned scan reads (days)


def events_partition_pruned_rollup(spark, sf_dir: str) -> DataFrame:
    """Partition PRUNING as a first-class, checked property: the events
    table is laid out date-partitioned (Hive-style ``event_date=.../``
    directories via ``sources.io.write_partitioned``, the storage layout
    a 100 TB event store actually uses), and the rollup reads only the
    trailing ``PRUNED_ROLLUP_DAYS`` days — the scan's PartitionFilters
    skip every other day's directories WITHOUT opening a file
    (plan-asserted in tests/test_plans.py::test_partition_pruned_scan).

    The date cutoff is a driver-side 1-row aggregate (the bounded-scalar
    pattern PageRank/IVF sizing uses) so the partition filter is a
    LITERAL at plan time — static pruning, no runtime subquery needed.
    The companion plan test also demonstrates DYNAMIC partition pruning
    (the filter arriving through a joined dim at runtime) on the same
    layout.

    The write happens once per (process, sf_dir) and is skipped when the
    layout already exists (``_SUCCESS`` marker) — the query models the
    read path against a standing partitioned store, not the write."""
    import datetime
    import os

    from aws_saas_etl_spark.sources.custom import proc_dir
    from aws_saas_etl_spark.sources.io import write_partitioned

    ev = load_tables(spark, sf_dir).events.na.drop(subset=["ts"])
    path = proc_dir("events_by_date", os.path.abspath(sf_dir))
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_partitioned(
            ev.select(
                F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
                "event_type",
                "value",
            ),
            path,
            ["event_date"],
        )
    part = spark.read.parquet(path)
    last_day = ev.agg(F.max(F.to_date("ts"))).collect()[0][0]
    cutoff = (
        last_day - datetime.timedelta(days=PRUNED_ROLLUP_DAYS - 1)
    ).strftime("%Y-%m-%d")
    return (
        part.where(F.col("event_date") >= F.lit(cutoff))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_rounded(F.col("value"), 2).alias("sum_value"),
            F.countDistinct("event_date").alias("n_days"),
        )
        .orderBy("event_type")
    )


# Constructing this query's DataFrame WRITES the date-partitioned events
# layout it prunes against (memoized per sf_dir, but cold captures pay it).
events_partition_pruned_rollup.side_effecting = True


def events_daily_trend_ols(spark, sf_dir: str) -> DataFrame:
    """Per-group OLS trend fit — the group-wise model-fitting shape
    (feature drift monitors, per-segment forecasts) done WITHOUT any
    Python/ML library: each event_type's daily-count series is fit with
    closed-form least squares from five sufficient statistics
    (n, Σx, Σy, Σxy, Σx²) that are plain integer aggregates.

    Why this is the 100 TB shape: the fit is algebraic, so it runs as
    ONE groupBy over day-collapsed partials — events collapse to
    (type, day) first (map-side combined), the regression consumes the
    tiny daily series, and every sufficient statistic merges by `+`
    (the same mergeable-state rule as the incremental rollup). A
    per-group `applyInPandas` sklearn fit would move whole groups into
    Python for a formula five sums express.

    Determinism: x (day index from the global min day) and y (counts)
    are integers, so all five sums are EXACT in int64 on both engines;
    slope/intercept/r² each involve exactly one double division of
    integer-valued operands (plus one slope·Σx product for the
    intercept, written identically in the oracle), then decimal-route
    rounding — bit-stable cross-engine.
    """
    ev = load_tables(spark, sf_dir).events.na.drop(subset=["ts"])
    daily = (
        ev.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    base = daily.crossJoin(
        F.broadcast(daily.agg(F.min("day").alias("day0")))
    ).select(
        "event_type",
        F.datediff("day", "day0").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = s["n"] * s["sxy"] - s["sx"] * s["sy"]
    den = s["n"] * s["sxx"] - s["sx"] * s["sx"]
    deny = s["n"] * s["syy"] - s["sy"] * s["sy"]
    slope = num / den
    intercept = (s["sy"] - slope * s["sx"]) / s["n"]
    # square in DOUBLE: num/den/deny are exact int64 (< 2^53, so the
    # double conversion is lossless) but num² would overflow-wrap int64
    r2 = (num.cast("double") * num.cast("double")) / (
        den.cast("double") * deny.cast("double")
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        "sy",
        F.when(den != 0, dround(slope, 6)).alias("slope"),
        F.when(den != 0, dround(intercept, 6)).alias("intercept"),
        F.when((den != 0) & (deny != 0), dround(r2, 6)).alias("r2"),
    ).orderBy("event_type")
