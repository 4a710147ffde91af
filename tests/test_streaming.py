"""Streaming tests: each streaming pipeline must agree with its batch twin
on the same input (batch is the oracle for streams, SURVEY §5.2)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_saas_etl_spark.catalog import load_table
from aws_saas_etl_spark.streaming import pipelines as P

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_dir(tmp_path_factory):
    """Fixture events re-written as 3 parquet files (3 micro-batches),
    timestamps normalized to µs by the catalog loader."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    from aws_saas_etl_spark.session import get_spark

    spark = get_spark(app_name="stream-fixture", master="local[4]", shuffle_partitions=8)
    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # cast ntz -> regular timestamp to match EVENT_SCHEMA (UTC session)
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    ev.repartition(3).write.mode("overwrite").parquet(path)
    return path


def _batch_events(spark):
    ev = load_table(spark, SF, "events")
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))


def test_streaming_hourly_matches_batch(spark, event_dir):
    stream = P.read_event_stream(spark, event_dir)
    P.run_to_memory(P.hourly_stats(stream), "hourly_out", output_mode="append")
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("hourly_out").collect()
    }
    expected = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in P.hourly_stats(_batch_events(spark)).collect()
    }
    # Append mode emits only windows the watermark has closed; every
    # emitted window must match the batch result exactly.
    assert len(got) > 0
    for k, v in got.items():
        assert expected[k] == v


def test_streaming_sessions_match_batch(spark, event_dir):
    stream = P.read_event_stream(spark, event_dir)
    P.run_to_memory(P.session_stats(stream), "session_out", output_mode="append")
    got = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["sum_value"])
        for r in spark.table("session_out").collect()
    }
    expected = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["sum_value"])
        for r in P.session_stats(_batch_events(spark)).collect()
    }
    assert len(got) > 0
    for k, v in got.items():
        assert expected[k] == v


def test_streaming_dedup(spark, event_dir):
    stream = P.read_event_stream(spark, event_dir)
    P.run_to_memory(P.dedup_stream(stream), "dedup_out", output_mode="append")
    rows = spark.table("dedup_out").collect()
    ids = [r["event_id"] for r in rows]
    assert len(ids) == len(set(ids))
    assert len(ids) == _batch_events(spark).select("event_id").distinct().count()


def test_stateful_running_totals(spark, event_dir):
    stream = P.read_event_stream(spark, event_dir, max_files_per_trigger=1)
    P.run_to_memory(P.running_user_totals(stream), "running_out", output_mode="update")
    # after the final micro-batch, the latest emission per user must equal
    # the batch aggregate
    out = spark.table("running_out").toPandas()
    final = out.groupby("user_id").last()
    expected = {
        r["user_id"]: (r["n"], r["total"])
        for r in _batch_events(spark)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("total"),
        )
        .collect()
    }
    assert len(final) == len(expected)
    for user_id, row in final.iterrows():
        exp_n, exp_total = expected[user_id]
        assert row["n_events"] == exp_n
        assert row["total_value"] == pytest.approx(exp_total, abs=0.02)


def test_streaming_sliding_matches_batch(spark, event_dir):
    stream = P.read_event_stream(spark, event_dir)
    P.run_to_memory(P.sliding_stats(stream), "sliding_out", output_mode="append")
    got = {
        str(r["window_start"]): r["n_events"]
        for r in spark.table("sliding_out").collect()
    }
    expected = {
        str(r["window_start"]): r["n_events"]
        for r in P.sliding_stats(_batch_events(spark)).collect()
    }
    assert len(got) > 0
    for k, v in got.items():
        assert expected[k] == v


def test_stream_static_join(spark, event_dir):
    dim = spark.createDataFrame(
        [(i, "vip" if i % 3 == 0 else "std") for i in range(200)],
        "dim_user_id BIGINT, user_segment STRING",
    )
    stream = P.read_event_stream(spark, event_dir)
    P.run_to_memory(P.enriched_event_stream(stream, dim), "enriched_out")
    out = spark.table("enriched_out")
    assert out.count() == _batch_events(spark).count()
    segs = {r["user_segment"] for r in out.select("user_segment").distinct().collect()}
    assert "vip" in segs and "std" in segs


def test_stream_stream_interval_join_matches_batch(spark, event_dir):
    stream = P.read_event_stream(spark, event_dir)
    joined = P.click_purchase_attribution(stream, horizon_min=60)
    P.run_to_memory(joined, "ss_attrib", output_mode="append")
    got = spark.table("ss_attrib")

    ev = _batch_events(spark)
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
    want = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr("INTERVAL 60 MINUTES")),
    )
    assert got.count() == want.count()
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r)
        for r in want.select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")).alias(
                "secs_to_purchase"
            ),
            F.col("value").alias("purchase_value"),
        ).collect()
    )


def test_stream_upsert_state_matches_batch_latest(spark):
    """The foreachBatch keyed-upsert log, compacted latest-wins, must equal
    the batch latest-event-per-user over the same fixture — state carried
    across micro-batches (1 file per trigger) changes nothing."""
    from aws_saas_etl_spark.catalog import load_table
    from aws_saas_etl_spark.streaming.runners import stream_upsert_state
    from tests.conftest import SF_SMOKE

    got = stream_upsert_state(spark, SF_SMOKE).collect()

    ev = load_table(spark, SF_SMOKE, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type")
        .collect()
    )
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in want)


def test_upsert_oracle_tiebreak_assumption_holds(spark):
    """STREAM_UPSERT_STATE_SQL breaks (user_id, ts) ties by event_id DESC
    while the stream path resolves by (ts, batch_id, event_id); the two
    agree ONLY because no user has two events at the same timestamp in the
    fixtures. Pin that property at every scale the driver/tests touch —
    a regenerated or rescaled fixture that violates it must fail HERE
    loudly, not as a confusing driver hash mismatch."""
    from aws_saas_etl_spark.catalog import load_table
    from tests.conftest import SF_CORRECTNESS, SF_SMOKE

    for sf_dir in (SF_SMOKE, SF_CORRECTNESS):
        dupes = (
            load_table(spark, sf_dir, "events")
            .groupBy("user_id", "ts")
            .count()
            .where(F.col("count") > 1)
            .count()
        )
        assert dupes == 0, f"(user_id, ts) collisions in {sf_dir}: {dupes}"


def test_event_ids_globally_unique(spark):
    """STREAM_DEDUP_SQL equates the dropDuplicatesWithinWatermark
    survivor set with the whole events table — exact ONLY while
    event_ids are globally unique. A duplicate-bearing fixture must
    fail here loudly, not as a driver hash mismatch."""
    from aws_saas_etl_spark.catalog import load_table
    from tests.conftest import SF_CORRECTNESS, SF_SMOKE

    for sf_dir in (SF_SMOKE, SF_CORRECTNESS):
        ev = load_table(spark, sf_dir, "events")
        total = ev.count()
        distinct = ev.select("event_id").distinct().count()
        assert total == distinct, f"duplicate event_ids in {sf_dir}"


def test_running_totals_rounding_assumption(spark):
    """STREAM_RUNNING_TOTALS_SQL rounds a DECIMAL sum half-up while the
    applyInPandasWithState kernel python-rounds a FLOAT accumulation;
    they agree unless a user's true sum sits within float error of a
    0.005 boundary. Pin the agreement per user at the checked scales —
    computed exactly the kernel's way (single-pass float sum in event
    order is associative-equal here because the kernel sums per batch
    then adds; verified against the drained stream by
    test_stream_running_totals_matches_batch)."""
    from decimal import ROUND_HALF_UP, Decimal

    from aws_saas_etl_spark.catalog import load_table
    from tests.conftest import SF_CORRECTNESS, SF_SMOKE

    for sf_dir in (SF_SMOKE, SF_CORRECTNESS):
        rows = (
            load_table(spark, sf_dir, "events")
            .select("user_id", "value")
            .toPandas()
        )
        for user_id, grp in rows.groupby("user_id"):
            fsum = float(grp["value"].fillna(0.0).sum())
            dec = sum(
                Decimal(repr(v)) for v in grp["value"].fillna(0.0)
            ).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
            assert round(fsum, 2) == float(dec), (
                f"float/decimal rounding disagreement for user {user_id} "
                f"in {sf_dir}: {fsum} vs {dec}"
            )
            # order-independence margin: the exact sum ×100 is far from a
            # .5 rounding boundary, so ANY float summation order (batch
            # partials, pandas blocks) rounds identically — float error
            # here is < 1e-7 absolute against a > 1e-4 margin.
            exact100 = sum(
                Decimal(repr(v)) for v in grp["value"].fillna(0.0)
            ) * 100
            frac = abs(exact100 - exact100.to_integral_value()) - Decimal("0.5")
            assert abs(frac) > Decimal("1e-4"), (
                f"user {user_id} in {sf_dir} sits on a rounding boundary"
            )


def test_hourly_oracle_no_watermark_boundary_tie(spark):
    """STREAM_HOURLY_STATS_SQL emits windows with window_end <= final
    watermark; Spark's eviction comparison at an EXACT tie could differ.
    Pin that no fixture has an hour boundary exactly 30 minutes before
    max(ts) — so <=/< cannot flip a row at the scales checked."""
    from aws_saas_etl_spark.catalog import load_table
    from tests.conftest import SF_CORRECTNESS, SF_SMOKE

    for sf_dir in (SF_SMOKE, SF_CORRECTNESS):
        ev = load_table(spark, sf_dir, "events").select(
            F.col("ts").cast("timestamp").alias("ts")
        )
        mx = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
        # watermark = max ts - 30 min; a tie needs it exactly on the hour
        assert not (
            mx.minute == 30 and mx.second == 0 and mx.microsecond == 0
        ), f"max(ts) in {sf_dir} puts the watermark exactly on an hour boundary"


def test_unmatched_click_no_eviction_boundary_tie(spark):
    """STREAM_CLICK_UNMATCHED_SQL evicts clicks with click_ts + horizon
    STRICTLY before the min-side watermark; pin that no click sits
    exactly on that cutoff so <-vs-<= cannot flip a row."""
    import datetime

    from aws_saas_etl_spark.catalog import load_table
    from aws_saas_etl_spark.operators.events import ATTRIBUTION_HORIZON_MIN
    from tests.conftest import SF_CORRECTNESS, SF_SMOKE

    for sf_dir in (SF_SMOKE, SF_CORRECTNESS):
        ev = load_table(spark, sf_dir, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        mxc = (
            ev.where(F.col("event_type") == "click").agg(F.max("ts")).collect()[0][0]
        )
        mxp = (
            ev.where(F.col("event_type") == "purchase")
            .agg(F.max("ts"))
            .collect()[0][0]
        )
        cutoff = (
            min(mxc, mxp)
            - datetime.timedelta(minutes=30)
            - datetime.timedelta(minutes=ATTRIBUTION_HORIZON_MIN)
        )
        on_boundary = (
            ev.where(F.col("event_type") == "click")
            .where(F.col("ts") == F.lit(cutoff))
            .count()
        )
        assert on_boundary == 0, f"click exactly on eviction cutoff in {sf_dir}"


def test_sliding_and_session_oracle_no_boundary_ties(spark):
    """The remaining <=/< tie classes for the sliding and session twins
    (the hourly test pins only the :30 tie):

    1. STREAM_SLIDING_SQL windows end on EVERY 30-minute mark, so the
       watermark (max ts − 30 min) ties with a window end whenever
       max(ts) sits exactly on a 30-minute grid point — pin that it
       never does.
    2. STREAM_SESSION_SQL emits sessions with end (= last event +
       10 min gap) <= watermark; pin that no session end equals the
       watermark exactly.
    3. DuckDB's gaps-and-islands starts a new session when the gap is
       STRICTLY > 10 min, while Spark's session_window is half-open —
       consecutive same-user events EXACTLY 10 minutes apart could merge
       on one side and split on the other; pin that the fixture has no
       such pair."""
    import datetime

    from pyspark.sql import Window

    from aws_saas_etl_spark.catalog import load_table
    from tests.conftest import SF_CORRECTNESS, SF_SMOKE

    gap = datetime.timedelta(minutes=10)
    for sf_dir in (SF_SMOKE, SF_CORRECTNESS):
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        mx = ev.agg(F.max("ts")).collect()[0][0]
        assert not (
            mx.minute in (0, 30) and mx.second == 0 and mx.microsecond == 0
        ), f"max(ts) in {sf_dir} is on a 30-minute grid point (sliding-window tie)"
        wm = mx - datetime.timedelta(minutes=30)

        win = Window.partitionBy("user_id").orderBy("ts")
        gapped = ev.withColumn("prev", F.lag("ts").over(win)).withColumn(
            "delta", F.col("ts").cast("double") - F.col("prev").cast("double")
        )
        exact_gap = gapped.where(F.col("delta") == gap.total_seconds()).count()
        assert exact_gap == 0, (
            f"consecutive same-user events exactly {gap} apart in {sf_dir} "
            "(session merge/split boundary)"
        )

        sess = (
            gapped.withColumn(
                "new_sess",
                F.when(
                    F.col("prev").isNull()
                    | (F.col("delta") > gap.total_seconds()),
                    1,
                ).otherwise(0),
            )
            .withColumn("sess_id", F.sum("new_sess").over(win))
            .groupBy("user_id", "sess_id")
            .agg(F.max("ts").alias("last_ts"))
        )
        end_tie = sess.where(
            F.col("last_ts") == F.lit(wm - gap)
        ).count()
        assert end_tie == 0, f"session end exactly on the watermark in {sf_dir}"


def test_file_sink_matches_memory_drain(spark):
    """The parquet file sink and the memory sink must emit identical rows
    for the same availableNow drain (same watermark, same windows closed):
    sink choice cannot change semantics."""
    from aws_saas_etl_spark.streaming.runners import (
        stream_hourly_stats,
        stream_hourly_to_parquet,
    )
    from tests.conftest import SF_SMOKE

    via_file = stream_hourly_to_parquet(spark, SF_SMOKE).collect()
    via_mem = (
        stream_hourly_stats(spark, SF_SMOKE)
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
        .collect()
    )
    assert sorted(tuple(r) for r in via_file) == sorted(tuple(r) for r in via_mem)


def test_stream_left_outer_join_unmatched_clicks(spark):
    """The left-outer interval join must emit every click exactly once per
    match (inner-join rows identical to the inner variant) PLUS one
    null-extended row per never-matched click after watermark expiry."""
    from aws_saas_etl_spark.streaming.runners import (
        stream_click_attribution,
        stream_click_unmatched,
    )
    from tests.conftest import SF_SMOKE

    outer = stream_click_unmatched(spark, SF_SMOKE).collect()
    inner = stream_click_attribution(spark, SF_SMOKE).collect()

    matched_outer = sorted(
        (r.user_id, r.click_id, r.purchase_id) for r in outer if r.purchase_id is not None
    )
    matched_inner = sorted((r.user_id, r.click_id, r.purchase_id) for r in inner)
    assert matched_outer == matched_inner

    unmatched = [r for r in outer if r.purchase_id is None]
    assert all(r.unconverted == 1 and r.purchase_value is None for r in unmatched)
    assert unmatched, "fixture should contain never-converted clicks"
    # Completeness bound: a click's unmatched row emits only once the final
    # GLOBAL watermark passes its join horizon (click_ts + 60min). The
    # global watermark under the default multipleWatermarkPolicy=min is
    # min(max click_ts, max purchase_ts) - 30min — clicks later than that
    # are correctly still pending (a future purchase could match), not
    # dropped.
    import datetime as dt

    ev = load_table(spark, SF_SMOKE, "events")
    per_side_max = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .collect()
    )
    final_wm = min(r.m for r in per_side_max) - dt.timedelta(minutes=30)
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "ts").collect()
    must_emit = {
        r.event_id for r in clicks if r.ts + dt.timedelta(minutes=60) < final_wm
    }
    all_clicks = {r.event_id for r in clicks}
    emitted = {r.click_id for r in outer}
    assert emitted.issubset(all_clicks)
    assert must_emit.issubset(emitted)


def test_stream_checkpoint_restart_resumes_state(spark, tmp_path):
    """Kill-and-restart recovery: a watermarked aggregate drained in two
    separate query runs over the SAME checkpoint must end with exactly the
    rows a single uninterrupted drain produces — offsets and window state
    come back from the checkpoint, nothing is lost or double-counted.

    The first run is a raw ``start()`` under the session's 8 shuffle
    partitions, as a checkpoint written before ``run_available_now``
    existed would be. The resumed run goes through ``run_available_now``
    and must keep the 8 state partitions its checkpoint recorded."""
    import os

    from aws_saas_etl_spark.streaming import pipelines as P

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src)
    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # split by TIME, not randomly: run 2's input must be later than run 1's
    # watermark, else it is genuinely late data (correctly dropped) and the
    # comparison would measure watermark semantics, not restart recovery
    mid = ev.agg(F.expr("percentile(cast(ts as double), 0.5)")).collect()[0][0]
    half_a = ev.where(F.col("ts").cast("double") <= mid)
    half_b = ev.where(F.col("ts").cast("double") > mid)

    def writer(out_dir, ckpt_dir, max_files):
        # file sink: the only production sink with full checkpoint recovery
        # (memory sink refuses to resume)
        stream = P.read_event_stream(spark, src, max_files_per_trigger=max_files)
        return (
            P.hourly_stats(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
        )

    def state_partitions(q):
        return q.lastProgress["stateOperators"][0]["numShufflePartitions"]

    half_a.coalesce(1).write.mode("append").parquet(src)
    q = writer(out, ckpt, 1).trigger(availableNow=True).start()
    q.awaitTermination()
    assert state_partitions(q) == 8
    first = spark.read.parquet(out).collect()
    # second batch of files arrives while the query is DOWN; the restarted
    # query resumes from the SAME checkpoint + sink
    half_b.coalesce(1).write.mode("append").parquet(src)
    resumed_q = P.run_available_now(writer(out, ckpt, 1), spark)
    resumed = spark.read.parquet(out).collect()

    # reference: one uninterrupted drain over all files, fresh checkpoint
    ref_out, ref_ckpt = str(tmp_path / "ref_out"), str(tmp_path / "ref_ckpt")
    ref_q = P.run_available_now(writer(ref_out, ref_ckpt, 10), spark)
    want = spark.read.parquet(ref_out).collect()
    assert sorted(tuple(r) for r in resumed) == sorted(tuple(r) for r in want)
    assert len(resumed) > len(first), "restart must emit the newly closed windows"
    # the checkpoint's recorded count wins over the conf the helper sets
    assert state_partitions(resumed_q) == 8
    assert state_partitions(ref_q) == spark.sparkContext.defaultParallelism


def test_stream_topk_trending_matches_batch(spark):
    """The sink-then-serve top-k (streaming drain + batch rank) must equal
    the pure-batch top-k over the same events: same hourly counts, same
    (n_events desc, event_type asc) tie-break, top-3 per window."""
    from aws_saas_etl_spark.streaming.runners import (
        TRENDING_TOP_K,
        stream_topk_trending,
    )

    got = [
        (r.window_start, r.event_type, r.n_events, r.rank)
        for r in stream_topk_trending(spark, SF).collect()
    ]

    batch = (
        _batch_events(spark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    rk = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    want = {
        (r.window_start, r.event_type): (r.n_events, r.rank)
        for r in batch.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= TRENDING_TOP_K)
        .collect()
    }
    # Append mode only emits windows the final watermark closed, so the
    # stream result is a PREFIX of the batch windows — every emitted
    # (window, type) must carry the exact batch count and rank.
    assert len(got) > 0
    for ws, et, n, rank in got:
        assert want[(ws, et)] == (n, rank)


def test_stream_custom_source_ingest_complete_and_deterministic(spark):
    """The checkpoint-resumed drain loop must ingest the closed-form
    source COMPLETELY (sum of per-user counts == STREAM_TOTAL_ROWS, one
    row per residue class mod 97) and reproduce identical aggregates on
    a second independent ingest (fresh checkpoint, same closed form)."""
    from aws_saas_etl_spark.sources.custom import STREAM_TOTAL_ROWS
    from aws_saas_etl_spark.streaming.runners import stream_custom_source_ingest

    rows = stream_custom_source_ingest(spark, SF).collect()
    assert len(rows) == 97
    assert sum(r.n_events for r in rows) == STREAM_TOTAL_ROWS
    again = stream_custom_source_ingest(spark, SF).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_stream_sq8_code_ingest_matches_batch(spark):
    """The SQ8 ingest stream must equal the batch audit over the same
    embeddings — the batching-invariance claim its full value-hash
    oracle rests on (stateless encode ⇒ append emission is exactly the
    batch row set, however files group into micro-batches)."""
    from aws_saas_etl_spark.operators.similarity import _sq8_codes
    from aws_saas_etl_spark.streaming.runners import stream_sq8_code_ingest

    streamed = sorted(
        tuple(r) for r in stream_sq8_code_ingest(spark, SF).collect()
    )
    emb = load_table(spark, SF, "embeddings")
    c8 = _sq8_codes("embedding")
    batch = sorted(
        tuple(r)
        for r in emb.select(
            "label",
            F.aggregate(c8, F.lit(0).cast("long"), lambda a, v: a + v).alias(
                "code_sum"
            ),
            F.aggregate(
                c8, F.lit(0).cast("long"), lambda a, v: a + v * v
            ).alias("code_sq"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("code_sum").alias("sum_code_sum"),
            F.sum("code_sq").alias("sum_code_sq"),
        )
        .collect()
    )
    assert streamed == batch


def test_stream_logreg_score_ingest_matches_batch(spark):
    """The streaming scorer must equal the batch scorer's audit over the
    same documents — the batching-invariance claim its full value-hash
    oracle rests on (stateless scoring with frozen literal weights ⇒
    append emission is exactly the batch row set)."""
    from aws_saas_etl_spark.operators.curation import logreg_scores
    from aws_saas_etl_spark.streaming.runners import stream_logreg_score_ingest

    streamed = sorted(
        tuple(r) for r in stream_logreg_score_ingest(spark, SF).collect()
    )
    docs = load_table(spark, SF, "documents")
    batch = sorted(
        tuple(r)
        for r in logreg_scores(docs)
        .select(
            F.col("label"),
            F.round(F.col("score") * 1e6).cast("bigint").alias("score_q"),
            "pred",
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("score_q").alias("sum_score_q"),
            F.sum("pred").alias("n_pred_pos"),
        )
        .collect()
    )
    assert streamed == batch


def test_stream_minhash_signature_ingest_matches_batch(spark):
    """The MinHash ingest stream must equal the audit over the BATCH
    signature path (``dedup.minhash_signatures`` — explode + fused-min
    groupBy) — pinning both the batching-invariance claim its full
    value-hash oracle rests on AND the equivalence of the streaming
    per-row array_min/transform encode to the batch shuffle encode."""
    import functools
    import operator

    from aws_saas_etl_spark.operators.dedup import (
        MINHASH_HASHES,
        minhash_signatures,
    )
    from aws_saas_etl_spark.streaming.runners import (
        stream_minhash_signature_ingest,
    )

    streamed = sorted(
        tuple(r) for r in stream_minhash_signature_ingest(spark, SF).collect()
    )
    docs = load_table(spark, SF, "documents").where(
        F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
        & F.col("lang").isNotNull()
    )
    sig = minhash_signatures(docs).join(docs.select("doc_id", "lang"), "doc_id")
    his = [F.col(f"h{i}") for i in range(MINHASH_HASHES)]
    batch = sorted(
        tuple(r)
        for r in sig.select(
            "lang",
            functools.reduce(operator.add, his).cast("long").alias("sig_sum"),
            his[0].cast("long").alias("h_first"),
            his[-1].cast("long").alias("h_last"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("sig_sum").alias("sum_sig_sum"),
            F.sum("h_first").alias("sum_h_first"),
            F.sum("h_last").alias("sum_h_last"),
        )
        .collect()
    )
    assert streamed == batch


def test_stream_lexical_postings_ingest_matches_batch(spark):
    """The postings ingest stream must equal the audit over the BATCH
    postings builder (``similarity._lexical_postings``) — the
    batching-invariance claim its full value-hash oracle rests on, and
    the stream==store parity of the lexical arm's artifact."""
    from aws_saas_etl_spark.operators.dedup import md60
    from aws_saas_etl_spark.operators.similarity import _lexical_postings
    from aws_saas_etl_spark.streaming.runners import (
        stream_lexical_postings_ingest,
    )

    streamed = sorted(
        tuple(r) for r in stream_lexical_postings_ingest(spark, SF).collect()
    )
    postings, _sizes = _lexical_postings(spark, SF)
    batch = sorted(
        tuple(r)
        for r in postings.groupBy(
            F.substring("token", 1, 1).alias("initial")
        )
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum(md60(F.col("token")).bitwiseAND(F.lit(0xFFFFFFFF))).alias(
                "sum_tok_h32"
            ),
        )
        .collect()
    )
    assert streamed == batch


def test_stream_manifest_delta_ingest_matches_merge_keep_set(spark):
    """The manifest-delta stream must equal the audit derived from the
    BATCH incremental-merge verdict path (keeper = least(stored base
    index, delta-internal min) — the proven
    ``training_manifest_incremental`` machinery): with no intra-delta
    sha collisions in the fixture (asserted below), the merge's
    keep-delta set IS the per-row set the stream emits, so the pin ties
    the streaming gate chain + stream-static index probe to an
    independently-derived batch result, and with it the
    batching-invariance claim the full value-hash oracle rests on."""
    from aws_saas_etl_spark.functions import text as T
    from aws_saas_etl_spark.operators.curation import (
        _shard_cols,
        _stored_base_verdicts,
        _stored_signals,
    )
    from aws_saas_etl_spark.operators.dedup import (
        DELTA_DOC_FRACTION,
        _shingle_table,
    )
    from aws_saas_etl_spark.operators.textops import gate_verdict
    from aws_saas_etl_spark.streaming.runners import (
        stream_manifest_delta_ingest,
    )

    streamed = sorted(
        tuple(r) for r in stream_manifest_delta_ingest(spark, SF).collect()
    )

    sh = _shingle_table(spark, SF)
    cut = sh.agg(
        F.percentile("doc_id", 1.0 - DELTA_DOC_FRACTION).alias("cut")
    ).first()["cut"]
    _, sha_idx = _stored_base_verdicts(spark, SF)
    sig_delta = _stored_signals(spark, SF).where(F.col("doc_id") > F.lit(cut))

    # fixture property the docstring claims: no intra-delta sha collisions
    assert (
        sig_delta.groupBy("sha")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .count()
        == 0
    )

    wd = Window.partitionBy("sha")
    keep_delta = (
        sig_delta.withColumn("dmin", F.min("doc_id").over(wd))
        .join(F.broadcast(sha_idx), "sha", "left")
        .withColumn(
            "keeper", F.least(F.coalesce("base_min", "dmin"), F.col("dmin"))
        )
        .select("doc_id", gate_verdict(F.col("keeper")).alias("verdict"))
        .where(F.col("verdict") == "keep")
        .select("doc_id")
    )
    docs = load_table(spark, SF, "documents").na.drop("any")
    feats = keep_delta.join(
        docs.select("doc_id", T.token_count("text").alias("n_tokens")), "doc_id"
    ).withColumn("ckey", F.col("doc_id"))
    batch = sorted(
        tuple(r)
        for r in _shard_cols(feats)
        .groupBy("split", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_new_docs"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum("n_tokens").alias("sum_n_tokens"),
        )
        .collect()
    )
    assert streamed == batch and streamed


def test_staged_events_dir_stages_once_per_path(spark):
    """``d`` and ``d/`` name one fixture directory, so the events table is
    staged once and both spellings stream the same copy."""
    from aws_saas_etl_spark.streaming import runners as R

    app = spark.sparkContext.applicationId

    def ours():
        return [
            k
            for k in R._stage_cache
            if k[0] == app and os.path.abspath(k[1]) == os.path.abspath(SF)
        ]

    for k in ours():
        del R._stage_cache[k]
    assert R._staged_events_dir(spark, SF) == R._staged_events_dir(spark, SF + "/")
    assert len(ours()) == 1


def test_available_now_takes_one_state_partition_per_task_slot(spark, event_dir):
    """A new stream started through ``run_available_now`` runs one state
    partition per task slot, not the session's batch shuffle partitions,
    and the caller's conf reads the same after the drain — and after a
    ``start()`` that raises."""
    from pyspark.errors import AnalysisException

    key = "spark.sql.shuffle.partitions"
    assert spark.conf.get(key) == "8"
    stream = P.read_event_stream(spark, event_dir)
    q = P.run_available_now(
        P.session_stats(stream)
        .writeStream.format("memory")
        .queryName("slot_partitions_out")
        .outputMode("append"),
        spark,
    )
    slots = spark.sparkContext.defaultParallelism
    assert slots == 4
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == slots
    assert spark.table("slot_partitions_out").count() > 0
    assert spark.conf.get(key) == "8"

    # append mode over an aggregation with no watermark is refused at start()
    with pytest.raises(AnalysisException):
        P.run_available_now(
            stream.groupBy("user_id")
            .count()
            .writeStream.format("memory")
            .queryName("refused_out")
            .outputMode("append"),
            spark,
        )
    assert spark.conf.get(key) == "8"


def test_memory_drain_starts_without_checkpoint_checksums(spark, event_dir, tmp_path, monkeypatch):
    """A memory drain's checkpoint is a temporary directory Spark deletes
    when the query stops, so ``run_to_memory`` starts it with checkpoint
    checksum files off, and the caller's conf reads the same afterwards.
    Spark reads the conf when the query starts: a stream started with it
    off writes no checksum files for its state, one started under the
    default does."""
    key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    before = spark.conf.get(key, None)
    at_start = []
    run_available_now = P.run_available_now

    def spy(writer, session):
        at_start.append(session.conf.get(key))
        return run_available_now(writer, session)

    monkeypatch.setattr(P, "run_available_now", spy)
    stream = P.read_event_stream(spark, event_dir)
    P.run_to_memory(P.session_stats(stream), "no_checksum_out")
    assert at_start == ["false"]
    assert spark.table("no_checksum_out").count() > 0
    assert spark.conf.get(key, None) == before

    def checksum_files(name, checksums):
        ckpt = tmp_path / name
        writer = (
            P.hourly_stats(stream)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"{name}_out"))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
        )
        if checksums:
            run_available_now(writer, spark)
        else:
            with P._session_conf(spark, key, "false"):
                run_available_now(writer, spark)
        # Spark's own checksum files sit next to each delta file as
        # "<version>.delta.crc"; Hadoop's hidden ".<name>.crc" files stay
        state = (ckpt / "state" / "0" / "0").iterdir()
        return [f.name for f in state if f.name.endswith(".delta.crc") and f.name[0] != "."]

    assert checksum_files("off", checksums=False) == []
    assert checksum_files("default", checksums=True) != []
    assert spark.conf.get(key, None) == before


def test_every_engine_stream_starts_through_run_available_now():
    """A stream started anywhere else would fall back to the session's
    batch shuffle partitions (32 under ``get_spark``, 200 on a plain
    session) for its state. No module under ``aws_saas_etl_spark/`` may
    call ``.start()`` or ``.toTable()`` outside ``run_available_now``."""
    import ast
    import glob

    import aws_saas_etl_spark

    root = os.path.dirname(aws_saas_etl_spark.__file__)

    def starts(node, inside):
        if isinstance(node, ast.FunctionDef) and node.name == "run_available_now":
            inside = True
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("start", "toTable")
            and not inside
        ):
            yield node.lineno
        for child in ast.iter_child_nodes(node):
            yield from starts(child, inside)

    bypass = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        tree = ast.parse(open(path).read(), path)
        bypass += [f"{os.path.relpath(path, root)}:{n}" for n in starts(tree, False)]
    assert bypass == []
