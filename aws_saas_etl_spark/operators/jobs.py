"""Job metadata store (SURVEY §2a W1-W4, S6/S7 — the reference's
users/jobs Postgres schema re-expressed Spark-natively).

The reference mutates rows in place inside Postgres transactions
(reference app.py:156-179, models.py:8-35). Plain Parquet has no UPDATE,
so the engine uses the Spark-native pattern: an APPEND-ONLY event log of
job-status transitions plus a latest-wins view. That is:

- W1 INSERT        → append a row with status 'Pending'/'Processing'
- W2 UPDATE        → append a new row with the new status; the view
                     resolves to the latest per job_id
- W3 ROLLBACK      → nothing to roll back: appends are atomic per file,
                     reruns are idempotent (same job_id re-appends)
- W4 UNIQUE guard  → anti-join pre-check before insert

At 100 TB scale the log partitions by date and compacts periodically; the
latest-wins view is one window per job_id — the same pattern Delta/Iceberg
implement under the hood with transactional metadata on top.

Schema parity (reference models.py):
  users: id, username, password_hash, created_at
  jobs:  id, filename, status, result_url, upload_time, user_id
Status machine: Pending → Processing → Completed | Failed
(defaults at models.py:29; transitions at app.py:158,177; 'Failed'
rendered by the UI, templates/index.html:258).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

JOB_STATUSES = ("Pending", "Processing", "Completed", "Failed")

JOB_EVENT_SCHEMA = StructType(
    [
        StructField("job_id", LongType(), False),
        StructField("filename", StringType(), False),
        StructField("status", StringType(), False),
        StructField("result_url", StringType(), True),
        StructField("user_id", LongType(), False),
        StructField("event_time", TimestampType(), False),
        # ordering key: wall-clock nanoseconds at append time. Generated
        # WITHOUT reading the log (a max(seq) scan per append would
        # serialize every state transition behind a full-log aggregate at
        # scale); ties across concurrent writers resolve via `writer`.
        StructField("seq", LongType(), False),
        # per-append uuid: deterministic total order even if two writers
        # land the same nanosecond
        StructField("writer", StringType(), False),
    ]
)


class JobStore:
    """Append-only job-event log at ``path`` with a latest-wins view."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    _last_seq = 0  # process-wide floor so same-process appends stay strict

    @classmethod
    def _next_seq(cls) -> int:
        import time

        cls._last_seq = max(time.time_ns(), cls._last_seq + 1)
        return cls._last_seq

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], JOB_EVENT_SCHEMA)

    def events(self) -> DataFrame:
        try:
            return self.spark.read.schema(JOB_EVENT_SCHEMA).parquet(self.path)
        except Exception:
            return self._empty()

    def append(
        self,
        job_id: int,
        filename: str,
        status: str,
        user_id: int,
        result_url: str | None = None,
    ) -> None:
        """W1/W2: one atomic append per state transition.

        The ordering key (time_ns, uuid) is generated locally — no read of
        the existing log, so appends never serialize behind a log scan."""
        if status not in JOB_STATUSES:
            raise ValueError(f"invalid status {status!r}; expected one of {JOB_STATUSES}")
        import datetime
        import uuid

        seq = self._next_seq()
        writer = uuid.uuid4().hex
        now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        row = self.spark.createDataFrame(
            [(job_id, filename, status, result_url, user_id, now, seq, writer)],
            JOB_EVENT_SCHEMA,
        )
        row.write.mode("append").parquet(self.path)

    def current(self, as_of_seq: int | None = None) -> DataFrame:
        """Latest-wins view: the newest event per job_id (W2 read side).

        ``as_of_seq`` is time travel over the append-only log — the state
        of every job as of that ordering key, for free, because appends
        never destroy history (the same trick Delta/Iceberg snapshots
        play with their commit log)."""
        ev = self.events()
        if as_of_seq is not None:
            ev = ev.where(F.col("seq") <= as_of_seq)
        w = Window.partitionBy("job_id").orderBy(F.desc("seq"), F.desc("writer"))
        return (
            ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )

    def history(self, job_id: int) -> DataFrame:
        """Full transition history of one job, oldest first."""
        return self.events().where(F.col("job_id") == job_id).orderBy("seq", "writer")

    def jobs_by_upload_desc(self) -> DataFrame:
        """The reference's only declarative query (GET /api/jobs,
        app.py:194-208): jobs newest-first."""
        return self.current().orderBy(F.desc("event_time"), F.desc("job_id"))

    def assert_unique_job(self, job_id: int) -> None:
        """W4: uniqueness pre-check (reference pre-checks username at
        app.py:83-84). Done as a filtered count — at scale this is a
        broadcast semi-join against the incoming batch, never a collect."""
        if self.events().where(F.col("job_id") == job_id).limit(1).count() > 0:
            raise ValueError(f"job_id {job_id} already exists")


def jobstore_status_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the JobStore latest-wins read path (reference
    app.py:156-179 state machine + GET /api/jobs, app.py:194-208), made
    oracle-checkable by deriving a DETERMINISTIC append-only event log
    from the ``orders`` fixture instead of wall-clock appends:

      seq 1  every job            → 'Pending'        (models.py:29 default)
      seq 2  keys % 7 != 0        → 'Processing'     (app.py:158)
      seq 3  of those, % 5 != 0   → 'Completed' with result_url, or
                                    'Failed' for keys % 11 == 0
                                    (app.py:177; index.html:258)

    The read side is exactly ``JobStore.current()``'s shape: one window
    per job_id, newest seq wins, plus an event count for audit. One
    shuffle on job_id at any scale; the log itself never rewrites rows.
    """
    from aws_saas_etl_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir).orders.select("o_orderkey", "o_custkey")
    key = F.col("o_orderkey")
    fname = F.concat(F.lit("upload_"), key.cast("string"), F.lit(".csv"))
    base = orders.select(
        key.alias("job_id"),
        fname.alias("filename"),
        F.col("o_custkey").alias("user_id"),
    )
    pending = base.select(
        "job_id",
        "filename",
        F.lit("Pending").alias("status"),
        F.lit(None).cast("string").alias("result_url"),
        "user_id",
        F.lit(1).alias("seq"),
    )
    processing = base.where(F.col("job_id") % 7 != 0).select(
        "job_id",
        "filename",
        F.lit("Processing").alias("status"),
        F.lit(None).cast("string").alias("result_url"),
        "user_id",
        F.lit(2).alias("seq"),
    )
    finished = base.where((F.col("job_id") % 7 != 0) & (F.col("job_id") % 5 != 0)).select(
        "job_id",
        "filename",
        F.when(F.col("job_id") % 11 == 0, F.lit("Failed"))
        .otherwise(F.lit("Completed"))
        .alias("status"),
        F.when(
            F.col("job_id") % 11 != 0,
            F.concat(
                F.lit("updates/data_"), F.col("job_id").cast("string"), F.lit(".csv")
            ),
        ).alias("result_url"),
        "user_id",
        F.lit(3).alias("seq"),
    )
    ev = pending.unionByName(processing).unionByName(finished)
    w = Window.partitionBy("job_id").orderBy(F.desc("seq"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n_events", F.count(F.lit(1)).over(Window.partitionBy("job_id")))
        .where(F.col("rn") == 1)
        .select("job_id", "filename", "status", "result_url", "user_id", "n_events")
        .orderBy("job_id")
    )


# --- MERGE INTO (set-based upsert) -----------------------------------------


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str,
    action_col: str | None = "merge_action",
) -> DataFrame:
    """MERGE INTO semantics as one set-based join — the batch generalization
    of the reference's row-at-a-time UPDATE loop (reference app.py:156-179
    mutates one jobs row per request; a warehouse merges the whole changeset
    in one pass):

      WHEN MATCHED THEN UPDATE SET * (source wins)
      WHEN NOT MATCHED THEN INSERT *   (new source keys appear)
      (target rows without a source match pass through unchanged)

    Shape: a single full-outer shuffle join on ``key``; every non-key column
    resolves as coalesce(source, target). No window, no collect, no
    broadcast assumption — at 100 TB both sides hash-partition on the merge
    key and AQE splits skewed keys; this is exactly the join Delta/Iceberg
    MERGE plans under the hood. Requires identical schemas (the SQL MERGE
    precondition); raises otherwise rather than silently dropping columns.
    """
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"merge_upsert: schema mismatch {sorted(target.columns)} vs "
            f"{sorted(source.columns)}"
        )
    t = target.alias("t")
    s = source.alias("s")
    merged = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    cols = [
        F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c) for c in target.columns
    ]
    if action_col:
        cols.append(
            F.when(F.col(f"t.{key}").isNull(), F.lit("inserted"))
            .when(F.col(f"s.{key}").isNull(), F.lit("kept"))
            .otherwise(F.lit("updated"))
            .alias(action_col)
        )
    return merged.select(*cols)


def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: MERGE a deterministic changeset into ``orders``.

    The changeset is derived from the table itself so the oracle can
    rebuild it exactly: every 97th key becomes an UPDATE (status → 'F',
    price × 1.05) and every (97k+1)th key spawns an INSERT under a fresh
    negative key (guaranteed absent from the fixture). The merged relation
    carries a ``merge_action`` audit column — the row-level answer to
    "what did this MERGE do", which is what a pipeline asserts on before
    swapping the table pointer.
    """
    from aws_saas_etl_spark.catalog import load_tables
    from aws_saas_etl_spark.functions.num import dround

    orders = load_tables(spark, sf_dir).orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = orders.where(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("F").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.05)).alias("o_totalprice"),
    )
    inserts = orders.where(F.col("o_orderkey") % 97 == 1).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    merged = merge_upsert(orders, updates.unionByName(inserts), "o_orderkey")
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        dround(F.col("o_totalprice"), 2).alias("o_totalprice"),
        "merge_action",
    )
