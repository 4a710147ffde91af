"""SparkSession factory with scale-oriented defaults.

The engine targets multi-executor clusters reading ~100 TB; locally we run
``local[N]``. All settings below are safe in both modes:

- AQE on: runtime coalescing of post-shuffle partitions, skew-join
  splitting, and dynamic join-strategy demotion to broadcast — the single
  most important knob for unknown data scales.
- Arrow on: every Pandas UDF / ``applyInPandas`` path moves columnar
  batches, not pickled rows.
- UTC session timezone: deterministic timestamp semantics regardless of
  host zone (the DuckDB oracle reads the same parquet in naive UTC).
- 32 shuffle partitions: a batch upper bound that AQE coalesces down.
  Streams do not use it: AQE is off inside a stream, so every stream
  starts through ``streaming.pipelines.run_available_now`` with one
  state partition per task slot.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Batch upper bound, coalesced down by AQE. Streams take one state
#: partition per task slot instead (see ``run_available_now``).
DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "aws-saas-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for tests/bench; on a real cluster the caller passes its own master or
    relies on spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: vectorized reader + aggressive pushdown are on by
        # default; pin them explicitly so a misconfigured cluster profile
        # can't silently disable the fast path.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # 128 MB input splits — the right granularity for wide clusters.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def clear_session_memos() -> None:
    """Purge every session-scoped DataFrame memo (content clusters,
    shingle table, stored base assignment, fitted IVF centroids, manifest
    artifacts). The memos model STORED artifacts — in production each is
    read back from object storage, so computing one per session is the
    faithful serving shape — but cold-path measurement (scale_probe,
    plan_audit's cold mode) must clear them or it times/plans only the
    cheap consumer stage. The set of memos is not hand-curated: every
    cache is a self-registering ``memo.MemoDict`` (importing the operator
    modules registers them), so a new stored artifact is covered the
    moment it exists."""
    from aws_saas_etl_spark import memo
    from aws_saas_etl_spark.operators import curation, dedup, similarity  # noqa: F401

    memo.clear_all()
