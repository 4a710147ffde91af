"""Table registry over the driver's Parquet fixtures.

The reference keeps its metadata in Postgres and its data as loose CSV in
S3 (reference app.py:34-39, etl_core.py:22-27); the engine's catalog is a
directory of Parquet tables read lazily — schemas come from Parquet
footers, so scans get column pruning + predicate pushdown for free.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables with FIXED cardinality (5 regions, 25 nations at any
# scale factor) — the only tables safe to force-broadcast. `supplier` and
# `part` GROW with scale factor (sf100 ⇒ 20M+ parts): hinting them would
# override Spark's size threshold and OOM the driver at cluster scale, so
# their joins carry no hint — the planner broadcasts them only while their
# file-size stats fit `spark.sql.autoBroadcastJoinThreshold`, and AQE can
# still convert to broadcast at runtime from actual shuffle sizes.
BROADCAST_DIMS = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy Parquet scan of one fixture table.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects. We read it as raw int64 nanoseconds
    (``nanosAsLong``) and convert to microsecond TIMESTAMP_NTZ with exact
    integer division (``div`` truncates like DuckDB's ns→µs conversion), so
    both engines see identical values.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        raw = spark.read.parquet(table_path(sf_dir, name))
        if dict(raw.dtypes).get("ts") in ("bigint", "long"):
            raw = raw.withColumn(
                "ts",
                F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"),
            )
        return raw
    return spark.read.parquet(table_path(sf_dir, name))


#: Session-scoped table row counts (r13 optimization). Every ANN/dedup
#: sizing rule (ivf_cells_for, lsh_bits_for, semdedup_k, er_block_suffix_len)
#: needs |table| — and the fleet recomputed it per query construction, on
#: the REPARTITIONED frame (ensure_parallelism → count pays the shuffle:
#: 2 stages of pure sizing overhead per arm; the ladder staleness report's
#: 11 arms paid it 11×). A row count is a catalog statistic (parquet
#: footers carry it; every warehouse serves it from table stats), so it is
#: computed once per session per table on the RAW scan — Spark's
#: count over an unmodified parquet scan reads footer metadata, no data
#: pass — and cached. traced=False: cleared by clear_session_memos (cold
#: reps re-pay the one metadata job) but not a stored-artifact regime the
#: bench cold/warm table needs rows for.
from aws_saas_etl_spark.memo import MemoDict

_ROW_COUNTS = MemoDict("table_row_counts", traced=False)


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """|table| as a catalog statistic: counted once per session on the raw
    parquet scan (footer metadata — no shuffle, no repartition), then
    served from the session cache. Use for SIZING decisions only; the
    value is identical to counting any row-preserving derivation of the
    scan, so swapping a ``df.count()`` sizing probe for this changes no
    query result."""
    return _ROW_COUNTS.get_or_build(
        spark, sf_dir, name, build=lambda: load_table(spark, sf_dir, name).count()
    )


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a scan that has too few input splits.

    Small single-file Parquet inputs arrive as ONE partition, which
    serializes every downstream per-row computation (tokenization, hashing,
    pair joins) onto one core. Operators with heavy map-side work call this
    before computing. On a real cluster reading many-file tables the input
    already has >= parallelism splits and this is a no-op — the shuffle
    only happens when the scan is pathologically under-split.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Cheap probe: count input files (driver-side listing, ~ms). The exact
    # check (df.rdd.getNumPartitions()) converts the plan to an RDD and
    # measured ~1s per call — pure per-query overhead. A table backed by
    # fewer files than cores is the under-split case we guard against
    # (single-row-group files can't split further anyway).
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> SimpleNamespace:
    """All fixture tables as attributes: ``t = load_tables(...); t.lineitem``."""
    return SimpleNamespace(
        **{name: load_table(spark, sf_dir, name) for name in TABLES}
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
