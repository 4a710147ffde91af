"""Table registry over the driver's Parquet fixtures.

The reference keeps its metadata in Postgres and its data as loose CSV in
S3 (reference app.py:34-39, etl_core.py:22-27); the engine's catalog is a
directory of Parquet tables, so scans get column pruning and predicate
pushdown for free.

- **Footers once per session.** Inferring a Parquet schema reads the file
  footers in a Spark job, and Spark's fixed cost per job dwarfs a short
  query's own work. ``parquet_schema`` infers a path's schema once per
  session per file identity (every file's relative path, size and
  ``mtime_ns``) and serves it from a ``MemoDict`` after that, so a warm
  ``load_table`` launches no job. A file rewritten at the same path has a
  new identity and is re-read, never served a stale schema.
- **Lazy tables.** ``load_tables`` returns an object that loads a table on
  first attribute access, so a query opens only the tables it touches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from aws_saas_etl_spark.memo import MemoDict

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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Parquet schemas per (session, abspath, file identity). traced=False: a
#: schema is catalog metadata, not a stored artifact, so it is cleared by
#: clear_session_memos (a cold pass re-reads the footers of the tables it
#: touches) but does not make a query memo-backed in the bench.
_SCHEMAS = MemoDict("table_schemas", traced=False)


def _file_identity(path: str) -> tuple:
    """``(relpath, size, mtime_ns)`` of every file under ``path`` (or of
    ``path`` itself when it is a file), sorted."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = [os.path.join(root, f) for root, _, fs in os.walk(path) for f in fs]
    identity = []
    for f in files:
        st = os.stat(f)
        identity.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(identity))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The Parquet schema at ``path``: its footers are read by one Spark
    job on the first call per session and file identity, and served from
    the session memo after that."""
    return _SCHEMAS.get_or_build(
        spark, path, _file_identity(path), build=lambda: spark.read.parquet(path).schema
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy Parquet scan of one fixture table, read with its session-cached
    schema: the footer is read once per session per file identity, so only
    the first read of a table launches a Spark job.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects. We read it as raw int64 nanoseconds
    (``nanosAsLong``) and convert to microsecond TIMESTAMP_NTZ with exact
    integer division (``div`` truncates like DuckDB's ns→µs conversion), so
    both engines see identical values. The conf is set on every ``events``
    read, cached schema or not: the cached ``ts: bigint`` schema reads
    correctly only with it, and a caller's own session may not carry it.
    """
    path = table_path(sf_dir, name)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") in ("bigint", "long"):
        df = df.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
        )
    return df


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


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition a scan that has too few input splits.

    Small single-file Parquet inputs arrive as ONE partition, which
    serializes every downstream per-row computation (tokenization, hashing,
    pair joins) onto one core. Operators with heavy map-side work call this
    before computing. On a real cluster reading many-file tables the input
    already has >= parallelism splits and this is a no-op — the shuffle
    only happens when the scan is pathologically under-split.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
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


class LazyTables:
    """The fixture tables of one ``sf_dir`` as attributes. A table is
    loaded by the module-level ``load_table`` on its first access and kept
    for later ones; a name outside ``TABLES`` raises ``AttributeError``."""

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise AttributeError(name)
        df = load_table(self._spark, self._sf_dir, name)
        setattr(self, name, df)
        return df


def load_tables(spark: SparkSession, sf_dir: str) -> LazyTables:
    """Fixture tables as attributes, each loaded on first access:
    ``t = load_tables(...); t.lineitem`` opens ``lineitem`` only."""
    return LazyTables(spark, sf_dir)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
