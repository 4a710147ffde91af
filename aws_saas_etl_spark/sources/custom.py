"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API).

The reference can only ingest what boto3 hands it as whole CSV objects
(reference app.py:47-50). Spark 4's Python DataSource API is the
engine-native extension point for everything else — paged REST APIs,
proprietary formats, synthetic generators — with real partition
planning: the driver plans N independent partitions, each executor
reads its own slice, and the scan parallelizes like any file source.

``SyntheticEventsDataSource`` is the deterministic reference
implementation: closed-form rows (no RNG state), so any slice can be
produced independently by any executor AND reproduced exactly by the
DuckDB oracle from ``generate_series`` — which is what makes a custom
source oracle-checkable at all.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

DEFAULT_PARTITIONS = 8
DEFAULT_ROWS_PER_PARTITION = 1000

SCHEMA_DDL = "event_id BIGINT, user_id BIGINT, value DOUBLE"


def _row(i: int) -> tuple[int, int, float]:
    """Closed-form row i — pure arithmetic, identical in SQL."""
    return (i, i % 97, round((i * 31) % 1000 / 10.0, 1))


class _Partition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n_parts = int(options.get("partitions", DEFAULT_PARTITIONS))
        self.rows_per_part = int(
            options.get("rows_per_partition", DEFAULT_ROWS_PER_PARTITION)
        )

    def partitions(self):
        return [
            _Partition(p * self.rows_per_part, (p + 1) * self.rows_per_part)
            for p in range(self.n_parts)
        ]

    def read(self, partition: _Partition):
        for i in range(partition.start, partition.end):
            yield _row(i)


class SyntheticEventsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return SyntheticEventsReader(self.options)


def register(spark) -> None:
    """Idempotent registration on a session."""
    spark.dataSource.register(SyntheticEventsDataSource)


def custom_source_scan(spark, sf_dir: str):
    """Registry query: scan the custom Python source (8 partitions ×
    1000 rows planned driver-side, read executor-side) and aggregate —
    proving schema, options, partition planning, and values end to end
    against a ``generate_series`` oracle. ``sf_dir`` is unused: the
    source IS the data."""
    from pyspark.sql import functions as F

    from aws_saas_etl_spark.functions.num import dsum_rounded

    register(spark)
    df = spark.read.format("synthetic_events").load()
    return (
        df.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            dsum_rounded(F.col("value"), 2).alias("total_value"),
        )
        .orderBy("user_bucket")
    )


# --------------------------------------------------------------------------
# Streaming variant: Spark 4 Python STREAMING data source
# (SimpleDataSourceStreamReader — offset tracking + replay, no JVM code)
# --------------------------------------------------------------------------

STREAM_BATCH_ROWS = 500
STREAM_TOTAL_ROWS = 2_000


class _SyntheticStreamReader:
    """Offset-tracked reads over the same closed-form rows as the batch
    source: offset = next row index; each micro-batch serves up to
    ``STREAM_BATCH_ROWS`` rows. ``readBetweenOffsets`` replays a
    committed range exactly (closed form ⇒ replay is re-computation, the
    property that makes the source exactly-once under checkpoint
    recovery)."""

    def initialOffset(self):
        return {"i": 0}

    def read(self, start):
        i = int(start["i"])
        end = min(i + STREAM_BATCH_ROWS, STREAM_TOTAL_ROWS)
        return iter([_row(j) for j in range(i, end)]), {"i": end}

    def readBetweenOffsets(self, start, end):
        return iter([_row(j) for j in range(int(start["i"]), int(end["i"]))])


class SyntheticEventsStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_events_stream"

    def schema(self) -> str:
        return SCHEMA_DDL

    def simpleStreamReader(self, schema):
        from pyspark.sql.datasource import SimpleDataSourceStreamReader

        # mixin FIRST: SimpleDataSourceStreamReader's own methods raise
        # NOT_IMPLEMENTED and would shadow the mixin under the other order
        class _R(_SyntheticStreamReader, SimpleDataSourceStreamReader):
            pass

        return _R()


def register_stream(spark) -> None:
    """Idempotent registration on a session."""
    spark.dataSource.register(SyntheticEventsStreamDataSource)


# --------------------------------------------------------------------------
# Writer half: Spark 4 Python DataSource WRITER (batch + streaming)
# --------------------------------------------------------------------------
#
# ``manifest_parquet`` is an engine-native sink with real commit/abort
# semantics — the write-side symmetry to the readers above (the reference's
# only sink is a whole-object S3 put, reference app.py:53-62; this is the
# Spark-idiomatic replacement):
#
#   * executors stream Arrow RecordBatches straight to parquet files in a
#     ``_staging/`` area (DataSourceArrowWriter — zero row-object overhead;
#     on a 1000-executor cluster each task writes its own file, no driver
#     data movement);
#   * the driver's ``commit`` renames staged files into place and appends
#     them to ``_MANIFEST.json`` via atomic tmp+rename — readers only ever
#     trust manifest-listed files, so a crashed/aborted write is invisible
#     (the same manifest-commit idea as Iceberg/Delta, scaled down);
#   * ``abort`` deletes the staged files;
#   * the STREAMING variant keys the manifest by ``batchId`` — a replayed
#     micro-batch (checkpoint recovery re-runs the last epoch) detects its
#     batchId already committed and drops the duplicate files, which is
#     exactly-once end to end when the source replays deterministically.

MANIFEST_NAME = "_MANIFEST.json"


def _manifest_path(path: str) -> str:
    import os

    return os.path.join(path, MANIFEST_NAME)


def _read_manifest(path: str) -> dict:
    import json
    import os

    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return {"files": [], "batches": {}}
    with open(mp) as f:
        data = json.load(f)
    data.setdefault("files", [])
    data.setdefault("batches", {})
    return data


def _write_manifest_atomic(path: str, manifest: dict) -> None:
    import json
    import os

    mp = _manifest_path(path)
    tmp = mp + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(tmp, mp)  # atomic on POSIX: readers see old or new, never half


class _FileCommit(WriterCommitMessage):
    """Picklable per-task commit message: staged file + row count.
    ``staged is None`` marks an empty partition (the API requires a
    message object even when a task wrote nothing)."""

    def __init__(self, staged: str | None, rows: int):
        self.staged = staged
        self.rows = rows


class ManifestParquetWriter(DataSourceArrowWriter):
    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("manifest_parquet requires option 'path'")
        self.overwrite = overwrite

    def write(self, iterator):
        """Executor-side: stream RecordBatches into ONE staged parquet
        file per task (pyarrow writer, never materializing the batches)."""
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        staged = os.path.join(staging, f"task-{uuid.uuid4().hex}.parquet")
        writer = None
        rows = 0
        for batch in iterator:
            if writer is None:
                writer = pq.ParquetWriter(staged, batch.schema)
            writer.write_table(pa.Table.from_batches([batch]))
            rows += batch.num_rows
        if writer is None:
            return _FileCommit(None, 0)  # empty partition: nothing staged
        writer.close()
        return _FileCommit(staged, rows)

    def commit(self, messages):
        """Crash-safe ordering: rename staged files in, atomically swap
        the manifest, and only THEN delete files the old manifest owned.
        A crash anywhere before the manifest swap leaves the previous
        commit fully readable (new data files are invisible orphans); a
        crash after it leaves at worst orphaned old files, never a
        manifest that lists deleted data.  Final names carry a per-commit
        token so an overwrite never ``os.replace``s over a file the old
        manifest still references."""
        import os
        import uuid

        old = _read_manifest(self.path)
        manifest = {"files": [], "batches": {}} if self.overwrite else old
        start = len(manifest["files"])
        live = [m for m in messages if m is not None and m.staged is not None]
        token = uuid.uuid4().hex[:8]
        for i, m in enumerate(live):
            final = f"data-{start + i:05d}-{token}.parquet"
            os.replace(m.staged, os.path.join(self.path, final))
            manifest["files"].append(final)
        _write_manifest_atomic(self.path, manifest)
        if self.overwrite:
            keep = set(manifest["files"])
            for name in old["files"]:
                if name not in keep:
                    try:
                        os.remove(os.path.join(self.path, name))
                    except OSError:
                        pass

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and m.staged is not None:
                try:
                    os.remove(m.staged)
                except OSError:
                    pass


class ManifestParquetStreamWriter(DataSourceStreamArrowWriter):
    """Same sink for Structured Streaming: commit is keyed by batchId, so
    a checkpoint-recovery replay of an already-committed epoch is dropped
    (its staged files deleted) instead of double-counted."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("manifest_parquet requires option 'path'")

    write = ManifestParquetWriter.write

    def commit(self, messages, batchId):
        import os

        manifest = _read_manifest(self.path)
        key = str(batchId)
        live = [m for m in messages if m is not None and m.staged is not None]
        if key in manifest["batches"]:
            for m in live:  # replayed epoch: drop duplicates
                try:
                    os.remove(m.staged)
                except OSError:
                    pass
            return
        names = []
        for i, m in enumerate(live):
            final = f"batch-{batchId:05d}-{i:03d}.parquet"
            os.replace(m.staged, os.path.join(self.path, final))
            names.append(final)
        manifest["files"].extend(names)
        manifest["batches"][key] = {"files": names, "rows": sum(m.rows for m in live)}
        _write_manifest_atomic(self.path, manifest)

    def abort(self, messages, batchId):
        import os

        for m in messages:
            if m is not None and m.staged is not None:
                try:
                    os.remove(m.staged)
                except OSError:
                    pass


class ManifestParquetDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "manifest_parquet"

    def writer(self, schema: StructType, overwrite: bool):
        return ManifestParquetWriter(self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return ManifestParquetStreamWriter(self.options, overwrite)


def register_sink(spark) -> None:
    """Idempotent registration on a session."""
    spark.dataSource.register(ManifestParquetDataSource)


def read_manifest_parquet(spark, path: str, empty_schema: str | None = None):
    """Read back ONLY manifest-committed files (staged/aborted files are
    invisible — the reader half of the commit protocol).

    ``empty_schema`` is the DDL to use when the manifest commits ZERO
    files; callers that can legitimately observe an empty store (the
    rollback tests, a drained stream before its first commit) pass their
    own schema. Callers that always write before reading get a loud
    ``ValueError`` instead of a silently wrong-schema frame (ADVICE r9:
    the old events-schema fallback was reachable from the BQ signature
    roundtrip and would have surfaced as a confusing downstream join
    failure)."""
    import os

    files = _read_manifest(path)["files"]
    if not files:
        if empty_schema is None:
            raise ValueError(
                f"manifest at {path} commits no files and caller gave no "
                "empty_schema — store was never written or was rolled back"
            )
        return spark.createDataFrame([], empty_schema)
    return spark.read.parquet(*[os.path.join(path, f) for f in files])


def proc_dir(kind: str, *tags) -> str:
    """Deterministic per-(kind, tags, pid) scratch dir, reused across
    invocations in the same process — a fresh ``mkdtemp`` per call leaks a
    data copy on every bench/correctness repeat, while a pid-free path
    would let two concurrent processes (bench alongside the driver's
    correctness gate) race on the same files. Content-bearing ``tags``
    (row counts, sf_dir) go into the name so a constant change can't
    resurrect stale state."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5("|".join(str(t) for t in tags).encode()).hexdigest()[:10]
    path = os.path.join(
        tempfile.gettempdir(), f"etl_spark_{kind}_{tag}_{os.getpid()}"
    )
    os.makedirs(path, exist_ok=True)
    return path


def store_and_read_back(df, kind: str, sf_dir: str, *tags):
    """The storage leg of every stored-artifact query: write ``df``
    through the ``manifest_parquet`` sink and return the stored rows.

    - **Overwrite.** Each call replaces the store's committed content;
      the read-back holds only this call's rows.
    - **One dir per (kind, abspath(sf_dir), tags, pid).** The store is
      ``proc_dir(kind, os.path.abspath(sf_dir), *tags)``, so ``d`` and
      ``d/`` name one store and concurrent processes never share one.
    - **Manifest-only read-back.** Only files the manifest commits are
      read; staged or aborted files stay invisible.

    The write runs inside the call; the returned frame reads the files
    it committed."""
    import os

    register_sink(df.sparkSession)
    path = proc_dir(kind, os.path.abspath(sf_dir), *tags)
    df.write.format("manifest_parquet").option("path", path).mode(
        "overwrite"
    ).save()
    return read_manifest_parquet(df.sparkSession, path)


def store_base_with_delta(rows, kind: str, sf_dir: str, id_col: str, cut: int):
    """A per-row artifact kept as a stored base plus a live delta: the
    rows with ``id_col <= cut`` go through ``store_and_read_back`` into
    the store tagged with ``cut``, and the rows above the cut union onto
    the stored read-back. ``cut`` comes from the caller's own id set
    (``memo.rank_cut``); the result holds every row of ``rows``."""
    from pyspark.sql import functions as F

    stored = store_and_read_back(
        rows.where(F.col(id_col) <= F.lit(cut)), kind, sf_dir, cut
    )
    return stored.unionByName(rows.where(F.col(id_col) > F.lit(cut)))


def custom_sink_roundtrip(spark, sf_dir: str):
    """Registry query for the WRITER half: the synthetic source is pushed
    through the custom ``manifest_parquet`` sink (executor-side Arrow →
    staged parquet, driver-side atomic manifest commit), read back via the
    manifest, and aggregated — value-hash-provable because write→read is
    lossless and the source is closed-form (``generate_series`` twin).
    ``overwrite`` mode keeps the reused per-pid dir deterministic across
    repeats. ``sf_dir`` only keys the store dir: the source IS the data."""
    from pyspark.sql import functions as F

    from aws_saas_etl_spark.functions.num import dsum_rounded

    register(spark)
    back = store_and_read_back(
        spark.read.format("synthetic_events").load(),
        "sink_rt",
        sf_dir,
        DEFAULT_PARTITIONS,
        DEFAULT_ROWS_PER_PARTITION,
    )
    return (
        back.groupBy((F.col("event_id") % 13).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            dsum_rounded(F.col("value"), 2).alias("total_value"),
        )
        .orderBy("bucket")
    )


# Constructing this query's DataFrame EXECUTES the custom-sink write
# (staged parquet + manifest commit) it reads back.
custom_sink_roundtrip.side_effecting = True
