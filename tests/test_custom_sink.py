"""Custom Python DataSource WRITER (manifest_parquet): commit, abort,
overwrite/append, and streaming batchId-keyed exactly-once semantics.

The reference's only sink is a whole-object S3 put (reference
app.py:53-62); the manifest-commit protocol here is the Spark-idiomatic
replacement — these tests pin the protocol's failure paths, which no
registry query can (the driver only sees successful runs).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from aws_saas_etl_spark.sources import custom


@pytest.fixture()
def sink_dir():
    path = tempfile.mkdtemp(prefix="test_manifest_sink_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _events_df(spark):
    custom.register(spark)
    return spark.read.format("synthetic_events").load()


def test_batch_roundtrip_and_overwrite(spark, sink_dir):
    custom.register_sink(spark)
    df = _events_df(spark)
    df.write.format("manifest_parquet").option("path", sink_dir).mode(
        "overwrite"
    ).save()
    assert custom.read_manifest_parquet(spark, sink_dir).count() == 8000
    # overwrite replaces committed files instead of accumulating
    df.write.format("manifest_parquet").option("path", sink_dir).mode(
        "overwrite"
    ).save()
    back = custom.read_manifest_parquet(spark, sink_dir)
    assert back.count() == 8000
    assert back.agg(F.countDistinct("event_id")).collect()[0][0] == 8000
    # no stale data files beyond the manifest's list
    files = {f for f in os.listdir(sink_dir) if f.endswith(".parquet")}
    assert files == set(custom._read_manifest(sink_dir)["files"])


def test_batch_append_and_empty_partitions(spark, sink_dir):
    custom.register_sink(spark)
    _events_df(spark).write.format("manifest_parquet").option(
        "path", sink_dir
    ).mode("overwrite").save()
    # 5 rows over >5 partitions → empty partitions must not break commit
    spark.range(5).repartition(8).selectExpr(
        "id as event_id", "id as user_id", "cast(id as double) as value"
    ).write.format("manifest_parquet").option("path", sink_dir).mode(
        "append"
    ).save()
    assert custom.read_manifest_parquet(spark, sink_dir).count() == 8005


def test_abort_leaves_no_committed_state(spark, sink_dir):
    """A task failure mid-write must leave the sink exactly as it was:
    no manifest, no visible files, and (post-abort) no staged leftovers."""
    custom.register_sink(spark)

    @F.udf("double")
    def boom(v):
        raise RuntimeError("injected task failure")

    df = _events_df(spark).withColumn("value", boom("value"))
    with pytest.raises(Exception):
        df.write.format("manifest_parquet").option("path", sink_dir).mode(
            "overwrite"
        ).save()
    assert custom._read_manifest(sink_dir)["files"] == []
    assert (
        custom.read_manifest_parquet(spark, sink_dir, custom.SCHEMA_DDL).count()
        == 0
    )
    with pytest.raises(ValueError, match="no empty_schema"):
        custom.read_manifest_parquet(spark, sink_dir)
    leftovers = [f for f in os.listdir(sink_dir) if f.endswith(".parquet")]
    assert leftovers == []


def test_abort_preserves_previous_commit(spark, sink_dir):
    """A failed overwrite must not clobber the previously committed data
    (files are only swapped inside commit, which never runs on failure)."""
    custom.register_sink(spark)
    _events_df(spark).write.format("manifest_parquet").option(
        "path", sink_dir
    ).mode("overwrite").save()

    @F.udf("double")
    def boom(v):
        raise RuntimeError("injected task failure")

    df = _events_df(spark).withColumn("value", boom("value"))
    with pytest.raises(Exception):
        df.write.format("manifest_parquet").option("path", sink_dir).mode(
            "overwrite"
        ).save()
    assert custom.read_manifest_parquet(spark, sink_dir).count() == 8000


def test_stream_writer_exactly_once_on_replay(spark, sink_dir):
    """Replaying an epoch (checkpoint recovery re-runs the last committed
    micro-batch) must not double-count: the batchId-keyed manifest drops
    the duplicate files. Simulated by calling the writer protocol directly
    with the same batchId twice — the exact call sequence the engine makes
    on recovery."""
    import pyarrow as pa

    writer = custom.ManifestParquetStreamWriter({"path": sink_dir}, False)
    batch = pa.RecordBatch.from_pydict(
        {"event_id": [1, 2], "user_id": [1, 2], "value": [0.1, 0.2]}
    )
    msg = writer.write(iter([batch]))
    writer.commit([msg], batchId=0)
    assert custom._read_manifest(sink_dir)["batches"].keys() == {"0"}
    # replay of batch 0: stages fresh files, commit must drop them
    msg2 = writer.write(iter([batch]))
    writer.commit([msg2], batchId=0)
    m = custom._read_manifest(sink_dir)
    assert len(m["files"]) == 1
    assert custom.read_manifest_parquet(spark, sink_dir).count() == 2
    # staged duplicate physically removed
    assert os.listdir(os.path.join(sink_dir, "_staging")) == []


def test_commit_crash_before_manifest_swap_preserves_old_data(
    spark, sink_dir, monkeypatch
):
    """A crash DURING an overwrite commit — after staged files are renamed
    in but before the manifest swap — must leave the previous commit fully
    readable. Pins the crash-safe ordering (rename in → manifest swap →
    delete old): the old manifest still lists only files that exist, the
    half-committed new files are invisible orphans."""
    import pyarrow as pa

    custom.register_sink(spark)
    _events_df(spark).write.format("manifest_parquet").option(
        "path", sink_dir
    ).mode("overwrite").save()
    old_files = set(custom._read_manifest(sink_dir)["files"])

    def crash(path, manifest):
        raise OSError("injected crash before manifest swap")

    monkeypatch.setattr(custom, "_write_manifest_atomic", crash)
    writer = custom.ManifestParquetWriter({"path": sink_dir}, overwrite=True)
    batch = pa.RecordBatch.from_pydict(
        {"event_id": [1], "user_id": [1], "value": [0.5]}
    )
    msg = writer.write(iter([batch]))
    with pytest.raises(OSError, match="injected"):
        writer.commit([msg])
    monkeypatch.undo()
    # previous commit intact: manifest unchanged, every listed file present
    assert set(custom._read_manifest(sink_dir)["files"]) == old_files
    for name in old_files:
        assert os.path.exists(os.path.join(sink_dir, name))
    assert custom.read_manifest_parquet(spark, sink_dir).count() == 8000


def test_stream_writer_abort_removes_staged(spark, sink_dir):
    import pyarrow as pa

    writer = custom.ManifestParquetStreamWriter({"path": sink_dir}, False)
    batch = pa.RecordBatch.from_pydict(
        {"event_id": [1], "user_id": [1], "value": [0.5]}
    )
    msg = writer.write(iter([batch]))
    writer.abort([msg], batchId=0)
    assert custom._read_manifest(sink_dir)["files"] == []
    assert os.listdir(os.path.join(sink_dir, "_staging")) == []


def test_writer_requires_path(spark):
    custom.register_sink(spark)
    with pytest.raises(Exception, match="path"):
        _events_df(spark).write.format("manifest_parquet").mode(
            "overwrite"
        ).save()


def test_operator_store_dirs_are_keyed_on_absolute_paths():
    """``proc_dir`` names a store by hashing its tags, so a tag holding the
    raw ``sf_dir`` gives ``d`` and ``d/`` two copies of one store. Every
    operator call must key on ``os.path.abspath(sf_dir)`` (or a name
    bound to it) instead of the bare argument."""
    import ast
    import glob

    ops = os.path.join(os.path.dirname(custom.__file__), "..", "operators")
    bare = []
    for path in sorted(glob.glob(os.path.join(ops, "*.py"))):
        tree = ast.parse(open(path).read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "proc_dir"
                and any(
                    isinstance(a, ast.Name) and a.id == "sf_dir" for a in node.args
                )
            ):
                bare.append(f"{os.path.basename(path)}:{node.lineno}")
    assert bare == []


_SINK_NAMES = {"register_sink", "read_manifest_parquet"}


def test_operator_store_legs_go_through_the_store_helper():
    """Every operator storage leg is ``store_and_read_back``: no module
    under ``operators/`` registers the sink, reads a manifest back or
    names the ``manifest_parquet`` format itself."""
    import ast
    import glob

    ops = os.path.join(os.path.dirname(custom.__file__), "..", "operators")
    found = []
    for path in sorted(glob.glob(os.path.join(ops, "*.py"))):
        tree = ast.parse(open(path).read(), path)
        for node in ast.walk(tree):
            if (
                (isinstance(node, ast.Name) and node.id in _SINK_NAMES)
                or (isinstance(node, ast.Attribute) and node.attr in _SINK_NAMES)
                or (isinstance(node, ast.alias) and node.name in _SINK_NAMES)
                or (isinstance(node, ast.Constant) and node.value == "manifest_parquet")
            ):
                found.append(f"{os.path.basename(path)}:{node.lineno}")
    assert found == []


def test_operators_never_union_a_store_read_back_by_hand():
    """A stored base + live delta is ``store_base_with_delta``: no
    operator function calls ``.unionByName`` on a ``store_and_read_back``
    result, or passes one to it, itself."""
    import ast
    import glob

    def is_store(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", getattr(node.func, "attr", None))
            == "store_and_read_back"
        )

    ops = os.path.join(os.path.dirname(custom.__file__), "..", "operators")
    stores, found = 0, []
    for path in sorted(glob.glob(os.path.join(ops, "*.py"))):
        tree = ast.parse(open(path).read(), path)
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            stored = {
                t.id
                for node in ast.walk(fn)
                if isinstance(node, ast.Assign) and is_store(node.value)
                for t in node.targets
                if isinstance(t, ast.Name)
            }
            stores += sum(is_store(node) for node in ast.walk(fn))
            for call in ast.walk(fn):
                if not (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr == "unionByName"
                ):
                    continue
                for operand in (call.func.value, *call.args):
                    if is_store(operand) or (
                        isinstance(operand, ast.Name) and operand.id in stored
                    ):
                        found.append(f"{os.path.basename(path)}:{call.lineno}")
    assert stores >= 5
    assert found == []


def test_store_base_with_delta_stores_the_base_and_returns_every_row(spark, tmp_path):
    """The store holds exactly the rows with ``id <= cut``, in the dir
    tagged with the cut; the result equals the input rows."""
    rows = spark.range(20).selectExpr("id AS doc_id", "id * 3 AS v")
    sf_dir = str(tmp_path)
    dirs = [custom.proc_dir("t_base_delta", os.path.abspath(sf_dir), c) for c in (13, 4)]
    try:
        out = custom.store_base_with_delta(rows, "t_base_delta", sf_dir, "doc_id", 13)
        assert sorted(map(tuple, out.collect())) == [(i, i * 3) for i in range(20)]
        base = custom.read_manifest_parquet(spark, dirs[0])
        assert sorted(r.doc_id for r in base.collect()) == list(range(14))
        # another cut is another store: the first one keeps its base
        out = custom.store_base_with_delta(rows, "t_base_delta", sf_dir, "doc_id", 4)
        assert sorted(r.doc_id for r in out.collect()) == list(range(20))
        base = custom.read_manifest_parquet(spark, dirs[1])
        assert sorted(r.doc_id for r in base.collect()) == list(range(5))
        base = custom.read_manifest_parquet(spark, dirs[0])
        assert sorted(r.doc_id for r in base.collect()) == list(range(14))
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


#: Fit functions that return plans: the memo that stores a fit
#: materializes it.
_FITS = {"ivf_fit_cells", "_pq_fit_from_subs", "logreg_fit", "_logreg_feats", "bpe_merges"}


def test_stored_artifacts_are_materialized_only_by_the_memo():
    """``MemoDict.get_or_build`` materializes every stored frame, so no
    ``build`` argument under ``operators/`` (a lambda, or a nested
    function passed by name) calls ``localCheckpoint``, and neither does
    any fit function a build wraps."""
    import ast
    import glob

    def checkpoints(node) -> bool:
        return any(
            isinstance(n, ast.Attribute) and n.attr == "localCheckpoint"
            for n in ast.walk(node)
        )

    ops = os.path.join(os.path.dirname(custom.__file__), "..", "operators")
    builds, fits, found = 0, set(), []
    for path in sorted(glob.glob(os.path.join(ops, "*.py"))):
        tree = ast.parse(open(path).read(), path)
        where = os.path.basename(path)
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            if fn.name in _FITS:
                fits.add(fn.name)
                if checkpoints(fn):
                    found.append(f"{where}:{fn.name}")
            nested = {
                d.name: d for d in ast.walk(fn) if isinstance(d, ast.FunctionDef)
            }
            for call in ast.walk(fn):
                if not (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr == "get_or_build"
                ):
                    continue
                for kw in call.keywords:
                    if kw.arg != "build":
                        continue
                    body = nested.get(kw.value.id) if isinstance(kw.value, ast.Name) else kw.value
                    if body is None:
                        continue
                    builds += 1
                    if checkpoints(body):
                        found.append(f"{where}:{call.lineno}")
    assert fits == _FITS
    assert builds >= 20
    assert found == []


def _store_dirs(df) -> set[str]:
    from urllib.parse import urlparse

    return {os.path.dirname(urlparse(f).path) for f in df.inputFiles()}


def test_store_and_read_back_dir_roundtrip_and_overwrite(spark, tmp_path):
    """The store helper keys its dir on ``abspath(sf_dir)`` (``d`` and
    ``d/`` are one store), reads back exactly the rows it wrote, and a
    second call replaces the first call's rows."""
    d = str(tmp_path / "sf")
    path = custom.proc_dir("t_store_helper", os.path.abspath(d), 7)
    try:
        first = spark.createDataFrame(
            [(1, 0.1), (2, 2.5e-08), (3, -1.0e300)], "id BIGINT, x DOUBLE"
        )
        back = custom.store_and_read_back(first, "t_store_helper", d, 7)
        assert _store_dirs(back) == {path}
        assert sorted(back.collect()) == sorted(first.collect())

        second = spark.createDataFrame([(9, 4.75)], "id BIGINT, x DOUBLE")
        back2 = custom.store_and_read_back(second, "t_store_helper", d + "/", 7)
        assert _store_dirs(back2) == {path}
        assert back2.collect() == second.collect()
        files = {f for f in os.listdir(path) if f.endswith(".parquet")}
        assert files == set(custom._read_manifest(path)["files"])
    finally:
        shutil.rmtree(path, ignore_errors=True)
