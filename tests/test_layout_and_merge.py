"""Z-order layout + MERGE upsert tests: curve math, file clustering,
merge semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_saas_etl_spark.operators import layout
from aws_saas_etl_spark.operators.jobs import merge_upsert


def _z_ref(x: int, y: int, bits: int = layout.Z_BITS) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_z_value_matches_reference_interleave(spark):
    pts = [(0, 0), (1, 0), (0, 1), (3, 3), (1023, 0), (0, 1023), (513, 770)]
    df = spark.createDataFrame(pts, "x INT, y INT")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", layout.z_value(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == _z_ref(x, y), (x, y)
    # unit cases pin the bit convention: x → even bits, y → odd bits
    assert got[(1, 0)] == 1 and got[(0, 1)] == 2 and got[(3, 3)] == 15


def test_write_zordered_clusters_both_dimensions(spark, tmp_path):
    # 4096 rows on a 64x64 grid, deliberately written from a random row
    # order; after z-order layout a narrow filter on EITHER dimension
    # touches only a subset of the 16 files.
    n = 64
    rows = [(x, y, x * n + y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x INT, y INT, v INT").repartition(16)
    path = str(tmp_path / "zordered")
    layout.write_zordered(
        df, layout.z_value(F.col("x"), F.col("y"), bits=6), path, n_files=16
    )
    back = spark.read.parquet(path)
    total_files = back.select(F.input_file_name()).distinct().count()
    assert total_files == 16

    def files_touched(pred):
        return (
            back.where(pred).select(F.input_file_name()).distinct().count()
        )

    # a 1/8 band in x or in y should live in well under half the files
    assert files_touched(F.col("x") < 8) <= total_files // 2
    assert files_touched(F.col("y") < 8) <= total_files // 2


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k INT, s STRING, v DOUBLE"
    )
    source = spark.createDataFrame(
        [(2, "B", 22.0), (9, "new", 90.0)], "k INT, s STRING, v DOUBLE"
    )
    got = {r.k: r for r in merge_upsert(target, source, "k").collect()}
    assert len(got) == 4
    assert got[1].merge_action == "kept" and got[1].s == "a"
    assert got[2].merge_action == "updated" and got[2].s == "B" and got[2].v == 22.0
    assert got[3].merge_action == "kept"
    assert got[9].merge_action == "inserted" and got[9].v == 90.0


def test_merge_upsert_rejects_schema_mismatch(spark):
    t = spark.createDataFrame([(1, "a")], "k INT, s STRING")
    s = spark.createDataFrame([(1,)], "k INT")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(t, s, "k")


def test_merge_upsert_plan_is_single_shuffle_join(spark):
    # MERGE must stay one shuffle join — no window, no extra exchange.
    t = spark.range(1000).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    s = spark.range(100).select(F.col("id").alias("k"), F.lit(2.0).alias("v"))
    plan = (
        merge_upsert(t, s, "k")._jdf.queryExecution().executedPlan().toString()
    )
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    assert "Window" not in plan


def _partition_digests(root):
    """rel-path → md5 for every data file under a partitioned table,
    keyed so the (split, shard) partition of each file is recoverable."""
    import hashlib
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def _pkey(rel_path):
    """('train', 3) from 'split=train/shard=3/part-....parquet'."""
    parts = dict(
        seg.split("=", 1) for seg in rel_path.split("/")[:-1] if "=" in seg
    )
    return parts["split"], int(parts["shard"])


def test_partitioned_manifest_rewrites_only_touched_shards(spark, tmp_path):
    """VERDICT r7 #3, the file-level claim: after the initial partitioned
    store, the incremental maintenance write (dynamic partition
    overwrite of ONLY the touched partitions' row sets) must leave every
    untouched (split, shard) partition's files byte-identical — same
    names, same md5 — while touched partitions get new files; and the
    read-back of the whole store must equal the row-level merge."""
    from tests.conftest import SF_SMOKE
    from aws_saas_etl_spark.operators.curation import (
        MANIFEST_COLS,
        _incremental_merge_parts,
        _overwrite_touched_partitions,
        training_manifest_incremental,
    )

    stored, re_ranked, _kept, touched = _incremental_merge_parts(spark, SF_SMOKE)
    touched_keys = {(r.split, r.shard) for r in touched.collect()}
    assert touched_keys, "fixture produced no touched partitions"

    path = str(tmp_path / "manifest_store")
    stored.select(*MANIFEST_COLS).write.partitionBy("split", "shard").mode(
        "overwrite"
    ).parquet(path)
    before = _partition_digests(path)

    _overwrite_touched_partitions(re_ranked, touched, path)
    after = _partition_digests(path)

    untouched_before = {p: d for p, d in before.items() if _pkey(p) not in touched_keys}
    untouched_after = {p: d for p, d in after.items() if _pkey(p) not in touched_keys}
    assert untouched_before, "every partition was touched — claim untestable"
    assert untouched_before == untouched_after  # names AND bytes identical

    touched_before = {p for p in before if _pkey(p) in touched_keys}
    touched_after = {p for p in after if _pkey(p) in touched_keys}
    assert touched_after and touched_after.isdisjoint(touched_before)

    back = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("doc_id", "split", "shard", "pos", "n_tokens")
        .collect()
    )
    expect = sorted(
        tuple(r) for r in training_manifest_incremental(spark, SF_SMOKE).collect()
    )
    assert back == expect


def test_manifest_store_compaction_one_file_per_partition(spark):
    """VERDICT r8 #7 file-count halves: the churned store is fragmented
    (some partition holds >1 parquet file), the compacted store holds
    exactly ONE parquet file per partition directory, and both read back
    to identical row sets (content untouched, layout rewritten)."""
    import os

    from tests.conftest import SF_SMOKE
    from aws_saas_etl_spark.operators.curation import manifest_store_compaction
    from aws_saas_etl_spark.sources.custom import proc_dir

    back = sorted(tuple(r) for r in manifest_store_compaction(spark, SF_SMOKE).collect())

    def per_partition_counts(path):
        counts = {}
        for root, _dirs, files in os.walk(path):
            n = sum(1 for f in files if f.endswith(".parquet"))
            if n:
                counts[os.path.relpath(root, path)] = n
        return counts

    src = per_partition_counts(proc_dir("manifest_churned", os.path.abspath(SF_SMOKE)))
    dst = per_partition_counts(proc_dir("manifest_compacted", os.path.abspath(SF_SMOKE)))
    assert src and dst
    assert sorted(src) == sorted(dst)  # same partition directories
    assert any(n > 1 for n in src.values()), "source store not fragmented"
    assert all(n == 1 for n in dst.values()), dst
    src_rows = sorted(
        tuple(r)
        for r in spark.read.parquet(
            proc_dir("manifest_churned", os.path.abspath(SF_SMOKE))
        )
        .select("doc_id", "split", "shard", "pos", "n_tokens")
        .collect()
    )
    dst_rows = sorted(
        tuple(r)
        for r in spark.read.parquet(
            proc_dir("manifest_compacted", os.path.abspath(SF_SMOKE))
        )
        .select("doc_id", "split", "shard", "pos", "n_tokens")
        .collect()
    )
    assert src_rows == dst_rows
    assert len(back) == len(dst_rows)


def test_overwrite_drops_touched_partition_that_became_empty(spark, tmp_path):
    """ADVICE r8 medium: dynamic partition overwrite only replaces
    partitions PRESENT in the written frame — a touched partition whose
    merged row set is EMPTY (its only row lost keeper re-election) would
    keep stale files and resurrect dead rows on read-back. The helper
    must drop such partitions explicitly."""
    import os

    from aws_saas_etl_spark.operators.curation import (
        MANIFEST_COLS,
        _overwrite_touched_partitions,
    )

    schema = "doc_id BIGINT, n_tokens BIGINT, split STRING, shard INT, pos INT"
    base = spark.createDataFrame(
        [
            (1, 10, "train", 0, 1),
            (2, 20, "train", 0, 2),
            (3, 30, "train", 1, 1),  # one-row shard: will become empty
            (4, 40, "val", 0, 1),  # untouched
        ],
        schema,
    )
    path = str(tmp_path / "store")
    base.select(*MANIFEST_COLS).write.partitionBy("split", "shard").mode(
        "overwrite"
    ).parquet(path)

    # maintenance touches (train,0) and (train,1); (train,1)'s row set is
    # empty after the merge — doc 3's keeper moved into (train, 0).
    re_ranked = spark.createDataFrame(
        [(1, 10, "train", 0, 1), (3, 30, "train", 0, 2)], schema
    )
    touched = spark.createDataFrame([("train", 0), ("train", 1)], "split STRING, shard INT")
    _overwrite_touched_partitions(re_ranked, touched, path)

    assert not os.path.isdir(os.path.join(path, "split=train", "shard=1"))
    back = sorted(
        (r.doc_id, r.split, r.shard, r.pos)
        for r in spark.read.parquet(path).collect()
    )
    assert back == [(1, "train", 0, 1), (3, "train", 0, 2), (4, "val", 0, 1)]


def test_each_manifest_memo_key_is_built_at_one_site():
    """Each ``_MANIFEST_CACHE`` slot has one builder: every key passed to
    ``_MANIFEST_CACHE.get_or_build`` in ``curation.py`` appears at
    exactly one call site, so two closures can never build one slot two
    ways (whichever query ran first would decide its content)."""
    import ast
    from collections import Counter

    from aws_saas_etl_spark.operators import curation

    tree = ast.parse(open(curation.__file__).read())
    sites = Counter()
    for call in ast.walk(tree):
        if (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and call.func.attr == "get_or_build"
            and isinstance(call.func.value, ast.Name)
            and call.func.value.id == "_MANIFEST_CACHE"
        ):
            key = tuple(
                a.value
                for a in call.args
                if isinstance(a, ast.Constant) and isinstance(a.value, str)
            )
            assert key, f"line {call.lineno}: key is not a string literal"
            sites[key] += 1
    assert len(sites) >= 10
    assert {k: n for k, n in sites.items() if n > 1} == {}
