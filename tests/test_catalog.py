"""catalog: footers read once per session per file identity, lazy
``load_tables``, and cached-schema reads equal to inferring reads."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aws_saas_etl_spark import catalog
from aws_saas_etl_spark.catalog import TABLES, load_table, load_tables, table_path
from aws_saas_etl_spark.session import clear_session_memos
from tests.conftest import SF_SMOKE

_groups = itertools.count()


def _jobs_launched(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, read from its job group."""
    sc = spark.sparkContext
    group = f"test_catalog:{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def test_footer_is_read_once_per_session(spark):
    clear_session_memos()
    for name in TABLES:
        cold = _jobs_launched(spark, lambda: load_table(spark, SF_SMOKE, name))
        warm = _jobs_launched(spark, lambda: load_table(spark, SF_SMOKE, name))
        assert cold >= 1, name
        assert warm == 0, name


def test_load_tables_loads_only_the_tables_touched(spark, monkeypatch):
    loaded = []
    real = catalog.load_table

    def counting(spark, sf_dir, name):
        loaded.append(name)
        return real(spark, sf_dir, name)

    monkeypatch.setattr(catalog, "load_table", counting)
    t = load_tables(spark, SF_SMOKE)
    assert loaded == []
    t.lineitem
    t.lineitem
    assert loaded == ["lineitem"]
    with pytest.raises(AttributeError):
        t.nope


def test_cold_and_warm_reads_are_equal(spark):
    clear_session_memos()
    for name in TABLES:
        cold = load_table(spark, SF_SMOKE, name)
        warm = load_table(spark, SF_SMOKE, name)
        assert cold.dtypes == warm.dtypes, name
        assert _rows(cold) == _rows(warm), name
        if name == "events":
            assert dict(warm.dtypes)["ts"] == "timestamp_ntz"
        else:
            inferred = spark.read.parquet(table_path(SF_SMOKE, name))
            assert warm.dtypes == inferred.dtypes, name
            assert _rows(warm) == _rows(inferred), name


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = table_path(str(tmp_path), "region")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["a"]

    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]
