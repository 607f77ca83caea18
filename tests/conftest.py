"""Shared fixtures: one tuned SparkSession per test session, a DuckDB
connection with the test tables registered, and the driver-compare helper.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql2pg_spark.session import get_spark  # noqa: E402
from mysql2pg_spark.tables import TABLE_NAMES  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="mysql2pg_spark-tests", master="local[4]")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_CORRECT}/{name}.parquet')"
        )
    yield con
    con.close()


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TRACKED_LOGS = ("conversion.log", "errors.log")


def _log_sizes() -> dict[str, int]:
    sizes = {}
    for name in _TRACKED_LOGS:
        path = os.path.join(_REPO, "logs", name)
        sizes[name] = os.path.getsize(path) if os.path.exists(path) else -1
    return sizes


@pytest.fixture(scope="session", autouse=True)
def repo_logs_untouched():
    """A run with no explicit logger writes under ./logs (the reference's
    default). Tests must run such code from a temp cwd or pass a
    logger, never append to the repository's tracked run logs."""
    before = _log_sizes()
    yield
    after = _log_sizes()
    assert after == before, (
        f"a test wrote to the repository's logs/ (sizes {before} -> "
        f"{after}); chdir to tmp_path or pass a RunLogger"
    )
