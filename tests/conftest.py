"""Shared fixtures: one tuned SparkSession per test session, a DuckDB
connection with the test tables registered, and the driver-compare helper.
A throwaway PostgreSQL 15 server backs the ``pg`` fixture.
"""

from __future__ import annotations

import os
import pwd
import shutil
import subprocess
import sys
import tempfile

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


PG_BIN = "/usr/lib/postgresql/15/bin"


class PgFixtureError(RuntimeError):
    """The PostgreSQL 15 test server could not be provided."""


class PgError(RuntimeError):
    """A statement failed on the PostgreSQL fixture (psql's message)."""


class PsqlConnection:
    """DB-API-shaped handle on the fixture server, no client library:
    every ``execute`` (one statement, or a ``;``-separated batch) is one
    ``psql -At`` run on the unix socket; statements autocommit."""

    FS, RS, NULL = "\x1f", "\x1e", "\x1a"

    def __init__(self, sockdir: str):
        self.sockdir = sockdir
        self._rows: list[tuple] = []

    def run(self, sql: str, stop_on_error: bool = True):
        """Run ``sql`` through one psql process; returns the completed
        process (stdout, stderr with each failing statement echoed)."""
        return subprocess.run(
            ["psql", "-h", self.sockdir, "-U", "postgres", "-d", "postgres",
             "-X", "-q", "-A", "-t", "-b", "-F", self.FS, "-R", self.RS,
             "-P", f"null={self.NULL}",
             "-v", f"ON_ERROR_STOP={int(stop_on_error)}"],
            input=sql, capture_output=True, text=True, timeout=120,
        )

    def parse(self, out: str) -> list[tuple]:
        """psql -At output → rows; the result ends in one newline, and
        a statement with no result rows prints nothing at all."""
        if not out:
            return []
        return [
            tuple(None if v == self.NULL else v for v in rec.split(self.FS))
            for rec in out[:-1].split(self.RS)
        ]

    def execute(self, sql: str) -> None:
        proc = self.run(sql.rstrip().rstrip(";") + ";")
        if proc.returncode:
            raise PgError(proc.stderr.strip())
        self._rows = self.parse(proc.stdout)

    def fetchall(self) -> list[tuple]:
        return self._rows


@pytest.fixture(scope="session")
def pg():
    """A PostgreSQL 15 server for the session: ``initdb -A trust`` into
    a temp dir, started with ``pg_ctl`` on a unix socket inside that
    dir (``listen_addresses=''``, no TCP), UTC and the C locale; run as
    the ``postgres`` OS user when the tests run as root. Stopped at
    teardown. Missing binaries fail the requesting test by name — the
    PostgreSQL checks are never skipped silently."""
    for tool in ("initdb", "pg_ctl"):
        if not os.path.isfile(os.path.join(PG_BIN, tool)):
            raise PgFixtureError(
                f"PostgreSQL 15 {tool} not found under {PG_BIN}"
            )
    if shutil.which("psql") is None:
        raise PgFixtureError("psql not found on PATH")
    root = tempfile.mkdtemp(prefix="pgfixture-")
    as_pg: list[str] = []
    if os.geteuid() == 0:  # initdb refuses to run as root
        user = pwd.getpwnam("postgres")
        os.chown(root, user.pw_uid, user.pw_gid)
        as_pg = ["runuser", "-u", "postgres", "--"]
    data = os.path.join(root, "data")
    ctl = as_pg + [os.path.join(PG_BIN, "pg_ctl"), "-D", data, "-w"]
    try:
        subprocess.run(
            as_pg + [os.path.join(PG_BIN, "initdb"), "-A", "trust",
                     "-U", "postgres", "-E", "UTF8", "--no-locale",
                     "-D", data],
            check=True, capture_output=True, cwd=root,
        )
        subprocess.run(
            ctl + ["-l", os.path.join(root, "server.log"), "-o",
                   f"-c listen_addresses='' -k {root} -c TimeZone=UTC"
                   " -c fsync=off", "start"],
            check=True, capture_output=True, cwd=root,
        )
    except subprocess.CalledProcessError as e:
        shutil.rmtree(root, ignore_errors=True)
        raise PgFixtureError(
            f"PostgreSQL fixture failed to start: {e.stderr!r}"
        ) from e
    try:
        yield PsqlConnection(root)
    finally:
        subprocess.run(ctl + ["-m", "fast", "stop"], capture_output=True,
                       cwd=root)
        shutil.rmtree(root, ignore_errors=True)
