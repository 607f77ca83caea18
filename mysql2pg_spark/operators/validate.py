"""Validation operators (SURVEY D3, upgraded per §5.2 item 4).

The reference re-counts both sides after load and records
TableDataInconsistency rows (sync_data.go:313-356). Here:

- count_validation: src/dst row counts + verdict;
- table_checksum: an order-insensitive content fingerprint — row md5 over
  canonicalized values, aggregated as (count, SUM of the digest's top 60
  bits, min, max) — equal checksums ⇒ equal multisets with overwhelming
  probability. Every aggregate is map-side combinable, so the whole
  check is ONE scan with a 1-row shuffle: at 100 TB there is no
  count-distinct exchange to pay (an earlier n_distinct variant shuffled
  the full digest set). The sum accumulates in DECIMAL(38,0): 2^60 per
  row × 10^12 rows ≈ 10^30 stays exact, and renders as a plain integer
  string identically in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def row_digest(df: DataFrame, cols: list[str] | None = None) -> F.Column:
    """Canonical per-row md5: values cast to string, NULL → sentinel,
    joined with an unambiguous separator."""
    cols = cols or df.columns
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in cols
    ]
    return F.md5(F.concat_ws("\x01", *parts))


def _checksum_aggs(h: F.Column) -> list[F.Column]:
    # top 60 bits of the md5 as an exact decimal term (conv → unsigned
    # decimal string → decimal(38,0)); summed order-insensitively.
    term = F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(38,0)")
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(term).cast("string").alias("hash_sum"),
        F.min(h).alias("min_digest"),
        F.max(h).alias("max_digest"),
    ]


def table_checksum(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    d = df.select(row_digest(df, cols).alias("h"))
    return d.agg(*_checksum_aggs(F.col("h")))


def observe_checksum(df: DataFrame, name: str):
    """Attach the checksum aggregates as an ``Observation`` so they are
    computed DURING whatever action materializes ``df`` (e.g. the sink
    write) — the accumulator path that gives source-side D3 validation
    with ZERO extra source scans. At 100 TB a JDBC/parquet source is
    scanned exactly once: write and checksum share the pass.

    Returns ``(observed_df, observation, observed_cols)``; call
    ``observation.get`` only after an action has run on ``observed_df``.
    """
    from pyspark.sql import Observation

    cols = df.columns
    obs = Observation(name)
    observed = df.observe(obs, *_checksum_aggs(row_digest(df, cols)))
    return observed, obs, cols


def get_observation(obs, timeout: float = 10.0) -> dict | None:
    """Non-blocking fetch of an ``Observation``'s metrics.

    ``Observation.get`` waits FOREVER if no action ever ran on the
    observed DataFrame (e.g. a test fake sink that drops the frame), so
    fetch on a daemon thread with a timeout. After a real sink write the
    metrics are already materialized and this returns immediately.
    """
    import threading

    box: dict = {}

    def _fetch() -> None:
        try:
            box["row"] = dict(obs.get)
        except Exception:
            pass

    t = threading.Thread(target=_fetch, daemon=True)
    t.start()
    t.join(timeout)
    return box.get("row")


def count_validation(src: DataFrame, dst: DataFrame) -> dict:
    """D3 verdict row (driver-side scalars, as in the reference)."""
    a, b = src.count(), dst.count()
    return {"src_rows": a, "dst_rows": b, "consistent": a == b}


def verdict(src_row: dict, dst_row: dict) -> dict:
    """D3 verdict from the two sides' checksum rows."""
    return {"src": src_row, "dst": dst_row, "consistent": src_row == dst_row}


def checksum_validation(src: DataFrame, dst: DataFrame) -> dict:
    return verdict(
        table_checksum(src).collect()[0].asDict(),
        table_checksum(dst).collect()[0].asDict(),
    )
