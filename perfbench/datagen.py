"""Seeded generator for the benchmark's input tables.

Produces the engine's ten-table corpus (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) with the same column names,
Arrow types and value domains as the project's test fixtures, as one
single-row-group parquet file per table. Everything derives from a numpy
``Generator`` seeded by the caller, so one seed always yields the same
bytes.

Row counts follow the fixtures' scale-factor rule: at ``sf`` there are
150k*sf customers, 10k*sf suppliers, 200k*sf parts, 1.5M*sf orders,
6M*sf lineitems, 1M*sf events, max(500, 50k*sf) documents and
max(500, 20k*sf) embeddings (sf=0.1 gives the 891,030 migration rows).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# the migration workloads move every table with a MySQL column analog
MIGRATION_TABLES = TABLES[:-1]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    day = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(day.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng, n):
    """Word-salad documents; about a tenth are near-duplicates of an
    earlier original document with one or two words replaced, so the
    dedup queries have real candidate pairs to find, in shallow
    clusters as real near-duplicate corpora have."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            src = originals[int(rng.integers(0, len(originals)))]
            words = texts[src].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[
                    int(rng.integers(0, len(_WORDS)))
                ]
        else:
            k = int(rng.integers(10, 100))
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), k)]
            originals.append(i)
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    """64-d unit vectors clustered around one centroid per label."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, determined by ``seed``."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    keys = {t: np.arange(n[t]) for t in n}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(keys["customer"], pa.int64()),
        "c_name": pa.array(
            [f"Customer#{i:09d}" for i in keys["customer"]], pa.string()
        ),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
        "c_mktsegment": pa.array(
            rng.choice(_SEGMENTS, n["customer"]), pa.string()
        ),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(keys["supplier"], pa.int64()),
        "s_name": pa.array(
            [f"Supplier#{i:09d}" for i in keys["supplier"]], pa.string()
        ),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(keys["part"], pa.int64()),
        "p_name": pa.array(rng.choice(names, n["part"]), pa.string()),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])], pa.string()
        ),
        "p_type": pa.array(rng.choice(_PTYPES, n["part"]), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (keys["part"] % 1000) * 0.1, 2)
        ),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(keys["orders"], pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": pa.array(rng.choice(_PRIOS, no), pa.string()),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(t0, t0 + span_us, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(
            rng.integers(0, max(150, ne // 667), ne), pa.int64()
        ),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, ne), pa.string()),
        "value": pa.array(_money(rng, 0.01, 500.0, ne)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()
        ),
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def pass_seed(seed: int, n: int) -> int:
    """The row-order seed of pass ``n`` of a run seeded ``seed``."""
    return int(np.random.SeedSequence([seed, n]).generate_state(1)[0])


def write_dir(tables: dict[str, pa.Table], out_dir: str,
              names=None, shuffle_seed: int | None = None) -> None:
    """Write ``tables`` (or just ``names``) as ``<out_dir>/<name>.parquet``.
    ``shuffle_seed`` permutes each table's row order: a fresh physical
    input with identical content."""
    os.makedirs(out_dir, exist_ok=True)
    rng = None if shuffle_seed is None else np.random.default_rng(shuffle_seed)
    for name in names or tables:
        t = tables[name]
        if rng is not None:
            t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
