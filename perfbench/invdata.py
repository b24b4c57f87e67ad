"""Seeded inventory tables for the ``analytic`` workload.

Writes the ten tables the inventory queries read (``region`` ...
``embeddings``, one parquet file each) with the same schemas as the
engine's testdata, at roughly its sf0.01 row counts.  The same seed
writes the same rows.  Row counts of the DuckDB oracles in
``inventory.ORACLES`` over these files are the expected answers.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("widget", "bolt", "gear", "gizmo", "ring", "plate", "anvil")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "the a join hash row batch scan column customer filter small slow "
    "merge order vector line table data agg value key stream window "
    "spark part group big sort query fast"
).split()

#: rows per table (sf0.01 of the testdata generator)
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_DAY0 = dt.datetime(1995, 1, 1)


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(
        pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet")
    )


def _days(rng, n: int, span: int) -> np.ndarray:
    base = np.datetime64(_DAY0, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s, ts = (
        pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    )
    rows: dict[str, int] = {}

    _write(out_dir, "region", {
        "r_regionkey": list(range(len(REGIONS))), "r_name": list(REGIONS),
    }, pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation", {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % len(REGIONS) for i in range(25)],
    }, pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    n = SIZES["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))

    n = SIZES["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                  ("s_acctbal", f64)]))

    n = SIZES["part"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, len(PART_ADJ), n),
                            rng.integers(0, len(PART_NOUN), n))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2),
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                  ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))

    n = SIZES["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n),
        "o_custkey": rng.integers(0, SIZES["customer"], n),
        "o_orderstatus": rng.choice(("F", "O", "P"), n),
        # exponential, so some customers have no order above 60000
        # (anti_join_count0's positives)
        "o_totalprice": np.round(1000 + rng.exponential(40000, n), 2),
        "o_orderdate": _days(rng, n, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                  ("o_orderstatus", s), ("o_totalprice", f64),
                  ("o_orderdate", ts), ("o_orderpriority", s)]))

    # 1..7 lines per order, ~4 on average
    per = rng.integers(1, 8, SIZES["orders"])
    okey = np.repeat(np.arange(SIZES["orders"]), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, SIZES["part"], n),
        "l_suppkey": rng.integers(0, SIZES["supplier"], n),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n),
        "l_linestatus": rng.choice(("F", "O"), n),
        "l_shipdate": _days(rng, n, 2500),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64),
                  ("l_suppkey", i64), ("l_linenumber", i32),
                  ("l_quantity", f64), ("l_extendedprice", f64),
                  ("l_discount", f64), ("l_tax", f64),
                  ("l_returnflag", s), ("l_linestatus", s),
                  ("l_shipdate", ts)]))
    rows["lineitem"] = n

    n = SIZES["events"]
    month_us = 30 * 86400 * 10**6
    ev_ts = np.sort(rng.choice(month_us, n, replace=False))
    _write(out_dir, "events", {
        "event_id": np.arange(n),
        "ts": np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }, pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                  ("event_type", s), ("value", f64), ("props", s)]))

    # documents: random word runs; ~5% are near-duplicates of an
    # earlier document (the dedup queries' positives)
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(base + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }, pa.schema([("doc_id", i64), ("text", s), ("lang", s),
                  ("source", s), ("n_chars", i64)]))

    # embeddings: 64-d unit vectors around ten weak label centroids
    n = SIZES["embeddings"]
    label = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, 64))
    vec = rng.normal(size=(n, 64)) + 0.6 * centers[label] / 8
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n),
        "embedding": [list(map(float, v.astype(np.float32))) for v in vec],
        "label": label.astype(np.int32),
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                  ("label", i32)]))

    for t in TABLES:
        rows.setdefault(t, pq.ParquetFile(
            os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows)
    return rows


def oracle_counts(data_dir: str, oracles: dict[str, str]) -> dict[str, int]:
    """Row count of each oracle query, computed by DuckDB over the
    files in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        return {
            name: con.execute(
                f"SELECT count(*) FROM ({sql.strip().rstrip(';')}) q"
            ).fetchone()[0]
            for name, sql in oracles.items()
        }
    finally:
        con.close()
