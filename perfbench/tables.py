"""Seeded generator for the engine's ten batch tables.

The batch workload reads tables the benchmark writes itself, so its
input follows from `--seed` and lives inside the run's scratch
directory. The columns, value domains and shapes follow the engine's
synthetic test tables at sf0.01 (`ROWS`): uniform keys with
referential integrity between the TPC-H-like tables, events about
4 minutes apart over 30 days, documents drawn from a 30-word vocabulary
of which about 5% repeat an earlier document with a " dup" suffix (the
near-duplicates the dedup queries find), and unit-norm 64-dimensional
embeddings.

`oracle_hashes` computes each headline query's expected result over
those tables with its registered DuckDB oracle; the generator process
runs it while the engine warms up.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5, "nation": 25, "supplier": 100, "customer": 1_500,
    "part": 2_000, "orders": 15_000, "lineitem": 60_000,
    "events": 10_000, "documents": 500, "embeddings": 500,
}
WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "red", "green", "small", "large", "shiny", "old", "new"]
PART_NOUN = ["anvil", "ring", "widget", "gear", "bolt", "spring", "valve", "lever"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DUP_SHARE = 0.05
EMBED_DIM = 64


def _days(rng, n: int, start: str, n_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n) * np.timedelta64(86_400_000_000, "us")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < DUP_SHARE:
            texts.append(texts[rng.integers(len(texts))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def tables(seed: int) -> dict[str, pa.Table]:
    """The ten tables for `seed`; the same seed gives the same tables."""
    rng = np.random.default_rng(seed)
    n = ROWS
    step_us = 30 * 86_400_000_000 // n["events"]
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (np.arange(n["events"]) * step_us
             + rng.integers(0, step_us, n["events"])).astype("timedelta64[us]"))
    vec = rng.standard_normal((n["embeddings"], EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    lines_per_order = rng.integers(1, 8, n["orders"])
    n_li = n["lineitem"]
    orderkey = np.repeat(np.arange(n["orders"]), lines_per_order)
    orderkey = np.sort(rng.choice(orderkey, n_li, replace=n_li > len(orderkey)))
    linenumber = np.ones(n_li, dtype=np.int32)
    for i in range(1, n_li):  # 1, 2, ... within an order, at most 7
        if orderkey[i] == orderkey[i - 1]:
            linenumber[i] = min(linenumber[i - 1] + 1, 7)
    quantity = rng.integers(1, 51, n_li).astype(np.float64)
    return {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])],
        }),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                       rng.integers(0, 8, (n["part"], 2))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n["part"])],
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n["orders"])],
            "o_totalprice": _money(rng, n["orders"], 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n["orders"], "1995-01-01", 2_400),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n["orders"])],
        }),
        "lineitem": pa.table({
            "l_orderkey": orderkey.astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], n_li),
            "l_suppkey": rng.integers(0, n["supplier"], n_li),
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, "1995-01-02", 2_500),
        }),
        "events": pa.table({
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 150, n["events"]),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n["events"])],
            "value": np.maximum(np.round(rng.exponential(50.0, n["events"]), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        }),
        "documents": _documents(rng, n["documents"]),
        "embeddings": pa.table({
            "vec_id": np.arange(n["embeddings"], dtype=np.int64),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32),
        }),
    }


def write_tables(seed: int, out_dir: str) -> int:
    """Write `<table>.parquet` files into out_dir; returns total rows."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows += t.num_rows
    return rows


def oracle_hashes(sf_dir: str, names: list[str] | None = None) -> dict[str, str]:
    """{query: result hash} from each query's DuckDB oracle over the
    tables in sf_dir, hashed as tools/check_oracle.py does; by default
    for the headline queries of bench.py.
    `q_flagship` has no registered oracle; flagship_oracle.sql is its
    statement."""
    import duckdb

    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    sys.path.insert(0, os.path.join(root, "tools"))
    import bench
    from check_oracle import table_hash

    from confluent_example_firehose_spark import registry
    from confluent_example_firehose_spark.schema import TABLE_NAMES

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    specs = registry.all_queries()
    with open(os.path.join(here, "flagship_oracle.sql")) as f:
        sql = {"q_flagship": f.read()}
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # one generator thread
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in names or bench.HEADLINE:
        res = con.execute(sql.get(name) or specs[name].oracle_sql())
        out[name] = table_hash(res.fetchall(), [d[0] for d in res.description])
    con.close()
    return out
