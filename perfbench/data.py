"""Seeded input tables for the front-door benchmark.

Writes a TPC-H-like star schema (the shape of the engine's sf0.1 test
data: 600k lineitem rows, 150k orders, 15k customers, 20k parts) as one
parquet file per table, plus ``lineitem_big``: a CSV copy of part of
lineitem with a text column, replicated x2 with distinct order keys and
split into part files so every core gets a scan split. Everything is a
pure function of the seed.

The CSV must clear the server's 64 MiB merge and cache-admission floors
(``BatchExecutor.mrshare_min_bytes``, ``CacheManager.min_bytes``); a 1x
copy stays under them and silently turns both mechanisms off, so
:func:`prepare` asserts the size.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# every table the server's catalog registers must exist
from sparksql_server_spark.catalog import TABLES

ROWS = {"lineitem": 600_000, "orders": 150_000, "customer": 15_000, "part": 20_000,
        "supplier": 1_000}
BIG_BASE_ROWS = 150_000
BIG_REPLICAS = 2
BIG_PARTS = 8
COMMENT_WORDS = ("carefully", "final", "deposits", "sleep", "quickly", "regular", "accounts",
                 "boost", "furiously", "ironic", "packages", "haggle", "blithely", "express",
                 "requests", "wake", "slyly", "pending", "theodolites", "nag")
COMMENT_WORDS_PER_ROW = 22
COMMENT_POOL = 4096
MERGE_FLOOR_BYTES = 64 << 20

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
WORDS = ["blue", "hot", "large", "red", "small", "steel", "ring", "bolt", "nut", "pin"]
DAY0 = np.datetime64("1992-01-01", "D")
N_DAYS = 2500  # 1992-01-01 .. 1998-11-04

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
    ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()), ("l_shipdate", pa.date32()),
])


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Money values with exactly two decimals (exact DECIMAL sums in
    both engines)."""
    return rng.integers(lo, hi, n) / 100.0


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    return DAY0 + rng.integers(0, N_DAYS, n).astype("timedelta64[D]")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def lineitem(rng: np.random.Generator) -> pa.Table:
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": rng.integers(0, ROWS["orders"], n),
        "l_partkey": rng.integers(0, ROWS["part"], n),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90_000, 200_000, n) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_dates(rng, n)),
    }, schema=LINEITEM_SCHEMA)


def small_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    nc, np_, no, ns = ROWS["customer"], ROWS["part"], ROWS["orders"], ROWS["supplier"]
    ne, nd = 1_000, 200
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _cents(rng, -99_999, 999_999, ns),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _cents(rng, -99_999, 999_999, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }),
        "part": pa.table({
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(
                    np.array(WORDS)[rng.integers(0, 6, np_)],
                    np.array(WORDS)[rng.integers(6, 10, np_)])]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(10, 60, np_)]),
            "p_type": _pick(rng, TYPES, np_),
            "p_size": rng.integers(1, 51, np_).astype(np.int32),
            "p_retailprice": _cents(rng, 90_000, 200_000, np_),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _cents(rng, 100_000, 50_000_000, no),
            "o_orderdate": pa.array(_dates(rng, no)),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }),
        # registered by the server's catalog but never queried here
        "events": pa.table({
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                           + rng.integers(0, 86_400_000_000, ne).astype("timedelta64[us]")),
            "user_id": rng.integers(0, 100, ne),
            "event_type": _pick(rng, ["view", "click", "buy"], ne),
            "value": _cents(rng, 0, 10_000, ne),
            "props": pa.array(["{}"] * ne),
        }),
        "documents": pa.table({
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": [f"document {i} text" for i in range(nd)],
            "lang": ["en"] * nd,
            "source": ["web"] * nd,
            "n_chars": np.full(nd, 16, dtype=np.int64),
        }),
        "embeddings": pa.table({
            "vec_id": np.arange(nd, dtype=np.int64),
            "embedding": pa.array([[float(i), 1.0] for i in range(nd)],
                                  pa.list_(pa.float32())),
            "label": pa.array([i % 4 for i in range(nd)], pa.int32()),
        }),
    }


def big_csv_dir(data_dir: str) -> str:
    return os.path.join(data_dir, "lineitem_big")


def write_big_csv(li: pa.Table, rng: np.random.Generator, out_dir: str) -> int:
    """The x2 CSV copy of the first BIG_BASE_ROWS lineitem rows plus a
    free-text ``l_comment`` column; replica r's order keys map to
    key*2 + r so every row is distinct. Returns the bytes written.

    The text column carries the bytes: it puts the copy over the
    64 MiB floors with a quarter of lineitem's rows, so once the cache
    admits the copy a query costs a fraction of a second and a run of a
    few seconds holds enough requests to measure."""
    os.makedirs(out_dir, exist_ok=True)
    li = li.slice(0, BIG_BASE_ROWS)
    n = li.num_rows
    words = np.array(COMMENT_WORDS)[
        rng.integers(0, len(COMMENT_WORDS), (COMMENT_POOL, COMMENT_WORDS_PER_ROW))]
    pool = np.array([" ".join(w) for w in words], dtype=object)
    li = li.append_column("l_comment", pa.array(pool[rng.integers(0, COMMENT_POOL, n)]))
    keys = li.column("l_orderkey").to_numpy()
    step = -(-n * BIG_REPLICAS // BIG_PARTS)
    reps = [li.set_column(0, "l_orderkey", pa.array(keys * BIG_REPLICAS + r))
            for r in range(BIG_REPLICAS)]
    both = pa.concat_tables(reps)
    total = 0
    for p in range(BIG_PARTS):
        path = os.path.join(out_dir, f"part-{p:05d}.csv")
        pacsv.write_csv(both.slice(p * step, step), path)
        total += os.path.getsize(path)
    return total


def prepare(data_dir: str, seed: int) -> None:
    """Write every table under ``data_dir``."""
    rng = np.random.default_rng([seed, 0x5EED])
    os.makedirs(data_dir, exist_ok=True)
    li = lineitem(rng)
    tables = small_tables(rng)
    tables["lineitem"] = li
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(data_dir, f"{name}.parquet"))
    size = write_big_csv(li, rng, big_csv_dir(data_dir))
    if size < MERGE_FLOOR_BYTES:
        raise RuntimeError(
            f"lineitem_big is {size} bytes, under the {MERGE_FLOOR_BYTES}-byte"
            " merge/cache floor: hot_text_scan would measure neither mechanism")
