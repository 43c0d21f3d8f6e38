"""Seeded TPC-H-shaped tables for the ``tpch_sql`` workload, and the
DuckDB oracle that checks each entry's output.

The tables have the names, columns, types and value domains of the
repository's test data (``weather_flink_spark.io.TABLES``), at scale
factor 0.1 (600k lineitem rows). The registry entries read them through
``io.load`` like any other ``sf_dir``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_DAY0 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return _DAY0 + rng.integers(lo, hi, n) * _DAY_US


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line = int(1_500_000 * SF), int(6_000_000 * SF)
    i32 = pa.int32()
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": np.char.add(
                    np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
                    np.array(_NOUN)[rng.integers(0, 8, n_part)],
                ),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": np.array(_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _days(rng, 0, 2405, n_ord),
                "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, 1, 2499, n_line),
        }
    )
    return out


def write(seed: int, sf_dir: str) -> dict[str, int]:
    """Write the seed's tables as ``{sf_dir}/{name}.parquet``; return row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def oracle_frames(sf_dir: str, specs: dict) -> dict:
    """DuckDB result of each spec's oracle SQL over the seed's tables."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TPCH_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )
        return {name: con.execute(spec.oracle).df() for name, spec in specs.items()}
    finally:
        con.close()
