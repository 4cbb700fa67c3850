"""Seeded generator of TPC-H-shaped tables, written as parquet.

The tables have the columns of the TPC-H-ish test data the package's
relational bridge triple-izes (region, nation, customer, supplier,
orders).  Row counts follow TPC-H: ``scale`` 0.1 gives 15,000 customers,
1,000 suppliers and 150,000 orders.  The
same seed and scale give byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
N_NATIONS = 25

#: first and last order date, as days since 1970-01-01 (1992-01-01, 1998-08-02)
DATE_LO, DATE_HI = 8035, 10440


def row_counts(scale: float) -> dict[str, int]:
    return {
        "region": len(REGIONS),
        "nation": N_NATIONS,
        "customer": int(150_000 * scale),
        "supplier": max(1, int(10_000 * scale)),
        "orders": int(1_500_000 * scale),
    }


#: columns of each table, so triples of the triple-ized table per row
COLUMNS = {"region": 2, "nation": 3, "customer": 5, "supplier": 4, "orders": 6}


def triple_count(counts: dict[str, int]) -> int:
    """Triples of the triple-ized tables: one per column of every row
    (the generator writes no NULL)."""
    return sum(n * COLUMNS[t] for t, n in counts.items())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _timestamps(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(DATE_LO, DATE_HI, n).astype("datetime64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(values), n).astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(scale)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
                "n_name": pa.array([f"NATION_{k}" for k in range(N_NATIONS)]),
                "n_regionkey": pa.array([k % len(REGIONS) for k in range(N_NATIONS)], pa.int32()),
            }
        ),
    }
    nc, ns, no = n["customer"], n["supplier"], n["orders"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, N_NATIONS, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": _pick(rng, STATUSES, no),
            "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, no)),
            "o_orderdate": _timestamps(rng, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    return tables


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
