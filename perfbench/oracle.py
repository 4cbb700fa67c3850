"""Answers computed apart from the program: DuckDB over the generated
parquet tables, and the comparison of a SPARQL result with them.

Every value is compared as a number when both sides read as one (the
triple store keeps a table's numbers as strings, DuckDB as numbers), and
as a string otherwise.
"""

from __future__ import annotations

import math

import duckdb


class Oracle:
    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def _value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    s = str(v)
    try:
        return float(s)
    except ValueError:
        return s


def _key(row: tuple) -> tuple:
    # numbers sort by a rounded value so that last-digit differences in
    # floating-point sums do not reorder rows before the tolerant compare
    return tuple(
        (0, "") if v is None
        else (1, round(v, 2)) if isinstance(v, float)
        else (2, str(v))
        for v in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def same_rows(got: list[tuple], want: list[tuple], ordered: bool = False) -> bool:
    """True when ``got`` equals ``want`` as a multiset of rows (as a list
    when ``ordered``), numbers compared after casting."""
    g = [tuple(_value(v) for v in r) for r in got]
    w = [tuple(_value(v) for v in r) for r in want]
    if len(g) != len(w):
        return False
    if not ordered:
        g.sort(key=_key)
        w.sort(key=_key)
    return all(
        len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
        for a, b in zip(g, w)
    )
