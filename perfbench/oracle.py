"""DuckDB oracle check, run outside every timed call.

Rows are canonicalised exactly as ``tests/conftest.py``'s
``compare_to_oracle`` does (columns sorted by name, values through its
``_canon``, rows compared as a sorted multiset, and the returned order
checked when the query declares ``order_by``). Unlike the test helper it
returns a reason string instead of raising, so a mismatch is counted and
named in the record and the run goes on.
"""

from __future__ import annotations

import glob
import os

import duckdb

from tests.conftest import _canon


def connect(fixture_dir: str, table_names) -> duckdb.DuckDBPyConnection:
    """Bare-named views over ``fixture_dir``. A table stored as a directory
    of part files (the 10× replicas) is read through a glob; plain
    ``read_parquet('dir/name.parquet')`` cannot open a directory."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in table_names:
        path = os.path.join(fixture_dir, f"{name}.parquet")
        if os.path.isdir(path):
            if not glob.glob(os.path.join(path, "*.parquet")):
                raise FileNotFoundError(f"no part files under {path}")
            path = os.path.join(path, "*.parquet")
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """(sorted column names, canonical row tuples in returned order)."""
    cols = sorted(columns)
    idx = [columns.index(c) for c in cols]
    return cols, [tuple(_canon(r[i]) for i in idx) for r in rows]


class Expected:
    """The oracle's answer for one query, computed once per run."""

    def __init__(self, con, sql: str, order_by: str | None):
        rel = con.sql(sql)
        cols = list(rel.columns)
        self.columns, rows = canonical(cols, rel.fetchall())
        self.multiset = sorted(rows)
        self.sequence = None
        if order_by:
            ordered = con.sql(f"SELECT * FROM ({sql}) __ord ORDER BY {order_by}")
            _, self.sequence = canonical(list(ordered.columns), ordered.fetchall())

    def mismatch(self, columns: list[str], rows) -> str | None:
        """None when ``rows`` match, else a one-line reason."""
        cols, seq = canonical(columns, rows)
        if cols != self.columns:
            return f"columns {cols} != oracle {self.columns}"
        got = sorted(seq)
        if len(got) != len(self.multiset):
            return f"{len(got)} rows != oracle {len(self.multiset)}"
        for a, b in zip(got, self.multiset):
            if a != b:
                return f"first value mismatch {a} != {b}"
        if self.sequence is not None and seq != self.sequence:
            return "returned order differs from the oracle's ORDER BY"
        return None
