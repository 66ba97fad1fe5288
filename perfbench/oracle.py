"""DuckDB oracle and the grading driver's result canonicalization.

A result is reduced to (sorted column names, row count, digest), where
the digest hashes every row's cells stringified per dtype and sorted, so
row order does not matter but ``5`` and ``5.0`` differ. The cell rules
are those of ``_canon_cell`` in ``tests/conftest.py``; both sides pass
through pandas first, Spark rows via ``from_records`` (ints with nulls
become float64, as ``toPandas`` makes them) and DuckDB via ``.df()``.
The rules are copied rather than imported so that a change to the test
suite cannot change what the benchmark accepts between two commits.
"""

from __future__ import annotations

import hashlib
import math
import os
import re

import numpy as np
import pandas as pd


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (list, tuple, np.ndarray, dict)):
        # the grading driver's pandas sort crashes on these cells
        raise TypeError(f"array/map cell in result: {type(v).__name__}")
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical(df: pd.DataFrame) -> tuple[tuple[str, ...], int, str]:
    """(sorted columns, row count, order-insensitive dtype-sensitive digest)."""
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        "\x1f".join(_canon_cell(v) for v in row) for row in df.itertuples(index=False)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return tuple(cols), len(rows), h.hexdigest()


def canonical_rows(rows, columns) -> tuple[tuple[str, ...], int, str]:
    """Canonical form of rows a Spark ``collect()`` returned."""
    return canonical(pd.DataFrame.from_records(rows, columns=list(columns)))


class Oracle:
    """DuckDB connection with one view per input table."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.tables = sorted(
            f[: -len(".parquet")] for f in os.listdir(data_dir) if f.endswith(".parquet")
        )
        for t in self.tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def expected(self, sql: str) -> tuple[tuple[str, ...], int, str]:
        return canonical(self.con.execute(sql).df())

    def tables_read(self, sql: str) -> list[str]:
        """Input tables an oracle query names."""
        words = set(re.findall(r"[a-z_]+", sql.lower()))
        return [t for t in self.tables if t in words]

    def close(self) -> None:
        self.con.close()
