"""Output checks, run once per run outside the measured window.

- A collected query result is compared with its registered DuckDB oracle
  (``QuerySpec.oracle``) in the package's order-insensitive shape: columns
  sorted by name, rows sorted, values hashed exactly (floats included; the
  queries are written to be bit-exact).
- A compiled SQL text's output column names are compared with the oracle's,
  which DuckDB binds without executing.
- Each lakehouse table's final snapshot is compared with DuckDB replaying
  the same statements on the same source rows.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pandas as pd

from witdb_spark.catalog import TABLE_NAMES


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\0null"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    return str(v)


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def _frame_rows(pdf: pd.DataFrame) -> list[tuple]:
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return [tuple(r) for r in pdf.itertuples(index=False, name=None)]


def compare(columns: list[str], rows, want: pd.DataFrame) -> str | None:
    """None when Spark's ``rows`` hash-match the DuckDB frame, else a reason."""
    if sorted(want.columns) != sorted(columns):
        return f"columns {sorted(columns)} != expected {sorted(want.columns)}"
    got_rows = [tuple(r) for r in rows]
    if len(got_rows) != len(want):
        return f"{len(got_rows)} rows != expected {len(want)}"
    if result_hash(columns, got_rows) != result_hash(
        list(want.columns), _frame_rows(want)
    ):
        return "row values differ from the expected ones"
    return None


def check_result(con, oracle_sql: str, columns: list[str], rows) -> str | None:
    """None when the Spark rows hash-match the oracle, else a reason."""
    return compare(columns, rows, con.execute(oracle_sql).fetchdf())


def check_columns(con, oracle_sql: str, columns: list[str]) -> str | None:
    """None when the plan's output column names match the oracle's."""
    want = [r[0] for r in con.execute(f"DESCRIBE {oracle_sql}").fetchall()]
    if sorted(want) != sorted(columns):
        return f"columns {sorted(columns)} != oracle {sorted(want)}"
    return None


class LakeReplay:
    """DuckDB twin of the lakehouse tables: created from the same source
    rows, then fed every write statement the run sends to Spark."""

    def __init__(self, source_parquet: str, tables: list[str]):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW lake_src AS SELECT * FROM '{source_parquet}'"
        )
        for t in tables:
            self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM lake_src")

    def apply(self, table: str, statements: tuple[str, ...]) -> int:
        """Run one write; returns the rows it changed."""
        changed = 0
        for stmt in statements:
            res = self.con.execute(stmt.format(table=table)).fetchall()
            changed += int(res[0][0]) if res else 0
        return changed

    def compare(self, table: str, columns: list[str], rows) -> str | None:
        """None when a Spark snapshot matches the replayed table."""
        want = self.con.execute(f"SELECT * FROM {table}").fetchdf()
        return compare(columns, rows, want)
