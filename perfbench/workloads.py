"""Seeded operation streams for the benchmark's workloads.

A workload is a closed loop with one client: the stream is cut into passes,
and every pass holds each of the workload's operations once, in an order
drawn from the seed. The seed also draws the lakehouse DML keys. Pass 0 is
the warm-up; the measured window runs whole passes after it.

Nothing here touches Spark: the stream is a pure function of
``(workload, seed, pass index)``, so it can be checked without a session.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

SQL_PLAN = "sql_plan"
EXEC_MIX = "exec_mix"
WORKLOADS = (SQL_PLAN, EXEC_MIX)

#: exec_mix's registered queries, by the layer each one loads
ANALYTICS = (
    "tpch_q6",  # DataFrame build; lineitem scan + filter + aggregate
    "tpch_sql_q9",  # Trino text: transpile + analyze, six-way join exchange
)
PYOPS = (
    "similarity_topk",  # embedding scoring over array columns
    "agg_qdigest_sql_names",  # Arrow UDAF: the Python-worker boundary
)
#: the lakehouse part of exec_mix: half writes, half reads per pass
LAKE_WRITES = ("insert", "update", "delete", "merge")
LAKE_READS = ("point_read", "point_read", "scan_read", "scan_read")
LAKE_FORMATS = ("delta", "iceberg")
#: lake source rows are the sf0.01 orders keys 0..14999; the fixture
#: tables hold them as 15 files of SLOT consecutive keys
LAKE_SOURCE_KEYS = 15_000
SLOT = 1_000


@dataclass(frozen=True)
class Op:
    """One operation. ``kind`` is "plan" (compile a SQL text to a physical
    plan), "query" (collect a registered query), "write" or "read" (a
    lakehouse statement). Lake statements carry a ``{table}`` placeholder
    for the table reference; ``duck`` is the same statement for the DuckDB
    replay that checks the final snapshots."""

    kind: str
    name: str
    fmt: str = ""
    sql: str = ""
    duck: tuple[str, ...] = ()


_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,"
    " o_orderpriority"
)


def _lake_write(kind: str, fmt: str, lo: int, serial: int) -> Op:
    """A write on the key slot ``[lo, lo + SLOT)``, which is one data file
    of the fixture tables. A run uses each slot of a table once (up to 15
    writes per table), so
    every update, delete and merge rewrites exactly one untouched file and
    changes the same number of rows whatever the seed."""
    shift = 1_000_000 * (serial + 1)  # shifted keys stay unique per run
    if kind == "insert":
        body = (
            f"SELECT o_orderkey + {shift} AS o_orderkey, o_custkey,"
            " o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
            f" FROM lake_src WHERE o_orderkey BETWEEN {lo} AND {lo + 99}"
        )
        sql = f"INSERT INTO {{table}} {body}"
        duck = (sql,)
    elif kind == "update":
        sql = (
            "UPDATE {table} SET o_totalprice = o_totalprice + 1.5,"
            " o_orderpriority = '1-URGENT'"
            f" WHERE o_orderkey BETWEEN {lo} AND {lo + 199}"
        )
        duck = (sql,)
    elif kind == "delete":
        sql = f"DELETE FROM {{table}} WHERE o_orderkey BETWEEN {lo} AND {lo + 49}"
        duck = (sql,)
    else:  # merge: an upsert whose source half matches, half is new
        src = (
            f"(SELECT {_COLS} FROM lake_src"
            f" WHERE o_orderkey BETWEEN {lo} AND {lo + 49}"
            f" UNION ALL SELECT o_orderkey + {shift} AS o_orderkey, o_custkey,"
            " o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
            f" FROM lake_src WHERE o_orderkey BETWEEN {lo + 50} AND {lo + 99})"
        )
        sql = (
            f"MERGE INTO {{table}} t USING {src} s"
            " ON t.o_orderkey = s.o_orderkey"
            " WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice * 2"
            f" WHEN NOT MATCHED THEN INSERT ({_COLS}) VALUES (s.o_orderkey,"
            " s.o_custkey, s.o_orderstatus, s.o_totalprice, s.o_orderdate,"
            " s.o_orderpriority)"
        )
        # the DuckDB replay spells the upsert as UPDATE ... FROM plus an
        # anti-joined INSERT (keys are unique, so the order is free)
        duck = (
            "UPDATE {table} SET o_totalprice = s.o_totalprice * 2"
            f" FROM {src} s WHERE {{table}}.o_orderkey = s.o_orderkey",
            f"INSERT INTO {{table}} SELECT * FROM {src} s WHERE NOT EXISTS"
            " (SELECT 1 FROM {table} t WHERE t.o_orderkey = s.o_orderkey)",
        )
    return Op("write", kind, fmt, sql, duck)


def _lake_read(kind: str, fmt: str, rng: random.Random) -> Op:
    if kind == "point_read":
        key = rng.randrange(0, LAKE_SOURCE_KEYS)
        sql = f"SELECT {_COLS} FROM {{table}} WHERE o_orderkey = {key}"
    else:
        sql = (
            "SELECT o_orderstatus, count(*) AS n,"
            " max(o_totalprice) AS max_price FROM {table}"
            " GROUP BY o_orderstatus"
        )
    return Op("read", kind, fmt, sql)


def pass_ops(
    workload: str, seed: int, index: int, sql_names: tuple[str, ...] = ()
) -> list[Op]:
    """The ops of pass ``index``. ``sql_names`` lists the registered SQL
    texts for ``sql_plan`` (the caller reads them from the registry)."""
    rng = random.Random(f"{workload}/{seed}/{index}")
    # each table's key slots: one seeded permutation per format, consumed
    # pass by pass
    slots = {
        fmt: random.Random(f"{workload}/{seed}/{fmt}").sample(
            range(LAKE_SOURCE_KEYS // SLOT), LAKE_SOURCE_KEYS // SLOT
        )
        for fmt in LAKE_FORMATS
    }
    if workload == SQL_PLAN:
        if not sql_names:
            raise ValueError("sql_plan needs the registered SQL text names")
        ops = [Op("plan", n) for n in sorted(sql_names)]
    elif workload == EXEC_MIX:
        ops = [Op("query", n) for n in ANALYTICS + PYOPS]
        # formats are balanced, not drawn: each write kind alternates
        # between Delta and Iceberg from pass to pass, so every pass writes
        # each table twice, and each read kind runs once on each format per
        # pass
        n = len(LAKE_WRITES)
        writes = []
        for j, kind in enumerate(LAKE_WRITES):
            fmt = LAKE_FORMATS[(index + j) % 2]
            slot = slots[fmt][(index * 2 + j // 2) % len(slots[fmt])]
            writes.append(_lake_write(kind, fmt, SLOT * slot, index * n + j))
        ops += writes
        ops += [
            _lake_read(k, LAKE_FORMATS[j % 2], rng)
            for j, k in enumerate(LAKE_READS)
        ]
    else:
        raise ValueError(f"unknown workload {workload!r}; one of {WORKLOADS}")
    rng.shuffle(ops)
    return ops
