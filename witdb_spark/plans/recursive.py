"""WITH RECURSIVE (reference grammar SqlBase.g4:190 `WITH RECURSIVE?
namedQuery...`; analysis StatementAnalyzer.java recursive-query handling).

Spark SQL has no recursive CTE, so the recursive query runs as a
driver-orchestrated ITERATIVE FIXPOINT — the canonical Spark shape for
iterative algorithms (same loop structure as GraphX/Pregel):

    anchor -> frontier_0
    repeat: bind the CTE name to frontier_i, evaluate the step,
            (UNION mode: subtract rows already accumulated),
            accumulate, until the frontier is empty.

Semantics follow SQL:1999 linear recursion, which is what the reference
implements: the recursive reference sees the PREVIOUS iteration's rows
(not the accumulation); `UNION ALL` keeps duplicates and terminates only
via the step's own predicate; `UNION` deduplicates globally, so cyclic
graphs still reach a fixpoint.

Scale notes: every iteration is one distributed job; `localCheckpoint`
truncates lineage each round (without it, iteration i carries an i-deep
plan and Catalyst re-optimizes the whole history every step). UNION mode
pays one extra shuffle per round for the global subtract — inherent to
the semantics, and exactly what the reference pays in its recursion
expansion. The iteration cap mirrors the reference's bounded recursion
expansion (StatementAnalyzer expands to `max_recursion_depth` and fails
loudly beyond it).

Scope limit (loud, not silent): the anchor and step evaluate standalone,
so they may reference catalog tables/views and the recursive name — but
NOT sibling CTEs of the same WITH (inline them). CTEs declared AFTER the
recursive one work (the rewritten tail keeps its WITH).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from witdb_spark.plans.lexer import lex

_HEAD = re.compile(
    r"^\s*WITH\s+RECURSIVE\s+([A-Za-z_][A-Za-z0-9_]*)\s*"
    r"(?:\(([^)]*)\))?\s*AS\s*\(",
    re.I,
)
_UNION = re.compile(r"\bUNION\s+(ALL\b)?", re.I)

MAX_ITERATIONS = 200


def has_recursive(sql: str) -> bool:
    return _HEAD.match(sql) is not None


def _split_body(body: str) -> tuple[str, str, bool]:
    """(anchor, step, is_union_all): split at the FIRST top-level UNION."""
    lx = lex(body)
    for m in lx.finditer(_UNION):
        if lx.depth(m.start()) == 0:
            return (
                body[: m.start()].strip(),
                body[m.end():].strip(),
                bool(m.group(1)),
            )
    raise ValueError(
        "WITH RECURSIVE body must be 'anchor UNION [ALL] step'"
    )


def execute_recursive(engine, sql: str) -> DataFrame:
    """Evaluate a `WITH RECURSIVE name [(cols)] AS (anchor UNION [ALL]
    step) rest` statement through the engine (so the Trino dialect applies
    inside anchor/step/rest alike); returns the DataFrame of `rest`."""
    m = _HEAD.match(sql)
    if m is None:
        raise ValueError("not a WITH RECURSIVE statement")
    name = m.group(1)
    cols = [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
    open_idx = sql.index("(", m.end() - 1)
    close_idx = lex(sql).close(open_idx)
    anchor, step, union_all = _split_body(sql[open_idx + 1 : close_idx])
    rest = sql[close_idx + 1 :].strip()

    acc = engine.sql(anchor)
    if cols:
        acc = acc.toDF(*cols)
    if not union_all:
        # UNION (distinct) deduplicates across the WHOLE recursive union,
        # anchor included (SQL:1999; duplicate anchor rows must collapse)
        acc = acc.distinct()
    acc = acc.localCheckpoint(eager=True)
    frontier = acc
    for _ in range(MAX_ITERATIONS):
        if frontier.isEmpty():
            break
        frontier.createOrReplaceTempView(name)
        new = engine.sql(step)
        if cols:
            new = new.toDF(*cols)
        if not union_all:
            # UNION (distinct): only rows never seen before continue
            new = new.subtract(acc)
        new = new.localCheckpoint(eager=True)
        if new.isEmpty():
            break
        acc = acc.union(new).localCheckpoint(eager=True)
        frontier = new
    else:
        raise RuntimeError(
            f"WITH RECURSIVE {name}: no fixpoint within {MAX_ITERATIONS}"
            " iterations (reference bounds recursion the same way,"
            " max_recursion_depth)"
        )
    acc.createOrReplaceTempView(name)
    if rest.startswith(","):
        # further (non-recursive) CTEs follow the recursive one
        return engine.sql("WITH " + rest[1:].lstrip())
    return engine.sql(rest)
