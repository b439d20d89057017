"""File-skipping predicate analysis for the jar-free lakehouse readers
(the reference's TupleDomain/DomainTranslator analog:
core/trino-spi/.../predicate/TupleDomain.java feeding
plugin/trino-delta-lake AddFileEntry stats pruning and
plugin/trino-iceberg manifest partition pruning).

At 100 TB the win is not row filtering — Spark's parquet scan already
row-group-skips — it is never LISTING the pruned files at all: the
driver drops add-entries / manifest entries whose partition values or
column stats cannot satisfy the predicate, so the distributed scan is
built over the surviving file set only.

Everything here is CONSERVATIVE: ``parse_predicate`` returns None for
any SQL it cannot fully analyze (NOT, functions, casts, ...), and
``clause_can_match`` answers True whenever in doubt. AND/OR compose
soundly over per-file can-match: a file can satisfy ``A AND B`` only
if it can satisfy every conjunct independently (an over-approximation
— never prunes a matching file), and can satisfy ``A OR B`` if it can
satisfy any disjunct (the reference's TupleDomain.columnWiseUnion
analog). Callers always
re-apply the full predicate with ``DataFrame.filter``, so pruning is
purely a scan-size optimization and can never change results — the
property test in tests/test_sources.py holds pruned+filter ==
full+filter over randomized predicates.
"""

from __future__ import annotations

import datetime
import re
from dataclasses import dataclass

from witdb_spark.plans.lexer import lex

_IDENT = r"(?:`([^`]+)`|([A-Za-z_][A-Za-z0-9_]*))"
_NUM = r"(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
_STR = r"'((?:[^']|'')*)'"
_LIT = (
    rf"(?:DATE\s*{_STR}|TIMESTAMP\s*{_STR}|{_STR}|{_NUM}"
    r"|(true)|(false))"
)
_OP = r"(<=|>=|<>|!=|=|<|>)"

_ATOM_COL_OP_LIT = re.compile(
    rf"^\s*{_IDENT}\s*{_OP}\s*{_LIT}\s*$", re.IGNORECASE
)
_ATOM_LIT_OP_COL = re.compile(
    rf"^\s*{_LIT}\s*{_OP}\s*{_IDENT}\s*$", re.IGNORECASE
)
_ATOM_NULL = re.compile(
    rf"^\s*{_IDENT}\s+IS\s+(NOT\s+)?NULL\s*$", re.IGNORECASE
)
_ATOM_IN = re.compile(
    rf"^\s*{_IDENT}\s+IN\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL
)
_LIT_ONLY = re.compile(rf"^\s*{_LIT}\s*$", re.IGNORECASE)

_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "=",
         "<>": "<>", "!=": "!="}


@dataclass(frozen=True)
class Clause:
    col: str
    op: str          # '=', '<', '<=', '>', '>=', '<>', 'in',
                     # 'isnull', 'notnull'
    value: object = None     # literal, or tuple for 'in'


def _lit_groups(groups: tuple) -> object:
    """Decode the 6 alternation groups of _LIT -> python value."""
    date_s, ts_s, plain_s, num, tru, fal = groups
    if date_s is not None:
        return datetime.date.fromisoformat(date_s.replace("''", "'"))
    if ts_s is not None:
        return _parse_ts(ts_s.replace("''", "'"))
    if plain_s is not None:
        return plain_s.replace("''", "'")
    if num is not None:
        f = float(num)
        i = int(f)
        return i if f == i and "." not in num and "e" not in num.lower() else f
    if tru is not None:
        return True
    if fal is not None:
        return False
    raise ValueError("no literal group matched")


def _parse_ts(s: str) -> datetime.datetime:
    s = s.strip().replace("T", " ").removesuffix("Z")
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return datetime.datetime.strptime(s, fmt)
        except ValueError:
            continue
    raise ValueError(f"unparsable timestamp literal {s!r}")


def _split_top(s: str, kw: str) -> list[str]:
    """Split on a top-level keyword (outside strings, comments and
    brackets; whole words only). Returns [s] when it does not appear."""
    lx = lex(s)
    parts, start = [], 0
    for i in lx.top_level():
        if lx.toks[i].upper() == kw:
            parts.append(s[start : lx.starts[i]])
            start = lx.starts[i] + len(kw)
    parts.append(s[start:])
    return parts


def _strip_parens(s: str) -> str:
    s = s.strip()
    while s.startswith("(") and lex(s).closes.get(0) == len(s) - 1:
        s = s[1:-1].strip()
    return s


@dataclass(frozen=True)
class Pred:
    """Predicate tree node: an AND/OR of subtrees, or an atom clause."""

    kind: str                       # 'and' | 'or' | 'atom'
    children: tuple = ()            # Pred operands for and/or
    clause: Clause | None = None    # the atom for kind == 'atom'


def _parse_atom(atom: str) -> Clause | None:
    """One comparison/IN/IS NULL atom -> Clause, or None (unanalyzable)."""
    m = _ATOM_NULL.match(atom)
    if m:
        col = m.group(1) or m.group(2)
        return Clause(col, "notnull" if m.group(3) else "isnull")
    m = _ATOM_COL_OP_LIT.match(atom)
    if m:
        col = m.group(1) or m.group(2)
        op = m.group(3)
        try:
            return Clause(col, op, _lit_groups(m.groups()[3:]))
        except ValueError:
            return None
    m = _ATOM_LIT_OP_COL.match(atom)
    if m:
        try:
            val = _lit_groups(m.groups()[:6])
        except ValueError:
            return None
        return Clause(m.group(8) or m.group(9), _FLIP[m.group(7)], val)
    m = _ATOM_IN.match(atom)
    if m:
        col = m.group(1) or m.group(2)
        vals = []
        for item in m.group(3).split(","):
            lm = _LIT_ONLY.match(item)
            if not lm:
                return None
            try:
                vals.append(_lit_groups(lm.groups()))
            except ValueError:
                return None
        return Clause(col, "in", tuple(vals))
    return None


def parse_predicate(where: str) -> Pred | None:
    """SQL predicate -> AND/OR tree of analyzable atoms, or None when
    ANY part is outside the supported subset (callers then scan all
    files — never guess). NOT (other than IS NOT NULL) stays
    unanalyzable: its atoms fail to parse."""
    return _parse_or(where)


def _parse_or(s: str) -> Pred | None:
    parts = _split_top(s, "OR")
    if len(parts) > 1:
        kids = tuple(_parse_and(p) for p in parts)
        if any(k is None for k in kids):
            return None
        return Pred("or", kids)
    return _parse_and(s)


def _parse_and(s: str) -> Pred | None:
    # OR was split first (lower precedence), so depth-0 AND operands
    # here are terms: atoms or parenthesized groups.
    parts = _split_top(s, "AND")
    if len(parts) > 1:
        kids = tuple(_parse_term(p) for p in parts)
        if any(k is None for k in kids):
            return None
        return Pred("and", kids)
    return _parse_term(s)


def _parse_term(s: str) -> Pred | None:
    stripped = _strip_parens(s)
    if stripped != s.strip():
        return _parse_or(stripped)
    cl = _parse_atom(stripped)
    return Pred("atom", clause=cl) if cl is not None else None


def predicate_can_match(pred: Pred, atom_can_match) -> bool:
    """Conservative can-any-row-match over the tree: AND requires every
    conjunct individually matchable, OR any disjunct.
    ``atom_can_match(clause) -> bool`` supplies the per-file stats
    evaluation; it must answer True whenever in doubt."""
    if pred.kind == "atom":
        return atom_can_match(pred.clause)
    if pred.kind == "and":
        return all(
            predicate_can_match(c, atom_can_match) for c in pred.children
        )
    return any(
        predicate_can_match(c, atom_can_match) for c in pred.children
    )


def parse_conjuncts(where: str) -> list[Clause] | None:
    """SQL predicate -> flat conjunct list when the tree is a pure AND
    of atoms; None otherwise (including any OR — callers wanting OR
    pruning use parse_predicate/predicate_can_match)."""
    pred = parse_predicate(where)
    if pred is None:
        return None
    out: list[Clause] = []

    def walk(p: Pred) -> bool:
        if p.kind == "atom":
            out.append(p.clause)
            return True
        if p.kind == "and":
            return all(walk(c) for c in p.children)
        return False

    return out if walk(pred) else None


# ----------------------------------------------------------- evaluation


def _comparable(a, b):
    """Coerce (stat value, literal) into one comparable domain, or None
    when they cannot be compared safely (then: no pruning)."""
    if isinstance(a, bool) or isinstance(b, bool):
        return (a, b) if isinstance(a, bool) and isinstance(b, bool) else None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a, b
    if isinstance(b, datetime.date) and not isinstance(b, datetime.datetime):
        if isinstance(a, datetime.date) and not isinstance(a, datetime.datetime):
            return a, b
        if isinstance(a, str):
            try:
                return datetime.date.fromisoformat(a[:10]), b
            except ValueError:
                return None
        return None
    if isinstance(b, datetime.datetime):
        if isinstance(a, datetime.datetime):
            return a, b
        if isinstance(a, str):
            try:
                return _parse_ts(a), b
            except ValueError:
                return None
        return None
    if isinstance(a, str) and isinstance(b, str):
        return a, b
    return None


def _range_can_match(op: str, lo, hi, value) -> bool:
    """Can any x in [lo, hi] satisfy ``x op value``? lo/hi may be None
    (unknown side -> unbounded)."""
    if op == "=":
        c = _comparable(lo, value) if lo is not None else None
        if c is not None and c[1] < c[0]:
            return False
        c = _comparable(hi, value) if hi is not None else None
        if c is not None and c[1] > c[0]:
            return False
        return True
    if op in ("<", "<="):
        c = _comparable(lo, value) if lo is not None else None
        if c is None:
            return True
        return c[0] < c[1] if op == "<" else c[0] <= c[1]
    if op in (">", ">="):
        c = _comparable(hi, value) if hi is not None else None
        if c is None:
            return True
        return c[0] > c[1] if op == ">" else c[0] >= c[1]
    if op in ("<>", "!="):
        # prunes only a constant file: min == max == value
        if lo is None or hi is None:
            return True
        cl = _comparable(lo, value)
        ch = _comparable(hi, value)
        if cl is None or ch is None:
            return True
        return not (cl[0] == cl[1] and ch[0] == ch[1])
    return True


def clause_can_match(
    clause: Clause,
    lo,
    hi,
    null_count: int | None,
    num_records: int | None,
) -> bool:
    """Can any row of a file with column stats [lo, hi] / null_count
    satisfy the clause? Unknown stats (None) -> True."""
    if clause.op == "isnull":
        return null_count is None or null_count > 0
    all_null = (
        null_count is not None
        and num_records is not None
        and null_count >= num_records
    )
    if clause.op == "notnull":
        return not all_null
    if all_null:  # comparisons never match NULL
        return False
    if clause.op == "in":
        return any(
            _range_can_match("=", lo, hi, v) for v in clause.value
        )
    return _range_can_match(clause.op, lo, hi, clause.value)


def partition_value_can_match(clause: Clause, value) -> bool:
    """Exact-value variant for partition columns (value is the typed
    partition value; None = NULL partition)."""
    if clause.op == "isnull":
        return value is None
    if value is None:
        return False
    if clause.op == "notnull":
        return True
    if clause.op == "in":
        return any(
            _range_can_match("=", value, value, v) for v in clause.value
        )
    return _range_can_match(clause.op, value, value, clause.value)
