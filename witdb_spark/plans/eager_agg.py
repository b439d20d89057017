"""Eager aggregation: narrow a self-joined aggregate CTE to surrogate keys.

The q64-family shape aggregates a fact join with grouping keys that are
mostly dimension ATTRIBUTES (long strings like p_name/s_name), while the
aggregation itself reduces almost nothing (86,903 input rows -> 86,896
groups on tpcds_sql_q64's cross_sales). Every input row then pays
string hashing in both hash-aggregate levels and the exchange carries
the strings once per group (guide §2.3: shuffle fewer bytes / narrower
types; §3.3). Spark has no group-by pushdown rule, but the engine knows
something Catalyst does not: the catalog's declared-and-verified UNIQUE
columns (catalog.UNIQUE_COLUMNS, gated by
tests/test_semantics.py::test_declared_unique_columns_hold). Under those
constraints the block

    SELECT d.att, ..., SUM(f.x), COUNT(*)
    FROM fact f JOIN dim d ON d.key = f.fk ...
    GROUP BY d.att, ...

aggregates the same partition of rows when it groups FIRST by the
fact-side join column (``_rewrite_block`` builds that pre-aggregation):

    SELECT f.fk, ..., SUM(f.x) AS __ea_s0, COUNT(*) AS __ea_cnt
    FROM fact f ... GROUP BY f.fk, ...

Why this is exact (each condition is enforced, not assumed):
  - ``d.key`` UNIQUE in d  =>  the lifted join is 1:1 per key value:
    no duplication of partial rows, and a group whose key has no match
    is dropped post-agg exactly as its rows were dropped pre-agg (the
    key is constant within a group, so drops are all-or-nothing; NULL
    keys never match on either side).
  - grouping by the fact-side key is the SAME partition of rows as
    grouping by the dimension attributes when either (a) the key
    itself is among the grouped attributes, or (b) some grouped
    attribute is itself declared UNIQUE (key <-> attribute bijection).
    Without (a)/(b) two keys could share an attribute value and the
    original would merge them — such dims are NOT lifted.
  - aggregate arguments reference only the surviving (fact-side)
    tables, every aggregate is a plain SUM over an exact DECIMAL cast
    or COUNT(*), and the rewrite is single-level (no re-aggregation),
    so no arithmetic is reordered at all.

Everything else makes a block ineligible and leaves the text untouched:
outer/semi/anti/comma joins, non-equi or compound ON conditions,
HAVING, DISTINCT, ORDER BY/LIMIT tails, window functions, subqueries,
unresolvable or ambiguous column references, unknown function calls
(the hardened positive classification shared with the rollup
pre-stage), aggregates without an AS alias (the output column name
would change), and sources whose columns are unknown (a CTE whose
output list cannot be parsed).

Where the lifted dimensions are re-joined decides whether this wins.
Re-joining them right above the pre-aggregation, inside the block, was
measured WORSE on tpcds_sql_q64 at sf0.1 (interleaved A/B, noop sink):
the narrow-key aggregation itself wins (the two fact-agg stages drop
678->564 / 643->528 ms CPU, their exchanges 5.31->3.78 / 5.36->3.74
MB), but the Join nodes between the self-join and the materialized
aggregate stages blow Spark's size-only join estimate (product of child
sizes) past the broadcast threshold, so AQE no longer converts the
cross_sales self-join to broadcast before its exchanges launch: two new
5.28/3.94 MB exchanges plus sorts appear, netting +9% CPU and +54%
shuffle bytes (2241->2444 ms CPU, 11.2->17.3 MB; CBO on does not change
the estimate). That block-level form was removed. What ships is the
composition below (rewrite_cte_selfjoin_narrow): the CTE exposes only
surrogate keys and the attributes are re-attached on the FINAL joined
output. Measured on the same setup: executor CPU 2749 -> 2519 ms (-8%),
shuffle write 11.20 -> 7.95 MB (-29%), wall min 2.15 -> 1.99 s. The
shuffle ledger proves the mechanism: 7.95 MB = cs_ui (0.53) + the two
narrow surrogate-key aggregate exchanges (3.78 + 3.74) and nothing
else — the self-join exchanges never materialize because the aggregate
sits directly atop its exchange again and AQE broadcast-converts the
self-join at re-planning, while the dimension joins probe the final
406-row joined output instead of 2 x 86k group rows.

The DuckDB oracle text is never touched — only the Spark-side plan
changes; the driver's hash compare is the gate.
"""

from __future__ import annotations

import re
from functools import lru_cache

from witdb_spark.catalog import TABLE_COLUMNS, UNIQUE_COLUMNS
from witdb_spark.plans.dialect import (
    _NONAGG_CALL_NAMES,
    _decimal_cols_for_scope,
    _is_decimal_cast,
    _owning_select,
    _top_kw,
)
from witdb_spark.plans.lexer import UnsupportedTrinoSyntax, lex, split

_GROUP_BY = re.compile(
    r"\bGROUP\s+BY\b(?!\s+(?:ROLLUP|CUBE|GROUPING)\b)", re.I
)
_CLAUSE_AFTER_GROUP = re.compile(
    r"\b(HAVING|ORDER\s+BY|LIMIT|OFFSET|FETCH|UNION|INTERSECT|EXCEPT|WINDOW)\b",
    re.I,
)
_BANNED_FROM = re.compile(
    r"\b(LEFT|RIGHT|FULL|CROSS|OUTER|SEMI|ANTI|NATURAL|LATERAL|UNNEST|TABLESAMPLE)\b",
    re.I,
)
_REF = re.compile(
    r"(?:(?P<q>[A-Za-z_]\w*)\s*\.\s*)?(?P<c>[A-Za-z_]\w*)"
)
_PLAIN_REF = re.compile(
    r"^\s*(?:(?P<q>[A-Za-z_]\w*)\s*\.\s*)?(?P<c>[A-Za-z_]\w*)\s*$"
)
_EQ_COND = re.compile(
    r"^\s*(?P<a>[A-Za-z_]\w*(?:\s*\.\s*[A-Za-z_]\w*)?)\s*=\s*"
    r"(?P<b>[A-Za-z_]\w*(?:\s*\.\s*[A-Za-z_]\w*)?)\s*$"
)
_AS_TAIL = re.compile(r"\bAS\s+[A-Za-z_]\w*\s*$", re.I)

#: bare words never treated as column references
_KEYWORDS = frozenset(
    """select from where group by order having join on and or not in is
    null like between case when then else end as distinct asc desc cast
    interval true false exists all any some limit offset fetch union
    intersect except inner left right full outer cross natural using
    over partition rows range unbounded preceding following current row
    with filter escape nulls first last double precision integer int
    bigint smallint tinyint varchar string boolean date timestamp
    timestamp_ntz time decimal numeric real float char binary varbinary
    array map struct year month day hour minute second week quarter
    """.split()
)


class _Bail(Exception):
    pass


class _Source:
    __slots__ = (
        "text", "table", "alias", "cond", "cols", "lifted",
        "_anchor", "_anchor_src", "_k_self",
    )

    def __init__(self, text, table, alias, cond):
        self.text = text          # original segment text (without JOIN kw)
        self.table = table.lower()
        self.alias = alias or table
        self.cond = cond          # (a, b) raw ref texts, or None for base
        self.cols = None          # frozenset | None (unknown)
        self.lifted = False


@lru_cache(maxsize=8)
def _cte_columns(sql: str) -> dict[str, frozenset | None]:
    """Output-column sets of `name AS ( SELECT ... )` bodies found in the
    text; None marks a CTE whose output list could not be parsed."""
    out: dict[str, frozenset | None] = {}
    lx = lex(sql)
    for m in lx.finditer(r"\b([A-Za-z_]\w*)\s+AS\s*\("):
        name = m.group(1).lower()
        if name.upper() in ("CAST", "TRY_CAST"):
            continue
        try:
            close = lx.close(m.end() - 1)
        except UnsupportedTrinoSyntax:
            continue
        blx = lex(sql[m.end() : close])
        sel = _top_kw(blx, r"\bSELECT\b")
        frm = next(blx.at_depth(r"\bFROM\b", 0, sel.end() + 1), None) if sel else None
        if frm is None:
            out[name] = None
            continue
        cols = set()
        ok = True
        for item in split(blx.text[sel.end() : frm.start()], angle=True):
            am = re.search(r"\bAS\s+([A-Za-z_]\w*)\s*$", item, re.I)
            pm = _PLAIN_REF.match(item) if am is None else None
            if am:
                cols.add(am.group(1).lower())
            elif pm and pm.group("c").lower() not in _KEYWORDS:
                cols.add(pm.group("c").lower())
            else:
                ok = False
                break
        out[name] = frozenset(cols) if ok else None
    return out


def _collect_refs(text: str) -> list[tuple[str | None, str, int]]:
    """(qualifier, column, offset) for every column-shaped token; raises
    _Bail on nothing — unresolvable tokens are handled by the resolver."""
    refs = []
    for m in lex(text).finditer(_REF):
        i = m.start()
        if i > 0 and (text[i - 1].isdigit() or text[i - 1] in "._'\""):
            continue  # inside a number/identifier/literal tail
        after = text[m.end() :].lstrip()
        if after.startswith("("):
            continue  # function call
        before = text[:i].rstrip()
        if re.search(r"\bAS$", before, re.I):
            continue  # alias definition
        q = m.group("q")
        c = m.group("c").lower()
        if q is None and c in _KEYWORDS:
            continue
        refs.append((q.lower() if q else None, c, i))
    return refs


def _resolve(sources, q, c):
    """-> _Source owning the reference; raises _Bail when unresolvable or
    ambiguous (the whole block is then left untouched)."""
    if q is not None:
        for s in sources:
            if s.alias.lower() == q:
                if s.cols is None or c in s.cols:
                    return s
                raise _Bail()
        raise _Bail()
    cands = [s for s in sources if s.cols is not None and c in s.cols]
    unknowns = [s for s in sources if s.cols is None]
    if len(cands) == 1 and not unknowns:
        return cands[0]
    raise _Bail()


def _parse_from(from_clause: str):
    lx = lex(from_clause)
    if _top_kw(lx, ",") or _top_kw(lx, _BANNED_FROM):
        raise _Bail()
    cuts = list(lx.at_depth(r"\bJOIN\b", 0))
    segs = []
    bounds = [0] + [jm.start() for jm in cuts] + [len(from_clause)]
    for i in range(len(bounds) - 1):
        start = bounds[i] if i == 0 else bounds[i] + 4  # skip 'JOIN'
        segs.append(from_clause[start : bounds[i + 1]].strip())
    sources = []
    bm = re.match(r"^([A-Za-z_]\w*)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?\s*$", segs[0], re.I | re.S)
    if bm is None:
        raise _Bail()
    sources.append(_Source(segs[0], bm.group(1), bm.group(2), None))
    for seg in segs[1:]:
        sm = re.match(
            r"^([A-Za-z_]\w*)(?:\s+(?:AS\s+)?(?!ON\b)([A-Za-z_]\w*))?"
            r"\s+ON\s+(.*)$",
            seg,
            re.I | re.S,
        )
        if sm is None:
            raise _Bail()
        cm = _EQ_COND.match(sm.group(3))
        if cm is None:
            raise _Bail()
        sources.append(
            _Source(seg, sm.group(1), sm.group(2), (cm.group("a"), cm.group("b")))
        )
    if len({s.alias.lower() for s in sources}) != len(sources):
        raise _Bail()
    return sources


def _norm_ref(t: str) -> str:
    return re.sub(r"\s+", "", t).lower()


def _ref_parts(t: str) -> tuple[str | None, str]:
    m = _PLAIN_REF.match(t)
    return (
        m.group("q").lower() if m.group("q") else None,
        m.group("c").lower(),
    )


def _rewrite_block(sql, m):
    """Analyse the GROUP BY block whose keyword match is ``m`` when the
    block is EXACTLY a CTE body (``name AS ( <block> )``): the lifted
    dimension sources and the pre-aggregation that replaces the block.
    Returns the parts dict _narrow_cte_and_consumer consumes, None when
    the block is no CTE body or no dimension lifts; raises _Bail on
    ineligible shapes."""
    lx = lex(sql)
    dep = lx.depth(m.start())
    # owning SELECT / FROM / WHERE at this depth
    owner_sel = _owning_select(lx, m.start())
    if owner_sel is None:
        raise _Bail()
    sel, frm = owner_sel
    body_open = lx.encl(sel.start())
    if (
        body_open not in lx.closes
        or sql[body_open + 1 : sel.start()].strip()
    ):
        return None
    cte_m = re.search(r"([A-Za-z_]\w*)\s+AS\s*$", sql[:body_open], re.I)
    if cte_m is None:
        return None
    select_list = sql[sel.end() : frm.start()]
    whr = next(lx.at_depth(r"\bWHERE\b", dep, frm.end(), m.start()), None)
    from_clause = sql[frm.end() : (whr.start() if whr else m.start())]
    where_clause = sql[whr.start() : m.start()] if whr else ""
    if "__ea_pre" in from_clause or "__roll_pre" in from_clause:
        raise _Bail()
    # scope end and tail: HAVING/ORDER BY/... after the keys -> bail
    scope_end = lx.scope_end(m.start())
    if next(lx.at_depth(_CLAUSE_AFTER_GROUP, dep, m.end(), scope_end), None):
        raise _Bail()
    keys_text = sql[m.end() : scope_end]
    keys = split(keys_text, angle=True)
    if not keys or any(not k or k.startswith("(") or k[0].isdigit() for k in keys):
        raise _Bail()
    if re.search(r"\bSELECT\b", select_list, re.I) or re.search(
        r"\bOVER\b", select_list, re.I
    ) or re.search(r"\bFILTER\s*\(", select_list, re.I):
        raise _Bail()

    # ---- sources + attribution ----
    sources = _parse_from(from_clause)
    cte_map = _cte_columns(sql)
    for s in sources:
        if s.table in TABLE_COLUMNS:
            s.cols = frozenset(TABLE_COLUMNS[s.table])
        elif s.table in cte_map:
            s.cols = cte_map[s.table]  # may be None (unknown)
        else:
            raise _Bail()

    def owner(q, c):
        return _resolve(sources, q, c)

    # references per region
    sel_refs = [(q, c, i) for q, c, i in _collect_refs(select_list)]
    where_refs = _collect_refs(where_clause) if where_clause else []
    key_refs = {i: _collect_refs(k) for i, k in enumerate(keys)}
    # resolve everything up front (raises _Bail on unknowns)
    for q, c, _ in sel_refs + where_refs:
        owner(q, c)
    for refs in key_refs.values():
        for q, c, _ in refs:
            owner(q, c)

    # ---- aggregate calls in the SELECT list (hardened classification) ----
    slx = lex(select_list)
    dec_cols = None
    sums = []  # (start, end, arg, is_sum)
    for am in slx.finditer(r"\b([A-Za-z_]\w*)\s*\(", flags=0):
        name = am.group(1).upper()
        if name.lower() in _NONAGG_CALL_NAMES:
            continue
        a_open = am.end() - 1
        a_close = slx.close(a_open)
        arg = select_list[a_open + 1 : a_close]
        if name == "SUM":
            if dec_cols is None:
                dec_cols = _decimal_cols_for_scope(sql, from_clause)
            if not _is_decimal_cast(arg, dec_cols):
                raise _Bail()
            sums.append((am.start(), a_close + 1, arg, True))
        elif name == "COUNT" and arg.strip() == "*":
            sums.append((am.start(), a_close + 1, "", False))
        else:
            raise _Bail()
    if not sums:
        raise _Bail()
    spans = sorted((s[0], s[1]) for s in sums)
    if any(spans[i][1] > spans[i + 1][0] for i in range(len(spans) - 1)):
        raise _Bail()

    def in_agg_span(off):
        return any(s <= off < e for s, e, _, _ in sums)

    # ---- decide liftable dims ----
    by_alias = {s.alias.lower(): s for s in sources}
    # key classification: which dim owns each key (or None = fact side)
    key_owner: list[object] = []
    for i, k in enumerate(keys):
        pm = _PLAIN_REF.match(k)
        if pm and pm.group("c").lower() not in _KEYWORDS:
            key_owner.append(owner(*_ref_parts(k)))
        else:
            key_owner.append(None)  # expression — fact side required later
    for s in sources[1:]:
        if s.table not in UNIQUE_COLUMNS or s.cols is None:
            continue
        a, b = s.cond
        qa, ca = _ref_parts(a)
        qb, cb = _ref_parts(b)
        oa, ob = owner(qa, ca), owner(qb, cb)
        if oa is s and ob is not s:
            k_self, anchor, anchor_src = ca, b, ob
        elif ob is s and oa is not s:
            k_self, anchor, anchor_src = cb, a, oa
        else:
            continue
        if k_self not in UNIQUE_COLUMNS[s.table]:
            continue
        # every ref to s outside its own ON: only as whole grouping keys
        # (select-list occurrences outside aggregate args are then the
        # same grouped attributes by SQL validity)
        ok = True
        for q, c, off in where_refs:
            if owner(q, c) is s:
                ok = False
        for other in sources[1:]:
            if other is s or other.cond is None:
                continue
            for t in other.cond:
                if owner(*_ref_parts(t)) is s:
                    ok = False
        for q, c, off in sel_refs:
            if owner(q, c) is s and in_agg_span(off):
                ok = False
        atts = set()
        for i, k in enumerate(keys):
            if key_owner[i] is s:
                atts.add(_ref_parts(k)[1])
            else:
                for q, c, _ in key_refs[i]:
                    if owner(q, c) is s:
                        ok = False  # s inside a non-plain key expression
        if not ok or not atts:
            continue
        covered = (k_self in atts) or any(
            a_ in UNIQUE_COLUMNS[s.table] for a_ in atts
        )
        benefit = any(a_ != k_self for a_ in atts)
        if covered and benefit:
            s.lifted = True
            s._anchor = anchor  # type: ignore[attr-defined]
            s._anchor_src = anchor_src  # type: ignore[attr-defined]
            s._k_self = k_self  # type: ignore[attr-defined]
    # fixpoint: a lifted dim anchored on a lifted dim, or a surviving
    # segment whose ON references a lifted dim, forces un-lifting
    changed = True
    while changed:
        changed = False
        for s in sources[1:]:
            if s.lifted and getattr(s, "_anchor_src").lifted:
                s.lifted = False
                changed = True
        for s in sources[1:]:
            if s.lifted or s.cond is None:
                continue
            for t in s.cond:
                if owner(*_ref_parts(t)).lifted:
                    for x in sources[1:]:
                        if x.lifted and owner(*_ref_parts(t)) is x:
                            x.lifted = False
                            changed = True
    lifted = [s for s in sources[1:] if s.lifted]
    if not lifted:
        return None
    # aggregate args and WHERE must be fact-side only (re-check args)
    for start, end, arg, is_sum in sums:
        if is_sum:
            for q, c, _ in _collect_refs(arg):
                if owner(q, c).lifted:
                    raise _Bail()

    # ---- select items that change must carry an AS alias ----
    items = split(select_list, angle=True)
    # offsets of items within select_list for change detection
    off = 0
    item_spans = []
    for it in items:
        idx = select_list.index(it, off)
        item_spans.append((idx, idx + len(it)))
        off = idx + len(it)

    # ---- build inner query ----
    exposed: dict[str, str] = {}  # normalized ref -> exposed output name
    inner_keys: list[str] = []
    inner_items: list[str] = []
    outer_renames: list[tuple[str, str]] = []  # (key text, replacement)
    for i, k in enumerate(keys):
        if key_owner[i] is not None and key_owner[i].lifted:
            continue  # dim attribute — re-attached by the outer join
        if key_owner[i] is not None:
            # plain column of a surviving source
            q, c = _ref_parts(k)
            if _norm_ref(k) in exposed:
                continue
            inner_keys.append(k)
            inner_items.append(f"{k} AS {c}" if q else k)
            exposed[_norm_ref(k)] = c
            if q:
                outer_renames.append((k, c))
        else:
            alias = f"__ea_g{i}"
            inner_keys.append(k)
            inner_items.append(f"{k} AS {alias}")
            exposed[_norm_ref(k)] = alias
            outer_renames.append((k, alias))
    for s in lifted:
        a = getattr(s, "_anchor")
        if _norm_ref(a) in exposed:
            continue
        q, c = _ref_parts(a)
        if c in {e for e in exposed.values()}:
            raise _Bail()  # name collision on exposure
        inner_keys.append(a)
        inner_items.append(f"{a} AS {c}" if q else a)
        exposed[_norm_ref(a)] = c
        if q:
            outer_renames.append((a, c))
    # partial aggregates
    arg_alias: dict[str, str] = {}
    need_cnt = False
    for _, _, arg, is_sum in sums:
        if is_sum:
            norm = " ".join(arg.split())
            if norm not in arg_alias:
                arg_alias[norm] = f"__ea_s{len(arg_alias)}"
        else:
            need_cnt = True
    seen = set()
    for _, _, arg, is_sum in sorted(sums):
        if is_sum:
            al = arg_alias[" ".join(arg.split())]
            if al not in seen:
                seen.add(al)
                inner_items.append(f"SUM({arg}) AS {al}")
    if need_cnt:
        inner_items.append("COUNT(*) AS __ea_cnt")
    surviving = [sources[0].text] + [
        f"JOIN {s.text}" for s in sources[1:] if not s.lifted
    ]
    inner = (
        f"SELECT {', '.join(inner_items)} FROM {' '.join(surviving)}"
        f"{' ' + where_clause.strip() if where_clause.strip() else ''}"
        f" GROUP BY {', '.join(inner_keys)}"
    )

    # ---- rewrite the outer select list ----
    new_sel = select_list
    for start, end, arg, is_sum in sorted(sums, reverse=True):
        repl = arg_alias[" ".join(arg.split())] if is_sum else "__ea_cnt"
        new_sel = new_sel[:start] + repl + new_sel[end:]
    for key_text, repl in outer_renames:
        pat = re.compile(
            r"(?<![\w.])"
            + r"\s+".join(re.escape(tok) for tok in key_text.split())
            + (r"(?![\w.])" if re.match(r"[\w]", key_text[-1]) else "")
        )
        new_sel = lex(new_sel).sub(pat, repl)
    # alias check: items whose text changed must end in AS <name>
    new_items = split(new_sel, angle=True)
    if len(new_items) != len(items):
        raise _Bail()
    for old, new in zip(items, new_items):
        if " ".join(old.split()) != " ".join(new.split()) and not _AS_TAIL.search(
            new.strip()
        ):
            raise _Bail()

    return {
        "cte": cte_m.group(1),
        "cte_at": cte_m.start(1),
        "sel_start": sel.start(),
        "scope_end": scope_end,
        "items": items,
        "new_sel": new_sel,
        "inner": inner,
        "lifted": lifted,
        "exposed": exposed,
        "owner": owner,
    }


# ---------------------------------------------------------------------------
# CTE self-join narrowing: the composition that makes eager aggregation a
# WIN on the q64 shape (guide §8 — decide with small rows, attach strings
# at the very end; the module docstring has the measurements). The CTE
# itself exposes ONLY surrogate
# keys (the aggregate sits directly atop its exchange, so AQE's runtime
# conversion works again), the self-join equality on a dimension attribute
# is rewritten to the equivalent surrogate-key equality (attribute is
# declared UNIQUE -> key<->attribute bijection), and every attribute the
# consumer reads is re-attached by a dimension join on the FINAL joined
# output (hundreds of rows, not per-group).
#
# Exactness: the narrow CTE holds the same groups as the original CTE
# PLUS groups whose key has no dimension match; one inner dimension join
# per (instance, lifted dim) is always added to the consumer's FROM, so
# exactly those extra groups are dropped there — inner joins commute, so
# every downstream clause sees the identical relation. The attribute
# values re-attached by key are the original ones (key UNIQUE). The ON
# rewrite a1.att = a2.att -> a1.key = a2.key is an iff under the declared
# uniqueness of att (and NULL/unmatched keys are dropped by the added
# dimension joins on both instances).
# ---------------------------------------------------------------------------

_STAR_ITEM = re.compile(
    r"(?:\bSELECT(?:\s+(?:DISTINCT|ALL))?|,)\s*(?:(?P<q>[A-Za-z_]\w*)\s*\.\s*)?\*",
    re.I,
)
_CONSUMER_CLAUSE = re.compile(
    r"\b(WHERE|GROUP\s+BY|ORDER\s+BY|HAVING|LIMIT|UNION|INTERSECT|EXCEPT|WINDOW)\b",
    re.I,
)
_ITEM_REF = re.compile(
    r"^\s*((?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*))(?:\s+AS\s+([A-Za-z_]\w*))?\s*$",
    re.I,
)


def rewrite_cte_selfjoin_narrow(sql: str) -> str:
    for m in lex(sql).finditer(_GROUP_BY):
        try:
            parts = _rewrite_block(sql, m)
        except _Bail:
            continue
        if parts is None:
            continue
        try:
            out = _narrow_cte_and_consumer(sql, parts)
        except _Bail:
            continue
        if out is not None:
            return out
    return sql


def _narrow_cte_and_consumer(sql: str, P: dict) -> str | None:
    sel_start, scope_end, cte = P["sel_start"], P["scope_end"], P["cte"]
    lifted, owner, exposed = P["lifted"], P["owner"], P["exposed"]
    items = P["items"]
    new_items = split(P["new_sel"], angle=True)
    if len(new_items) != len(items):
        return None

    # ---- classify the CTE's select items ----
    # att_out: output alias -> (dim source, att column, keeps_output)
    att_out: dict[str, tuple] = {}
    out_items: list[str] = []
    anchor_out: dict[object, str] = {}
    for old, new in zip(items, new_items):
        im = _ITEM_REF.match(old)
        src = None
        if im:
            try:
                src = owner(*_ref_parts(im.group(1)))
            except _Bail:
                src = None
        if src is not None and src.lifted:
            out_alias = (im.group(3) or im.group(2)).lower()
            att_col = im.group(2).lower()
            if att_col == getattr(src, "_k_self"):
                # key-valued attribute: equal to the anchor on every
                # surviving row — keep the output, anchor-valued
                anchor_name = exposed[_norm_ref(getattr(src, "_anchor"))]
                out_items.append(f"{anchor_name} AS {out_alias}")
                att_out[out_alias] = (src, att_col, True)
                anchor_out.setdefault(src, out_alias)
            else:
                att_out[out_alias] = (src, att_col, False)
        else:
            out_items.append(new.strip())
    if not any(not keeps for _, _, keeps in att_out.values()):
        return None  # nothing to narrow
    for i, s in enumerate(lifted):
        if s in anchor_out:
            continue
        anchor_name = exposed[_norm_ref(getattr(s, "_anchor"))]
        hid = f"__ea_a{i}"
        out_items.append(f"{anchor_name} AS {hid}")
        anchor_out[s] = hid
    new_body = (
        f"SELECT {', '.join(out_items)} FROM ({P['inner']}) AS __ea_pre "
    )

    # ---- the consumer: everything after the CTE body close ----
    head, close, tail = sql[:sel_start], sql[scope_end], sql[scope_end + 1 :]
    cte_pat = re.compile(rf"(?<![\w.]){re.escape(cte)}(?![\w.])", re.I)
    if cte_pat.search(head[: P["cte_at"]]):
        return None  # referenced before its definition — not our shape
    tlx = lex(tail)
    instances: list[tuple[int, str]] = []
    for mm in tlx.finditer(cte_pat):
        before = tail[: mm.start()].rstrip()
        if not re.search(r"\b(FROM|JOIN)$", before, re.I):
            return None  # referenced outside a FROM — not our shape
        am = re.match(r"\s+(?:AS\s+)?([A-Za-z_]\w*)", tail[mm.end() :], re.I)
        if am is None or am.group(1).upper() in (
            "ON", "JOIN", "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
            "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "UNION", "SELECT",
        ):
            return None  # unaliased instance — cannot rewrite references
        instances.append((mm.start(), am.group(1)))
    if not instances:
        return None
    inst_depth = tlx.depth(instances[0][0])
    if any(tlx.depth(p) != inst_depth for p, _ in instances):
        return None  # instances in different scopes
    aliases = [a for _, a in instances]
    alias_set = {a.lower() for a in aliases}
    if len(alias_set) != len(aliases):
        return None

    # ---- guard: a star select item (SELECT * over the instances, or
    # <instance>.*) would expose the hidden anchor columns and lose the
    # dropped attributes ----
    for sm in tlx.finditer(_STAR_ITEM):
        q = sm.group("q")
        if (q.lower() in alias_set) if q else tlx.depth(sm.start()) == inst_depth:
            return None

    # ---- guard: every reference to a DROPPED att is qualified and in a
    # rewritable position (select item, or both-sides ON equality) ----
    dropped = {a for a, (_, _, keeps) in att_out.items() if not keeps}
    for a in dropped:
        for mm in tlx.finditer(rf"(?<![\w.]){a}(?![\w.])"):
            before = tail[: mm.start()].rstrip()
            if before.endswith("."):
                continue  # qualified — handled below
            if re.search(r"\bAS$", before, re.I):
                continue  # an alias definition of the same name
            return None  # bare reference we cannot re-point

    # ---- rewrite ON equality pairs att = att -> anchor = anchor ----
    new_tail = tail
    for a, (src, att_col, keeps) in att_out.items():
        if keeps:
            continue  # output still exists (anchor-valued) — nothing to do
        if att_col not in UNIQUE_COLUMNS.get(src.table, frozenset()):
            uniq = False
        else:
            uniq = True
        pair = re.compile(
            rf"(?<![\w.])([A-Za-z_]\w*)\s*\.\s*{a}\s*=\s*([A-Za-z_]\w*)\s*\.\s*{a}(?![\w.])",
            re.I,
        )
        pieces, last = [], 0
        for mo in lex(new_tail).finditer(pair):
            x, y = mo.group(1), mo.group(2)
            if (
                x.lower() in alias_set
                and y.lower() in alias_set
                and uniq
            ):
                pieces.append(new_tail[last : mo.start()])
                pieces.append(
                    f"{x}.{anchor_out[src]} = {y}.{anchor_out[src]}"
                )
                last = mo.end()
        pieces.append(new_tail[last:])
        new_tail = "".join(pieces)

    # ---- rewrite remaining qualified att references: must be whole
    # select-list items of the consumer ----
    dim_alias: dict[tuple[str, object], str] = {}
    for x in aliases:
        for s in lifted:
            dim_alias[(x.lower(), s)] = f"__ea_{x}_{s.alias}"
    for a, (src, att_col, keeps) in att_out.items():
        if keeps:
            continue
        qref = re.compile(
            rf"(?<![\w.])([A-Za-z_]\w*)\s*\.\s*{a}(?![\w.])(\s+AS\s+[A-Za-z_]\w*)?",
            re.I,
        )
        pieces = []
        last = 0
        for mo in lex(new_tail).finditer(qref):
            x = mo.group(1)
            if x.lower() not in alias_set:
                return None  # some other relation exposes this name — bail
            # must be a complete select-list item: ends at a top-level
            # comma or the FROM keyword, starts after SELECT or a comma
            b = new_tail[: mo.start()].rstrip()
            e = new_tail[mo.end() :].lstrip()
            if not (b.endswith(",") or re.search(r"\bSELECT$", b, re.I)):
                return None
            if not (e.startswith(",") or re.match(r"FROM\b", e, re.I)):
                return None
            alias_tail = mo.group(2) or f" AS {a}"
            pieces.append(new_tail[last : mo.start()])
            pieces.append(f"{dim_alias[(x.lower(), src)]}.{att_col}{alias_tail}")
            last = mo.end()
        pieces.append(new_tail[last:])
        new_tail = "".join(pieces)

    # ---- add one dimension join per (instance, lifted dim) so groups
    # whose key has no dimension row are dropped exactly as the original
    # CTE dropped their input rows ----
    nlx = lex(new_tail)
    # insertion point: first same-depth clause keyword / scope exit after
    # the last instance
    last_inst = max(mm.start() for mm in nlx.at_depth(cte_pat, inst_depth))
    insert_at = nlx.scope_end(last_inst)
    cm = next(nlx.at_depth(_CONSUMER_CLAUSE, inst_depth, last_inst, insert_at), None)
    if cm is not None:
        insert_at = cm.start()
    joins = []
    for x in aliases:
        for s in lifted:
            ja = dim_alias[(x.lower(), s)]
            joins.append(
                f"JOIN {s.table} {ja} ON {ja}.{getattr(s, '_k_self')}"
                f" = {x}.{anchor_out[s]}"
            )
    new_tail = (
        new_tail[:insert_at].rstrip()
        + "\n         "
        + "\n         ".join(joins)
        + "\n    "
        + new_tail[insert_at:]
    )
    return head + new_body + close + new_tail
