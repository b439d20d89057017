"""SQL-form MATCH_RECOGNIZE (reference grammar SqlBase.g4:360
patternRecognition; analysis sql/analyzer/PatternRecognitionAnalysis.java,
planning sql/planner/RelationPlanner.java visitPatternRecognitionRelation).

The dialect has no Spark grammar to lower onto, so the relation

    FROM <table> MATCH_RECOGNIZE (
      PARTITION BY k [, ...]
      ORDER BY ord
      [MEASURES expr AS name [, ...]]
      [ONE ROW PER MATCH | ALL ROWS PER MATCH]
      [AFTER MATCH SKIP PAST LAST ROW | AFTER MATCH SKIP TO NEXT ROW]
      PATTERN ( <row pattern> )
      [SUBSET S = (A, B) [, ...]]
      DEFINE L AS cond [, ...]
    ) [AS alias]

is executed by the DataFrame operator (operators/match_recognize.py — the
same backtracking-VM machine) and registered as a temp view; the outer
query then runs against that view with the relation text spliced out.

MEASURES semantics implemented (reference
operator/window/pattern/MeasureComputation.java):
  - ONE ROW PER MATCH: FINAL semantics. FIRST(x)/LAST(x) -> min_by/max_by
    on the match ordering; CLASSIFIER() -> last row's label;
    MATCH_NUMBER() -> match_id; aggregates (count/sum/min/max/avg/...)
    evaluate over the match's rows; a measure with no aggregate is
    evaluated on the LAST row (unqualified FINAL row-pattern navigation).
  - ALL ROWS PER MATCH: RUNNING semantics (the SQL:2016 default) via
    cumulative windows over (partition, match_id) ordered by the match
    ordering; FINAL <agg>(x) uses the full-match frame. LAST(x) is the
    current row's value (running), FIRST(x) the match's first.

Label- and SUBSET-qualified measure references (FIRST(A.x), LAST(S.x),
count(S.*), agg(S.x), bare S.x) lower to membership-guarded min_by/max_by
and aggregates over CLASSIFIER() under ONE ROW PER MATCH, and to
membership-guarded first/last(ignoreNulls)/aggregate WINDOWS under
ALL ROWS PER MATCH (r4).

PERMUTE, reluctant quantifiers, and {- -} exclusions lower through the
operator's pattern compiler — exclusions via its flag mode, so MEASURES
still aggregate over excluded rows (SQL:2016); under ALL ROWS PER MATCH
the flagged rows are filtered from the output after the measure windows
are computed (r4).

PREV/NEXT inside MEASURES (reference LogicalIndexNavigation) are
physical row offsets over the PARTITION — they may step outside the
match, and step to NULL outside the partition. Under ONE ROW PER MATCH
they lower to a row_number-indexed join against the source partition at
anchor_rn -+ n, with FIRST/LAST (optionally label-qualified) anchors.
Under ALL ROWS PER MATCH (r4) the navigation is a source-level lag/lead
carried through the operator (running LAST anchor = the current row);
FIRST-anchored forms read the carried column at the match's first row.
Label-qualified anchors under ALL ROWS (r5) resolve the RUNNING
first/last member row per output row (running min/max over the member
rows' partition indexes) and join the indexed source at anchor_rn -+ n.

Label-qualified PREV/NEXT inside an aggregate measure under ONE ROW PER
MATCH (r6, the last recorded corner) reuse the same running machinery:
the anchor index is the RUNNING last/first member row per aggregated
row, the indexed-source join reads the navigated value per row, and the
joined column then aggregates per match.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from witdb_spark.plans.dialect import UnsupportedTrinoSyntax, transpile
from witdb_spark.plans.lexer import lex, split


_MR_HEAD = re.compile(
    r"\b([A-Za-z_][A-Za-z0-9_.]*)\s+MATCH_RECOGNIZE\s*\(", re.I
)
_ALIAS = re.compile(r"\s*(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)", re.I)

_AGG_NAMES = (
    "count", "sum", "min", "max", "avg", "min_by", "max_by", "bool_and",
    "bool_or", "stddev", "variance", "collect_list", "array_agg",
)


def has_match_recognize(sql: str) -> bool:
    return re.search(r"\bMATCH_RECOGNIZE\b", sql, flags=re.I) is not None


def _parse_clause(body: str) -> dict:
    """Split the MATCH_RECOGNIZE(...) body into its clauses."""
    spec: dict = {
        "measures": [],
        "rows_per_match": "one",  # SQL default is ONE ROW PER MATCH
        "after_match": "past last row",
    }
    pat = re.compile(
        r"\b(PARTITION\s+BY|ORDER\s+BY|MEASURES|ONE\s+ROW\s+PER\s+MATCH|"
        r"ALL\s+ROWS\s+PER\s+MATCH|AFTER\s+MATCH|PATTERN|SUBSET|DEFINE)\b",
        re.I,
    )
    lx = lex(body)
    marks = [m for m in lx.finditer(pat) if lx.depth(m.start()) == 0]
    for i, m in enumerate(marks):
        kw = " ".join(m.group(1).upper().split())
        seg = body[m.end() : marks[i + 1].start() if i + 1 < len(marks) else len(body)]
        seg = seg.strip()
        if kw == "PARTITION BY":
            spec["partition_by"] = [c.strip() for c in split(seg)]
        elif kw == "ORDER BY":
            keys = split(seg)
            if len(keys) != 1 or re.search(r"\bDESC\b", keys[0], re.I):
                raise UnsupportedTrinoSyntax(
                    "MATCH_RECOGNIZE ORDER BY: exactly one ascending key"
                )
            spec["order_by"] = keys[0].strip()
        elif kw == "MEASURES":
            for item in split(seg):
                mm = re.match(r"^(.*?)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$",
                              item.strip(), re.I | re.S)
                if not mm:
                    raise UnsupportedTrinoSyntax(
                        f"MEASURES entry needs 'expr AS name': {item!r}"
                    )
                spec["measures"].append((mm.group(1).strip(), mm.group(2)))
        elif kw == "ONE ROW PER MATCH":
            spec["rows_per_match"] = "one"
        elif kw == "ALL ROWS PER MATCH":
            spec["rows_per_match"] = "all"
        elif kw == "AFTER MATCH":
            s = " ".join(seg.upper().split())
            if s.startswith("SKIP PAST LAST ROW"):
                spec["after_match"] = "past last row"
            elif s.startswith("SKIP TO NEXT ROW"):
                spec["after_match"] = "to next row"
            else:
                raise UnsupportedTrinoSyntax(f"AFTER MATCH {seg!r}")
        elif kw == "PATTERN":
            seg = seg.strip()
            if not seg.startswith("("):
                raise UnsupportedTrinoSyntax("PATTERN needs parentheses")
            close = lex(seg).close(0)
            spec["pattern"] = seg[1:close].strip()
        elif kw == "SUBSET":
            # SUBSET S = (A, B), T = (C) — union variables (reference
            # Matcher.java / SqlBase.g4 SUBSET clause)
            spec["subset"] = {}
            for item in split(seg):
                sm = re.match(
                    r"^([A-Za-z_][A-Za-z0-9_]*)\s*=\s*\(([^)]*)\)$", item.strip()
                )
                if not sm:
                    raise UnsupportedTrinoSyntax(f"SUBSET entry: {item!r}")
                spec["subset"][sm.group(1)] = [
                    w.strip() for w in sm.group(2).split(",") if w.strip()
                ]
        elif kw == "DEFINE":
            spec["define"] = {}
            for item in split(seg):
                dm = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(.*)$",
                              item.strip(), re.I | re.S)
                if not dm:
                    raise UnsupportedTrinoSyntax(f"DEFINE entry: {item!r}")
                spec["define"][dm.group(1)] = dm.group(2).strip()
    for req in ("partition_by", "order_by", "pattern", "define"):
        if req not in spec:
            raise UnsupportedTrinoSyntax(f"MATCH_RECOGNIZE missing {req}")
    # PERMUTE, reluctant quantifiers, and {- -} exclusions all lower
    # through the operator's own pattern compiler — exclusions use its
    # flag mode so MEASURES still see excluded rows (SQL:2016); under
    # ALL ROWS PER MATCH the flagged rows are filtered from the OUTPUT
    # after the measure windows are computed.
    return spec


def _check_measure(expr: str) -> None:
    # navigation calls were extracted to placeholders before this check
    # for both row modes; a PREV/NEXT surviving here means a form the
    # extractor could not parse
    if re.search(r"\b(PREV|NEXT)\s*\(", expr, re.I):
        raise UnsupportedTrinoSyntax(
            f"unparseable PREV/NEXT navigation in measure {expr!r}"
        )


def _member_sql(members: list[str]) -> str:
    if len(members) == 1:
        return f"classifier = '{members[0]}'"
    return "classifier IN (" + ", ".join(f"'{m}'" for m in members) + ")"


def _qualify_labels(e: str, labsets: dict, ord_col: str) -> str:
    """Lower label- and SUBSET-qualified measure references (reference
    Matcher.java label resolution; SUBSET = union variable): the rows of
    label set L are the match rows whose CLASSIFIER() is a member, so
    FIRST/LAST(L.x) become min_by/max_by over membership-guarded values
    and aggregates become membership-guarded aggregates. FINAL one-row
    semantics only (_check_measure gates the ALL ROWS path)."""
    for name, members in labsets.items():
        mem = _member_sql(members)

        def guard(x: str) -> str:
            return f"CASE WHEN {mem} THEN {x} END"

        e = re.sub(
            rf"\bFIRST\s*\(\s*{name}\.([A-Za-z_][A-Za-z0-9_]*)\s*\)",
            lambda m: f"min_by({guard(m.group(1))}, {guard(ord_col)})",
            e,
            flags=re.I,
        )
        e = re.sub(
            rf"\bLAST\s*\(\s*{name}\.([A-Za-z_][A-Za-z0-9_]*)\s*\)",
            lambda m: f"max_by({guard(m.group(1))}, {guard(ord_col)})",
            e,
            flags=re.I,
        )
        e = re.sub(
            rf"\bcount\s*\(\s*{name}\.\*\s*\)",
            f"count({guard('1')})",
            e,
            flags=re.I,
        )
        e = re.sub(
            rf"\b({'|'.join(_AGG_NAMES)})\s*\(\s*{name}\.([A-Za-z_][A-Za-z0-9_]*)\s*\)",
            lambda m: f"{m.group(1)}({guard(m.group(2))})",
            e,
            flags=re.I,
        )
        # bare L.col -> FINAL LAST of the label's rows
        e = re.sub(
            rf"\b{name}\.([A-Za-z_][A-Za-z0-9_]*)",
            lambda m: f"max_by({guard(m.group(1))}, {guard(ord_col)})",
            e,
            flags=re.I,
        )
    return e


def _wrap_bare_columns(e: str, ord_col: str, data_cols) -> str:
    """Wrap bare data-column references with FINAL last-row semantics
    (max_by over the match ordering) so a measure mixing navigation and
    plain references — ``price - FIRST(price)`` — aggregates cleanly.
    Call spans of FIRST/LAST/CLASSIFIER/MATCH_NUMBER and aggregates are
    masked first: references INSIDE them keep their own semantics."""
    masked = e
    placeholders: list[str] = []
    callee = re.compile(
        r"\b(?:FIRST|LAST|CLASSIFIER|MATCH_NUMBER|"
        + "|".join(_AGG_NAMES)
        + r")\s*\(",
        re.I,
    )
    while True:
        m = callee.search(masked)
        if m is None:
            break
        close = lex(masked).close(masked.index("(", m.start()))
        placeholders.append(masked[m.start() : close + 1])
        masked = (
            masked[: m.start()]
            + f"\x00{len(placeholders) - 1}\x01"
            + masked[close + 1 :]
        )
    cols = [c for c in data_cols if re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", c)]
    if cols:
        pat = re.compile(
            r"(?<![\w.`])(" + "|".join(map(re.escape, cols)) + r")\b(?!\s*\()"
        )
        masked = pat.sub(rf"max_by(\1, {ord_col})", masked)
    for k, text in enumerate(placeholders):
        masked = masked.replace(f"\x00{k}\x01", text)
    return masked


def _measure_one_row(
    expr: str,
    ord_col: str,
    labsets: dict | None = None,
    data_cols=(),
) -> str:
    """FINAL-semantics aggregate expression for ONE ROW PER MATCH."""
    e = transpile(expr)
    # Explicit FINAL/RUNNING prefixes are no-ops under ONE ROW PER MATCH:
    # measures evaluate at the match's final state, where RUNNING == FINAL
    # (SQL:2016; reference MeasureComputation FINAL default). Only strip
    # the keyword when it actually prefixes a measure call — a column
    # named `running`/`final` must survive.
    e = re.sub(
        r"\b(FINAL|RUNNING)\s+(?=(?:FIRST|LAST|"
        + "|".join(_AGG_NAMES)
        + r")\s*\(|__nav_)",
        "",
        e,
        flags=re.I,
    )
    if labsets:
        e = _qualify_labels(e, labsets, ord_col)
    if data_cols and re.search(
        r"\b(FIRST|LAST|CLASSIFIER|MATCH_NUMBER|"
        + "|".join(_AGG_NAMES)
        + r")\s*\(",
        e,
        re.I,
    ):
        # the expression will contain aggregates after lowering: bare
        # references would be ungrouped columns (AnalysisException)
        e = _wrap_bare_columns(e, ord_col, data_cols)
    e = re.sub(r"\bFIRST\s*\(([^()]*)\)", rf"min_by(\1, {ord_col})", e, flags=re.I)
    e = re.sub(r"\bLAST\s*\(([^()]*)\)", rf"max_by(\1, {ord_col})", e, flags=re.I)
    e = re.sub(r"\bCLASSIFIER\s*\(\s*\)", f"max_by(classifier, {ord_col})", e, flags=re.I)
    e = re.sub(r"\bMATCH_NUMBER\s*\(\s*\)", "first(match_id)", e, flags=re.I)
    if not re.search(r"\b(" + "|".join(_AGG_NAMES) + r")\s*\(", e, re.I):
        # no aggregate anywhere: unqualified FINAL -> value on the last row
        e = f"max_by({e}, {ord_col})"
    return e


def _mr_frames(pk: list[str], ord_col: str) -> tuple[str, str]:
    """(running, full) OVER-frame strings over (partition, match_id) —
    the single definition both the measure lowering and the nav-column
    wrapping use."""
    part = ", ".join([*pk, "match_id"])
    run = (
        f" OVER (PARTITION BY {part} ORDER BY {ord_col}"
        f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    full = (
        f" OVER (PARTITION BY {part} ORDER BY {ord_col}"
        f" ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    )
    return run, full


def _measure_all_rows(
    expr: str, pk: list[str], ord_col: str, labsets: dict | None = None
) -> str:
    """RUNNING-semantics (default) window expression for ALL ROWS PER
    MATCH; FINAL agg(...) / FINAL FIRST/LAST switch to the whole-match
    frame. Label- and SUBSET-qualified references lower to membership-
    guarded window functions; positional first/last wrap the value in a
    struct before the ignoreNulls skip, so a member row whose VALUE is
    NULL is still the navigated row (ignoreNulls must only skip
    NON-MEMBER rows). Emitted spans are masked so the generic
    FIRST/LAST/agg passes below cannot double-wrap them."""
    e = transpile(expr)
    run, full = _mr_frames(pk, ord_col)
    masked_spans: list[str] = []

    def mask(s: str) -> str:
        masked_spans.append(s)
        return f"\x00{len(masked_spans) - 1}\x01"

    if labsets:
        for name, members in labsets.items():
            mem = _member_sql(members)

            def guard(x: str) -> str:
                return f"CASE WHEN {mem} THEN {x} END"

            def nav(fn: str, col: str, frame: str) -> str:
                # struct-wrap: the CASE is NULL only on non-member rows,
                # so ignoreNulls navigates by POSITION and the member
                # row's own NULL value survives as .v
                return (
                    f"({fn}({guard(f'struct({col} AS v)')}, true)"
                    f"{frame}).v"
                )

            e = re.sub(
                rf"\b(FINAL\s+)?FIRST\s*\(\s*{name}\."
                rf"([A-Za-z_][A-Za-z0-9_]*)\s*\)",
                lambda m: mask(
                    nav("first", m.group(2), full if m.group(1) else run)
                ),
                e,
                flags=re.I,
            )
            e = re.sub(
                rf"\b(FINAL\s+)?LAST\s*\(\s*{name}\."
                rf"([A-Za-z_][A-Za-z0-9_]*)\s*\)",
                lambda m: mask(
                    nav("last", m.group(2), full if m.group(1) else run)
                ),
                e,
                flags=re.I,
            )
            e = re.sub(
                rf"\b(FINAL\s+)?count\s*\(\s*{name}\.\*\s*\)",
                lambda m: mask(
                    f"count({guard('1')})"
                    + (full if m.group(1) else run)
                ),
                e,
                flags=re.I,
            )
            e = re.sub(
                rf"\b(FINAL\s+)?({'|'.join(_AGG_NAMES)})\s*\(\s*{name}"
                rf"\.([A-Za-z_][A-Za-z0-9_]*)\s*\)",
                lambda m: mask(
                    f"{m.group(2)}({guard(m.group(3))})"
                    + (full if m.group(1) else run)
                ),
                e,
                flags=re.I,
            )
            # bare L.col -> RUNNING LAST of the label's rows
            e = re.sub(
                rf"\b{name}\.([A-Za-z_][A-Za-z0-9_]*)",
                lambda m: mask(nav("last", m.group(1), run)),
                e,
                flags=re.I,
            )
    # FINAL FIRST/LAST (unqualified): whole-match frame (SQL:2016 FINAL
    # semantics — FIRST is frame-invariant but emitted on the full frame
    # for symmetry; FINAL LAST is the match's last row, not the current)
    e = re.sub(
        r"\bFINAL\s+FIRST\s*\(([^()]*)\)",
        lambda m: mask(f"first({m.group(1)}){full}"),
        e,
        flags=re.I,
    )
    e = re.sub(
        r"\bFINAL\s+LAST\s*\(([^()]*)\)",
        lambda m: mask(f"last({m.group(1)}){full}"),
        e,
        flags=re.I,
    )
    e = re.sub(r"\bFIRST\s*\(([^()]*)\)", rf"first(\1){run}", e, flags=re.I)
    e = re.sub(r"\bLAST\s*\(([^()]*)\)", r"(\1)", e, flags=re.I)  # running last = current row
    e = re.sub(r"\bCLASSIFIER\s*\(\s*\)", "classifier", e, flags=re.I)
    e = re.sub(r"\bMATCH_NUMBER\s*\(\s*\)", "match_id", e, flags=re.I)

    def frame(m):
        final = bool(m.group(1))
        name, args = m.group(2), m.group(3)
        return f"{name}({args}){full if final else run}"

    e = re.sub(
        r"\b(FINAL\s+)?(" + "|".join(_AGG_NAMES) + r")\s*\(([^()]*)\)",
        frame,
        e,
        flags=re.I,
    )
    e = re.sub(r"\bRUNNING\s+", "", e, flags=re.I)
    for k, span in enumerate(masked_spans):
        e = e.replace(f"\x00{k}\x01", span)
    return e


_NAV_CALL = re.compile(r"\b(PREV|NEXT)\s*\(", re.I)


def _extract_navs(measures):
    """Pull PREV/NEXT navigation out of measure expressions (reference
    LogicalIndexNavigation: physical row offsets over the PARTITION, so
    they may step outside the match; outside the partition -> NULL).
    Supported forms, FINAL semantics: PREV|NEXT(expr[, n]) and
    PREV|NEXT(FIRST|LAST(expr)[, n]) — a bare expr anchors at LAST (the
    FINAL default). Each call is replaced by a placeholder column that
    _lower materializes by joining the row-number-indexed source
    partition at anchor_rn -+ n."""
    navs = []  # (PREV|NEXT, FIRST|LAST, inner_expr, n, placeholder, explicit)
    out = []
    for expr, name in measures:
        while True:
            m = _NAV_CALL.search(expr)
            if m is None:
                break
            open_idx = expr.index("(", m.start())
            close = lex(expr).close(open_idx)
            parts = split(expr[open_idx + 1 : close])
            inner = parts[0].strip()
            n = 1
            if len(parts) > 1:
                if not re.fullmatch(r"\d+", parts[1].strip()):
                    raise UnsupportedTrinoSyntax(
                        f"PREV/NEXT offset must be a literal: {parts[1]!r}"
                    )
                n = int(parts[1])
            am = re.fullmatch(
                r"(FIRST|LAST)\s*\((.*)\)", inner, re.I | re.S
            )
            if am:
                anchor, ie, explicit = am.group(1).upper(), am.group(2).strip(), True
            else:
                anchor, ie, explicit = "LAST", inner, False
            ph = f"__nav_{len(navs)}"
            navs.append((m.group(1).upper(), anchor, ie, n, ph, explicit))
            expr = expr[: m.start()] + ph + expr[close + 1 :]
        out.append((expr, name))
    return out, navs


def _ph_inside_agg(measures, ph: str) -> bool:
    """True if placeholder `ph` occurs inside any aggregate call span of
    any measure expression (after nav extraction)."""
    agg_call = re.compile(r"\b(?:" + "|".join(_AGG_NAMES) + r")\s*\(", re.I)
    for expr, _name in measures:
        for m in agg_call.finditer(expr):
            close = lex(expr).close(expr.index("(", m.start()))
            if re.search(rf"\b{ph}\b", expr[m.start() : close + 1]):
                return True
    return False


_VIEW_SEQ = [0]


def rewrite_match_recognize(spark: SparkSession, sql: str) -> str:
    """Replace every `<table> MATCH_RECOGNIZE (...) [AS alias]` relation in
    `sql` with a computed temp view; returns the rewritten query text."""
    while True:
        lx = lex(sql)
        m = lx.search(_MR_HEAD)
        if m is None:
            return sql
        table = m.group(1)
        open_idx = m.end() - 1
        close_idx = lx.close(open_idx)
        spec = _parse_clause(sql[open_idx + 1 : close_idx])
        am = _ALIAS.match(sql, close_idx + 1)
        alias = None
        if am and am.group(1).upper() not in (
            "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "JOIN", "ON",
            "UNION", "INTERSECT", "EXCEPT", "CROSS", "LEFT", "RIGHT",
            "INNER", "FULL", "FETCH", "OFFSET",
        ):
            alias = am.group(1)
        view = _lower(spark, table, spec)
        end = am.end() if alias else close_idx + 1
        rel = view if alias is None else f"{view} AS {alias}"
        sql = sql[: m.start(1)] + rel + sql[end:]


def _lower(spark: SparkSession, table: str, spec: dict) -> str:
    from pyspark.sql import functions as F

    from witdb_spark.operators.match_recognize import match_recognize

    labels = list(spec["define"])
    pattern_ids = [
        t for t in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", spec["pattern"])
        if t.upper() != "PERMUTE"
    ]
    all_labels = list(dict.fromkeys([*labels, *pattern_ids]))
    labsets = {lab: [lab] for lab in all_labels}
    for sname, members in spec.get("subset", {}).items():
        bad = [m for m in members if m not in all_labels]
        if bad:
            raise UnsupportedTrinoSyntax(
                f"SUBSET {sname}: {bad} are not pattern variables"
            )
        labsets[sname] = members
    measures, navs = _extract_navs(spec["measures"])
    # SQL:2016 9.x / reference MeasureComputation.java: a navigation call
    # INSIDE an aggregate argument under ONE ROW PER MATCH evaluates
    # per-row (each match row navigates from itself), not once per match.
    # Implicit-anchor navs in aggregate position therefore lower as
    # source-level lag/lead columns carried through the operator (same
    # mechanism as the ALL ROWS path); explicit FIRST/LAST anchors stay
    # per-match constants (that is their defined meaning).
    per_row_navs: set[str] = set()
    label_navs_one: set[str] = set()
    if spec["rows_per_match"] == "one":
        for kind, anchor, ie, n, ph, explicit in navs:
            if not _ph_inside_agg(measures, ph):
                continue
            if explicit:
                continue  # PREV(LAST(x)) et al: per-match constant by spec
            lm = re.fullmatch(
                r"([A-Za-z_][A-Za-z0-9_]*)\.[A-Za-z_][A-Za-z0-9_]*", ie
            )
            if lm and lm.group(1) in labsets:
                # r6 closes the last recorded corner: PREV(A.x) inside an
                # aggregate navigates per aggregated row from the RUNNING
                # last row classified A as of that row (reference
                # LogicalIndexNavigation.java) — the r5 ALL-ROWS
                # machinery (running per-label anchor index + indexed-
                # source join) resolved after the operator, then the
                # joined column aggregates per match.
                label_navs_one.add(ph)
            else:
                per_row_navs.add(ph)
    # Label-qualified navs under ALL ROWS (r5 — reference
    # LogicalIndexNavigation.java): the anchor is the RUNNING first/last
    # row classified with the label, so the anchor position is per-row
    # classifier state. Resolved AFTER the operator: a running min/max
    # over the member rows' partition indexes gives each output row its
    # anchor_rn, and a join against the row-number-indexed source at
    # anchor_rn -+ n reads the physically navigated value.
    label_navs_all: set[str] = set()
    if spec["rows_per_match"] == "all":
        for kind, anchor, ie, n, ph, explicit in navs:
            lm = re.fullmatch(
                r"([A-Za-z_][A-Za-z0-9_]*)\.[A-Za-z_][A-Za-z0-9_]*", ie
            )
            if lm and lm.group(1) in labsets:
                # dotted refs whose prefix is NOT a pattern variable
                # (struct fields) lower fine through lag/lead
                label_navs_all.add(ph)
    for expr, _ in measures:
        _check_measure(expr)
    define = {k: transpile(v) for k, v in spec["define"].items()}
    src = spark.table(table)
    src_rn = None
    if navs and spec["rows_per_match"] == "all":
        # RUNNING navigation: PREV/NEXT step physically over the
        # partition from the anchor row. LAST-anchored (the running
        # default: the current row) is a source-level lag/lead carried
        # through the operator; FIRST-anchored wraps it with the match's
        # first value in _measure_all_rows' masked form.
        from pyspark.sql import Window

        # PARTITION BY is a mandatory clause of the SQL form
        # (_parse_clause), so no global-sequence fallback exists here
        w = Window.partitionBy(*spec["partition_by"]).orderBy(
            spec["order_by"]
        )
        for kind, anchor, ie, n, ph, explicit in navs:
            if ph in label_navs_all:
                continue  # resolved post-operator against the indexed source
            step = F.lag if kind == "PREV" else F.lead
            src = src.withColumn(
                ph, step(F.expr(transpile(ie)), n).over(w)
            )
        if label_navs_all:
            src_rn = src.withColumn("__rn", F.row_number().over(w))
            src = src_rn
    if per_row_navs:
        # per-row navigation (nav inside aggregate, ONE ROW): physical
        # lag/lead over the partition, attached to the source so each
        # match row carries its own navigated value into the aggregate
        from pyspark.sql import Window

        w = Window.partitionBy(*spec["partition_by"]).orderBy(
            spec["order_by"]
        )
        for kind, anchor, ie, n, ph, explicit in navs:
            if ph not in per_row_navs:
                continue
            step = F.lag if kind == "PREV" else F.lead
            src = src.withColumn(
                ph, step(F.expr(transpile(ie)), n).over(w)
            )
    if navs and spec["rows_per_match"] == "one":
        # physical navigation needs each row's partition position. Attach
        # it BEFORE the operator (matched rows carry it through), never
        # by joining back on the ORDER BY value — duplicate order keys
        # would fan matched rows out and silently double-count the other
        # aggregate measures.
        from pyspark.sql import Window

        w = Window.partitionBy(*spec["partition_by"]).orderBy(
            spec["order_by"]
        )
        src_rn = src.withColumn("__rn", F.row_number().over(w))
        src = src_rn
    matched = match_recognize(
        src,
        partition_by=spec["partition_by"],
        order_by=spec["order_by"],
        define=define,
        pattern=spec["pattern"],
        after_match=spec["after_match"],
        rows_per_match="all",  # measures need the full match either way
        # measures must see {- -} rows too; ONE ROW output is unaffected
        exclusion_mode="flag",
    )
    pk, ord_col = spec["partition_by"], spec["order_by"]
    if spec["rows_per_match"] == "one":
        nav_cols = []
        if navs:
            from pyspark.sql import Window

            mw = Window.partitionBy(*pk, "match_id")
            # running window for label-qualified navs inside aggregates:
            # the anchor is per aggregated row, not per match
            rw = (
                Window.partitionBy(*pk, "match_id")
                .orderBy(ord_col)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            for kind, anchor, ie, n, ph, explicit in navs:
                if ph in per_row_navs:
                    nav_cols.append(ph)  # already a per-row source column
                    continue
                # label-qualified inner (PREV(LAST(A.price))): the anchor
                # is the last/first row CLASSIFIED A; the stepped-to row's
                # value is read unqualified (physical navigation)
                lm = re.fullmatch(
                    r"([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)",
                    ie,
                )
                if lm and lm.group(1) in labsets:
                    members = labsets[lm.group(1)]
                    ie = lm.group(2)
                    rn_src = F.when(
                        F.col("classifier").isin(*members), F.col("__rn")
                    )
                else:
                    rn_src = F.col("__rn")
                win = rw if ph in label_navs_one else mw
                anchor_rn = (
                    F.max(rn_src).over(win)
                    if anchor == "LAST"
                    else F.min(rn_src).over(win)
                )
                delta = -n if kind == "PREV" else n
                matched = matched.withColumn(
                    f"{ph}_t", anchor_rn + F.lit(delta)
                )
                tgt = src_rn.select(
                    *pk,
                    F.col("__rn").alias(f"{ph}_t"),
                    F.expr(transpile(ie)).alias(ph),
                )
                matched = matched.join(
                    tgt, [*pk, f"{ph}_t"], "left"
                ).drop(f"{ph}_t")
                nav_cols.append(ph)
        aggs = [
            F.expr(
                _measure_one_row(
                    e,
                    ord_col,
                    labsets,
                    [*spark.table(table).columns, *nav_cols],
                )
            ).alias(name)
            for e, name in measures
        ]
        out = matched.groupBy(*pk, "match_id").agg(*aggs).drop("match_id")
    else:
        out = matched
        run, _full = _mr_frames(pk, ord_col)
        nav_phs = [nav[4] for nav in navs]  # placeholder column names
        if label_navs_all:
            from pyspark.sql import Window

            rw = (
                Window.partitionBy(*pk, "match_id")
                .orderBy(ord_col)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            for kind, anchor, ie, n, ph, explicit in navs:
                if ph not in label_navs_all:
                    continue
                lm = re.fullmatch(
                    r"([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)",
                    ie,
                )
                members = labsets[lm.group(1)]
                col = lm.group(2)
                member_rn = F.when(
                    F.col("classifier").isin(*members), F.col("__rn")
                )
                # RUNNING semantics: LAST anchor = latest member row so
                # far (running max), FIRST anchor = earliest (running min
                # — constant once the first member row is seen)
                anchor_rn = (
                    F.max(member_rn).over(rw)
                    if anchor == "LAST"
                    else F.min(member_rn).over(rw)
                )
                delta = -n if kind == "PREV" else n
                out = out.withColumn(f"{ph}_t", anchor_rn + F.lit(delta))
                tgt = src_rn.select(
                    *pk,
                    F.col("__rn").alias(f"{ph}_t"),
                    F.expr(transpile(col)).alias(ph),
                )
                out = out.join(tgt, [*pk, f"{ph}_t"], "left").drop(
                    f"{ph}_t"
                )
        for e, name in measures:
            lowered = _measure_all_rows(e, pk, ord_col, labsets)
            # FIRST-anchored navigation: the carried lag/lead column is
            # read at the match's first row (substituted AFTER the
            # generic passes so they can't re-wrap the window).
            # Label-qualified navs are already per-row values — skip.
            for kind, anchor, ie, n, ph, explicit in navs:
                if anchor == "FIRST" and ph not in label_navs_all:
                    lowered = re.sub(
                        rf"\b{ph}\b", f"first({ph}){run}", lowered
                    )
            out = out.withColumn(name, F.expr(lowered))
        out = out.drop(*nav_phs)
        if label_navs_all:
            out = out.drop("__rn")
        # SQL:2016: {- -}-excluded rows feed the measures but are
        # removed from the ALL ROWS output
        out = out.where(~F.col("excluded")).drop("excluded")
    _VIEW_SEQ[0] += 1
    view = f"__mr_rel_{_VIEW_SEQ[0]}"
    out.createOrReplaceTempView(view)
    return view


_PATTERN_WINDOW = re.compile(
    r"\bWINDOW\s+([A-Za-z_][A-Za-z0-9_]*)\s+AS\s*\(", re.I
)


def has_pattern_window(sql: str) -> bool:
    """True if the query has a WINDOW clause whose body contains a row
    pattern (reference SqlBase.g4 windowFrame: MEASURES/PATTERN/DEFINE
    inside a window specification)."""
    lx = lex(sql)
    for m in lx.finditer(_PATTERN_WINDOW):
        close = lx.close(m.end() - 1)
        if re.search(r"\bPATTERN\s*\(", sql[m.end() : close], re.I):
            return True
    return False


def rewrite_pattern_windows(spark: SparkSession, sql: str) -> str:
    """Row-pattern recognition in WINDOW structures (reference
    SqlBase.g4 windowFrame MEASURES/PATTERN/DEFINE; analysis
    WindowOperator + pattern packages; SQL:2016 window row-pattern):

        SELECT k, m OVER w FROM t
        WINDOW w AS (PARTITION BY k ORDER BY o
                     MEASURES ... AS m
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                     [AFTER MATCH SKIP ...] [INITIAL]
                     PATTERN (...) [SUBSET ...] DEFINE ...)

    Semantics: every non-skipped row is a match ATTEMPT starting at that
    row (INITIAL mode) within the CURRENT ROW .. UNBOUNDED FOLLOWING
    frame; measures evaluate with FINAL semantics over the completed
    match, and rows that start no match (or are skipped over by AFTER
    MATCH SKIP PAST LAST ROW) read NULL. Lowering: the table operator
    runs with the clause's AFTER MATCH mode, ONE-ROW measures aggregate
    per match keyed by the match's FIRST row, and a left join hangs the
    measure columns on the source rows. Out of scope, loud: SEEK mode,
    other frame extents, PREV/NEXT navigation inside window measures,
    non-measure `x OVER w` references, and multi-relation FROM."""
    from pyspark.sql import functions as F

    from witdb_spark.operators.match_recognize import match_recognize

    while True:
        lx = lex(sql)
        m = next(
            (
                c
                for c in lx.finditer(_PATTERN_WINDOW)
                if re.search(
                    r"\bPATTERN\s*\(", sql[c.end() : lx.close(c.end() - 1)], re.I
                )
            ),
            None,
        )
        if m is None:
            return sql
        wname = m.group(1)
        open_idx = m.end() - 1
        close_idx = lx.close(open_idx)
        body = sql[open_idx + 1 : close_idx]
        # frame extent: Trino requires CURRENT ROW .. UNBOUNDED FOLLOWING
        # for pattern windows; strip it (and INITIAL) before clause parse
        if re.search(r"\bSEEK\b", body, re.I):
            raise UnsupportedTrinoSyntax(
                "pattern window SEEK mode (INITIAL only)"
            )
        fr = re.search(
            r"\b(ROWS|RANGE|GROUPS)\s+BETWEEN\s+(.*?)\s+AND\s+(.*?)(?=\s*(?:AFTER|INITIAL|PATTERN|SUBSET|DEFINE|MEASURES|$))",
            body,
            re.I | re.S,
        )
        if fr is not None:
            ext = " ".join(
                (fr.group(1) + " " + fr.group(2) + " " + fr.group(3))
                .upper()
                .split()
            )
            if ext != "ROWS CURRENT ROW UNBOUNDED FOLLOWING":
                raise UnsupportedTrinoSyntax(
                    "pattern window frame must be ROWS BETWEEN CURRENT ROW"
                    f" AND UNBOUNDED FOLLOWING, got {ext!r}"
                )
            body = body[: fr.start()] + body[fr.end() :]
        body = re.sub(r"\bINITIAL\b", "", body, flags=re.I)
        spec = _parse_clause(body)
        # FROM relation: single table only
        fm = next(
            (
                c
                for c in lx.finditer(r"\bFROM\s+([A-Za-z_][A-Za-z0-9_.]*)")
                if lx.depth(c.start()) == 0
            ),
            None,
        )
        if fm is None:
            raise UnsupportedTrinoSyntax(
                "pattern window: could not locate a single-table FROM"
            )
        table = fm.group(1)
        after = sql[fm.end() : fm.end() + 80]
        if re.match(r"\s*(,|JOIN|LEFT|RIGHT|FULL|CROSS|INNER)\b", after, re.I):
            raise UnsupportedTrinoSyntax(
                "pattern window over a multi-relation FROM"
            )
        labels = list(spec["define"])
        pattern_ids = [
            t
            for t in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", spec["pattern"])
            if t.upper() != "PERMUTE"
        ]
        all_labels = list(dict.fromkeys([*labels, *pattern_ids]))
        labsets = {lab: [lab] for lab in all_labels}
        for sname, members in spec.get("subset", {}).items():
            labsets[sname] = members
        measures, navs = _extract_navs(spec["measures"])
        if navs:
            raise UnsupportedTrinoSyntax(
                "PREV/NEXT navigation inside pattern-WINDOW measures"
            )
        for expr, _ in measures:
            _check_measure(expr)
        if not measures:
            raise UnsupportedTrinoSyntax(
                "pattern window without MEASURES has nothing to project"
            )
        define = {k: transpile(v) for k, v in spec["define"].items()}
        src = spark.table(table)
        mnames = [name for _, name in measures]
        clash = set(mnames) & set(src.columns)
        if clash:
            raise UnsupportedTrinoSyntax(
                f"pattern window measure names collide with columns: {clash}"
            )
        matched = match_recognize(
            src,
            partition_by=spec["partition_by"],
            order_by=spec["order_by"],
            define=define,
            pattern=spec["pattern"],
            after_match=spec["after_match"],
            rows_per_match="all",
            exclusion_mode="flag",
        )
        pk, ord_col = spec["partition_by"], spec["order_by"]
        aggs = [
            F.expr(
                _measure_one_row(e, ord_col, labsets, list(src.columns))
            ).alias(name)
            for e, name in measures
        ]
        meas = (
            matched.groupBy(*pk, "match_id")
            .agg(F.min(ord_col).alias("__start_ord"), *aggs)
            .drop("match_id")
        )
        cond = src[ord_col] == meas["__start_ord"]
        for k in pk:
            cond = cond & (src[k] == meas[k])
        out = src.join(meas, cond, "left").drop(meas["__start_ord"])
        for k in pk:
            out = out.drop(meas[k])
        _VIEW_SEQ[0] += 1
        view = f"__mr_win_{_VIEW_SEQ[0]}"
        out.createOrReplaceTempView(view)
        # splice: drop the WINDOW clause, retarget FROM, inline measures
        head = sql[: m.start()]
        tail = sql[close_idx + 1 :]
        # the WINDOW keyword may be preceded by a comma-separated window
        # list — only the single-definition form is supported
        tail = re.sub(r"^\s*,", "", tail)
        sql = head + tail
        sql = re.sub(
            rf"\bFROM\s+{re.escape(table)}\b", f"FROM {view}", sql, count=1,
            flags=re.I,
        )
        for name in mnames:
            sql = re.sub(
                rf"\b{name}\s+OVER\s+{wname}\b", name, sql, flags=re.I
            )
        if re.search(rf"\bOVER\s+{wname}\b", sql, re.I):
            raise UnsupportedTrinoSyntax(
                f"non-measure reference OVER {wname} (only MEASURES of a"
                " pattern window can be read)"
            )
