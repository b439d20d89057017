"""Trino -> Spark SQL dialect rewrites.

The reference parses SQL with an ANTLR grammar
(reference core/trino-parser/.../SqlBase.g4, 1233 lines); we do NOT rebuild a
parser — Spark SQL's grammar already covers the overwhelming majority of the
dialect (joins, set ops, grouping sets, windows, lateral, filter-clause,
intervals, quantified subqueries). What remains are surface differences,
handled here as textual rewrites over ONE lexical model of the text:
plans/lexer.py owns every quoting and nesting rule (string literals with
'' escapes, -- and /* */ comments, "quoted identifiers", matching
()/[] pairs, paren depth, top-level comma splits). No pass here scans
characters itself — each asks the lexer for code-only matches, a
matching close, a depth or a split, so a string literal or a comment
never looks like SQL to any of them. A text is lexed once per version:
a pass re-lexes only after it splices new text in.

  - ARRAY[...] literals          -> array(...)
  - "quoted identifiers"         -> `backticked`
  - expr[i] subscripts           -> element_at(expr, i)   (Trino arrays are
    1-based and maps subscript by key — element_at implements exactly both)
  - INTERVAL '3' DAY             -> INTERVAL 3 DAY
  - 3-arg date_add/date_diff     -> trino_date_add/_diff macros
  - date_format(x, '%...')       -> mysql_date_format macro
  - from_unixtime / approx_distinct / arbitrary renames
  - FETCH FIRST n ROWS ONLY      -> LIMIT n
  - FETCH FIRST n ROWS WITH TIES -> rank() window rewrite (_rewrite_fetch_ties)
  - x op ANY/SOME/ALL (subquery) -> IN / NOT IN / NULL-aware min-max CASE
    (_rewrite_quantified)
  - CAST(x AS JSON)              -> CAST(x AS STRING)  (json models as string)
  - ROW(a, b)                    -> struct(a, b)
  - x AT TIME ZONE 'z'           -> at_timezone(x, 'z')
  - numeric_histogram(n, v)      -> histogram_numeric(v, n)  (args swapped)

TRY(expr) decomposes into Spark's try_* functions for casts, arithmetic,
and element_at (_rewrite_try); non-decomposable bodies fail fast rather
than silently changing semantics.
Function-name coverage itself comes from functions.register_all() macros.
"""

from __future__ import annotations

import re
from functools import lru_cache

from witdb_spark.plans.lexer import UnsupportedTrinoSyntax, is_comment, lex, split


def _rewrite_segment(seg: str) -> str:
    """Apply rewrites to a segment that contains no string literals."""
    # "ident" -> `ident`
    seg = re.sub(r'"([A-Za-z_][A-Za-z0-9_ ]*)"', r"`\1`", seg)
    # FETCH FIRST n ROWS ONLY -> LIMIT n
    seg = re.sub(
        r"\bFETCH\s+FIRST\s+(\d+)\s+ROWS?\s+ONLY\b", r"LIMIT \1", seg, flags=re.I
    )
    # renames
    # Trino MAP(keys_array, values_array) constructor -> map_from_arrays
    # (Spark's map() takes interleaved k1,v1,... — different function);
    # bare MAP() stays the empty-map constructor (negative lookahead keeps
    # the second rule off the already-rewritten empty form).
    # CAST(x AS MAP(K,V)) type syntax was already translated to MAP<K,V> by
    # _rewrite_cast_types (which runs before this pass), so the constructor
    # rule can't mangle it.
    # TIME-typed session clocks (reference StandardTypes TIME / TIME WITH
    # TIME ZONE): nanos-of-day of now() in the session zone. The negative
    # lookahead keeps CURRENT_TIMESTAMP intact.
    seg = re.sub(
        r"\b(?:LOCALTIME|CURRENT_TIME)\b(?!STAMP)",
        "time_of_day(now())",
        seg,
        flags=re.I,
    )
    # ROW(a, b) constructor (reference grammar rowConstructor) -> struct();
    # the *type* ROW(...) inside CASTs never reaches this pass
    # (_rewrite_cast_types translated it to STRUCT<> already), and bare
    # ROW/ROWS keywords (frames, ONE ROW PER MATCH) have no '(' after.
    seg = re.sub(r"\bROW\s*\(", "struct(", seg, flags=re.I)
    seg = re.sub(r"\bMAP\s*\(\s*\)", "map()", seg, flags=re.I)
    seg = re.sub(r"\bMAP\s*\((?!\s*\))", "map_from_arrays(", seg, flags=re.I)
    # time travel (reference SqlBase.g4:800 queryPeriod): Trino's
    # `FOR TIMESTAMP|VERSION AS OF` -> Spark's `TIMESTAMP|VERSION AS OF`
    # (DSv2 time-travel syntax; actually reading a snapshot needs a
    # time-travel-capable table, sources/lakehouse.py)
    seg = re.sub(
        r"\bFOR\s+(TIMESTAMP|VERSION)\s+AS\s+OF\b", r"\1 AS OF", seg, flags=re.I
    )
    # function-name renames, one pass (_CALL_RENAMES)
    return _CALL_RENAME.sub(
        lambda m: _CALL_RENAMES[m.group(1).lower()] + "(", seg
    )


def _call_renames() -> dict[str, str]:
    """Trino -> Spark function-name renames, applied to ``name(`` calls.

    The passthrough table's entries whose spellings differ: SQL macros
    cannot cover generic/lambda signatures, so these are textual —
    previously the table was API-documentation only and SQL-path calls
    to e.g. starts_with/levenshtein_distance/zip failed to resolve (or,
    worse, repeat() bound to Spark's STRING repeat instead of
    array_repeat). Then the lambda-predicate matchers (reference
    ArrayAllMatchFunction etc.: SQL macros can't take lambdas, so these
    are pure renames onto Spark's higher-order builtins; none_match
    wraps in transpile) and the aggregate renames (reference
    BitwiseAndAggregation.java etc.). No target is itself a source
    name, so one pass equals applying them one by one."""
    from witdb_spark.functions.registry import PASSTHROUGH

    out = {t.lower(): sp for t, sp in PASSTHROUGH.items() if t != sp}
    out.update(
        all_match="forall",
        any_match="exists",
        bitwise_and_agg="bit_and",
        bitwise_or_agg="bit_or",
        from_unixtime="timestamp_seconds",
        approx_distinct="approx_count_distinct",
        arbitrary="any_value",
    )
    assert not set(map(str.lower, out.values())) & set(out)
    return out


_CALL_RENAMES = _call_renames()
_CALL_RENAME = re.compile(
    r"\b(%s)\s*\(" % "|".join(sorted(_CALL_RENAMES, key=len, reverse=True)),
    re.I,
)


def _expr_start(sql: str, bracket_idx: int) -> int | None:
    """Start index of the primary expression a subscript applies to:
    identifier (dotted), a call/parenthesized expr, or a previous
    element_at(...) result. None if '[' is not a subscript."""
    j = bracket_idx - 1
    while j >= 0 and sql[j] in " \t\n":
        j -= 1
    if j < 0:
        return None
    if sql[j] == ")":
        j = lex(sql).opens.get(j)
        if j is None:
            return None
        # include a preceding function name if present
        k = j - 1
        while k >= 0 and (sql[k].isalnum() or sql[k] in "_."):
            k -= 1
        return k + 1
    if sql[j].isalnum() or sql[j] in "_.":
        k = j
        while k >= 0 and (sql[k].isalnum() or sql[k] in "_."):
            k -= 1
        start = k + 1
        word = sql[start : j + 1]
        if word.upper() == "ARRAY":  # literal, handled separately
            return None
        return start
    return None


def _rewrite_brackets(sql: str) -> str:
    """Convert ARRAY[...] literals to array(...) and x[i] subscripts to
    element_at(x, i), left to right, string-aware. element_at is exactly
    Trino's subscript: 1-based on arrays, key lookup on maps."""
    i = 0
    while True:
        lx = lex(sql)
        om = lx.search(r"\[", i)
        if om is None:
            return sql
        open_idx = om.start()
        close_idx = lx.close(open_idx)
        # ARRAY literal?
        m = re.search(r"\bARRAY\s*$", sql[:open_idx], flags=re.I)
        if m:
            sql = (
                sql[: m.start()]
                + "array("
                + sql[open_idx + 1 : close_idx]
                + ")"
                + sql[close_idx + 1 :]
            )
            i = m.start() + 6
            continue
        start = _expr_start(sql, open_idx)
        if start is None:  # not a subscript we understand; skip past it
            i = open_idx + 1
            continue
        expr = sql[start:open_idx].rstrip()
        index = sql[open_idx + 1 : close_idx]
        replaced = f"element_at({expr}, {index})"
        sql = sql[:start] + replaced + sql[close_idx + 1 :]
        i = start  # re-scan from here: inner rewrites may enable chains
    return sql


_UNNEST_HEAD = re.compile(
    r"(\bCROSS\s+JOIN\b|\bLEFT\s+(?:OUTER\s+)?JOIN\b|,)\s*UNNEST\s*\(", re.I
)
_UNNEST_ALIAS = re.compile(
    r"\s*(WITH\s+ORDINALITY\s+)?AS\s+([A-Za-z_][A-Za-z_0-9]*)"
    r"\s*\(\s*([A-Za-z_0-9, \t]*?)\s*\)",
    re.I,
)


def _rewrite_unnest(sql: str) -> str:
    """UNNEST in FROM (grammar SqlBase.g4:417) -> LATERAL VIEW:
      CROSS JOIN UNNEST(a) AS t(x)        -> LATERAL VIEW explode(a) t AS x
      CROSS JOIN UNNEST(m) AS t(k, v)     -> LATERAL VIEW explode(m) t AS k, v
      CROSS JOIN UNNEST(a, b) AS t(x, y)  -> LATERAL VIEW inline(arrays_zip(a, b)) t AS x, y
      LEFT JOIN UNNEST(a) AS t(x) ON TRUE -> LATERAL VIEW OUTER explode(a) t AS x
    (LEFT JOIN UNNEST keeps the driving row when the array is empty/NULL —
    exactly LATERAL VIEW OUTER; Trino's grammar requires the ON TRUE.
    The multi-arg zip form is exactly Trino's semantics: positional zip,
    shorter arrays padded with NULL — arrays_zip pads the same way).
    WITH ORDINALITY (reference grammar SqlBase.g4:417) zips a 1-based index
    array in as the last column: transform(a, (e, i) -> i + 1) has exactly
    the unnested length (empty array -> no rows, NULL -> no rows), so no
    sequence()-style empty/descending edge cases. Map arguments with
    ORDINALITY are rejected (Trino orders map entries arbitrarily there)."""
    while True:
        lx = lex(sql)
        m = lx.search(_UNNEST_HEAD)
        if m is None:
            return sql
        outer = "LEFT" in m.group(1).upper()
        open_idx = sql.index("(", m.end() - 1)
        close_idx = lx.close(open_idx)
        am = _UNNEST_ALIAS.match(sql, close_idx + 1)
        if am is None:
            raise UnsupportedTrinoSyntax(
                "UNNEST requires an AS alias(col, ...) for the rewrite"
            )
        ordinality = bool(am.group(1))
        alias, cols = am.group(2), [c.strip() for c in am.group(3).split(",")]
        parts = lx.split(open_idx + 1, close_idx)
        if ordinality:
            # number of alias cols must be #arrays + 1 (ordinal is last);
            # a single map arg would need 3 cols (k, v, ord) — unsupported
            if len(cols) != len(parts) + 1:
                raise UnsupportedTrinoSyntax(
                    "UNNEST ... WITH ORDINALITY: alias must name one column"
                    " per array plus the trailing ordinal (maps unsupported)"
                )
            if len(parts) == 1:
                ord_arr = f"transform({parts[0]}, (__e, __i) -> CAST(__i + 1 AS BIGINT))"
            else:
                sizes = ", ".join(f"size({p})" for p in parts)
                ord_arr = (
                    f"transform(array_repeat(0, greatest({sizes})),"
                    f" (__e, __i) -> CAST(__i + 1 AS BIGINT))"
                )
            gen = f"inline(arrays_zip({', '.join(parts)}, {ord_arr}))"
        elif len(parts) == 1:
            gen = f"explode({parts[0]})"
        else:
            gen = f"inline(arrays_zip({', '.join(parts)}))"
        end = am.end()
        if outer:
            on = re.match(r"\s*ON\s+TRUE\b", sql[end:], flags=re.I)
            if on is None:
                raise UnsupportedTrinoSyntax(
                    "LEFT JOIN UNNEST requires ON TRUE (SqlBase.g4 joined"
                    " UNNEST grammar)"
                )
            end += on.end()
        lv = "LATERAL VIEW OUTER" if outer else "LATERAL VIEW"
        repl = f" {lv} {gen} {alias} AS {', '.join(cols)}"
        sql = sql[: m.start()] + repl + sql[end:]


def _rewrite_numeric_histogram(sql: str) -> str:
    """numeric_histogram(buckets, v) -> histogram_numeric(v, buckets):
    reference NumericHistogram.java (streaming bin-merge) and Spark's
    Ben-Haim/Tom-Tov share the n-approximate-(x, count)-bins contract with
    swapped argument order; bins are approximation-equal, not bit-equal.
    The 3-arg weighted form has no Spark analog and raises."""
    pos = 0
    while True:
        lx = lex(sql)
        m = lx.search(r"\bnumeric_histogram\s*\(", pos)
        if m is None:
            return sql
        open_idx = m.end() - 1
        close_idx = lx.close(open_idx)
        parts = lx.split(open_idx + 1, close_idx)
        if len(parts) != 2:
            raise UnsupportedTrinoSyntax(
                "numeric_histogram(buckets, value, weight) weighted form"
                " has no Spark analog"
            )
        repl = f"histogram_numeric({parts[1]}, {parts[0]})"
        sql = sql[: m.start()] + repl + sql[close_idx + 1 :]
        pos = m.start() + 1


def _rewrite_with_strings(sql: str) -> str:
    """Rewrites that need to see string literals (unit arguments, interval
    values, %-patterns)."""
    # INTERVAL '3' DAY -> INTERVAL 3 DAY
    sql = re.sub(
        r"\bINTERVAL\s+'(-?\d+)'\s+(\w+)", r"INTERVAL \1 \2", sql, flags=re.I
    )
    # Trino 3-arg date_add/date_diff start with a quoted unit (Spark's 2-arg
    # variants never do) -> route to the registered macros
    sql = re.sub(r"\bdate_add\s*\(\s*'", "trino_date_add('", sql, flags=re.I)
    sql = re.sub(r"\bdate_diff\s*\(\s*'", "trino_date_diff('", sql, flags=re.I)
    # Trino date_format uses MySQL %-patterns -> macro that translates them.
    # Paren-aware: the first argument may contain nested calls, so walk to
    # the top-level comma instead of regexing `[^,()]+`. Literal patterns
    # WITHOUT '%' deliberately stay Spark date_format: this dialect accepts
    # java.time patterns as a documented superset (Trino itself would print
    # every such char literally), and the repo's own SQL surface uses them.
    pos = 0
    while True:
        lx = lex(sql)
        m = lx.search(r"\bdate_format\s*\(", pos)
        if m is None:
            break
        name_start = m.start()
        open_idx = m.end() - 1
        args = lx.split(open_idx + 1, lx.close(open_idx))
        fmt = args[1] if len(args) == 2 else None
        if fmt is not None and re.fullmatch(r"'[^']*%[^']*'", fmt):
            sql = sql[:name_start] + "mysql_" + sql[name_start:]
            pos = name_start + len("mysql_date_format")
        else:
            # advance just past the function NAME, not the closing paren —
            # a nested date_format inside this call's arguments must still
            # be scanned (ADVICE r2)
            pos = open_idx + 1
    return sql


# --- Trino -> Spark type names -------------------------------------------
# Reference type system: core/trino-spi/.../type/StandardTypes.java.
# Spark accepts most ANSI names directly; the mismatches are the unsized
# character/binary types (Spark demands a length on VARCHAR/CHAR) and the
# Trino-specific logical types modelled here as strings/binary.
_TYPE_RENAMES = {
    "VARCHAR": "STRING",
    "CHAR": "STRING",
    "VARBINARY": "BINARY",
    "JSON": "STRING",
    "UUID": "STRING",
    "IPADDRESS": "STRING",
    "REAL": "FLOAT",
    "HYPERLOGLOG": "BINARY",
    "P4HYPERLOGLOG": "BINARY",
    "QDIGEST": "BINARY",
    "TDIGEST": "BINARY",
    "TIME": "BIGINT",  # nanos-of-day encoding (see functions.registry time macros)
}
_MULTIWORD_TYPES = {
    "TIMESTAMP WITH TIME ZONE": "TIMESTAMP",
    "TIMESTAMP WITHOUT TIME ZONE": "TIMESTAMP",
    "TIME WITH TIME ZONE": "BIGINT",
    "DOUBLE PRECISION": "DOUBLE",
}


def trino_type_to_spark(t: str) -> str:
    """Translate a Trino type string (SqlBase.g4 `type` rule) to Spark DDL.

    ARRAY(T) -> ARRAY<T>, MAP(K,V) -> MAP<K,V>, ROW(a T, ...) ->
    STRUCT<a: T, ...>, recursively; unsized VARCHAR -> STRING etc. per
    _TYPE_RENAMES. Parameterized types (DECIMAL(p,s), VARCHAR(n)) pass
    through — Spark accepts those forms directly."""
    t = t.strip()
    head = re.match(r"^(ARRAY|MAP|ROW)\s*\(", t, flags=re.I)
    if head and lex(t).close(head.end() - 1) == len(t) - 1:
        kind = head.group(1).upper()
        parts = split(t[head.end() : -1], angle=True)
        if kind == "ARRAY":
            return f"ARRAY<{trino_type_to_spark(parts[0])}>"
        if kind == "MAP":
            return (
                f"MAP<{trino_type_to_spark(parts[0])},"
                f" {trino_type_to_spark(parts[1])}>"
            )
        fields = []
        for i, p in enumerate(parts):
            if " ".join(p.upper().split()) in _MULTIWORD_TYPES:
                nm = None  # a bare multi-word type, not name+type
            else:
                nm = re.match(
                    r"^([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)\s+(.+)$", p, flags=re.S
                )
            if nm:
                fields.append(f"{nm.group(1)}: {trino_type_to_spark(nm.group(2))}")
            else:
                # Trino names anonymous row fields field0, field1, ...
                fields.append(f"field{i}: {trino_type_to_spark(p)}")
        return f"STRUCT<{', '.join(fields)}>"
    norm = " ".join(t.upper().split())
    if norm in _MULTIWORD_TYPES:
        return _MULTIWORD_TYPES[norm]
    base = re.match(r"^([A-Za-z]+)\s*(\(.*\))?$", t, flags=re.S)
    if base and base.group(2) is None and base.group(1).upper() in _TYPE_RENAMES:
        return _TYPE_RENAMES[base.group(1).upper()]
    return t


def _rewrite_unicode_literals(sql: str) -> str:
    """U&'...' unicode string literals (reference grammar SqlBase.g4
    UNICODE_STRING, with optional UESCAPE): decode \\XXXX and \\+XXXXXX
    escapes (or the custom escape char) into a plain quoted literal."""
    pat = r"U&'((?:[^']|'')*)'(\s+UESCAPE\s+'(.)')?"

    def decode(m: re.Match) -> str:
        body = m.group(1)
        esc = m.group(3) or "\\"
        out = []
        i = 0
        while i < len(body):
            c = body[i]
            if c == "'" and body[i + 1 : i + 2] == "'":
                # SQL '' quote escape inside the U& body: one quote char
                # (re-escaped back to '' on emit below)
                out.append("'")
                i += 2
            elif c == esc:
                if body[i + 1 : i + 2] == esc:
                    out.append(esc)
                    i += 2
                elif body[i + 1 : i + 2] == "+":
                    out.append(chr(int(body[i + 2 : i + 8], 16)))
                    i += 8
                else:
                    out.append(chr(int(body[i + 1 : i + 5], 16)))
                    i += 5
            else:
                out.append(c)
                i += 1
        # combine UTF-16 surrogate-pair spellings (\D83D\DE00 is a valid
        # Trino way to write an emoji; lone surrogates can't reach UTF-8)
        text = "".join(out)
        chars = []
        j = 0
        while j < len(text):
            ch = text[j]
            nxt = text[j + 1] if j + 1 < len(text) else ""
            if (
                "\ud800" <= ch <= "\udbff"
                and "\udc00" <= nxt <= "\udfff"
            ):
                cp = (
                    0x10000
                    + ((ord(ch) - 0xD800) << 10)
                    + (ord(nxt) - 0xDC00)
                )
                chars.append(chr(cp))
                j += 2
            else:
                chars.append(ch)
                j += 1
        text = "".join(chars)
        # re-escape for a standard quoted literal: '' for quotes, and
        # keep backslashes literal (Spark string parsing is non-ANSI
        # C-style by default)
        text = text.replace("\\", "\\\\").replace("'", "''")
        return "'" + text + "'"

    pos = 0
    while True:
        m = lex(sql).search(pat, pos, flags=re.I | re.S)
        if m is None:
            return sql
        repl = decode(m)
        sql = sql[: m.start()] + repl + sql[m.end() :]
        pos = m.start() + len(repl)


_TYPED_LITERALS = {
    "DECIMAL": None,  # special-cased: keep the literal's precision/scale
    "DOUBLE": "DOUBLE",
    "REAL": "FLOAT",
    "BIGINT": "BIGINT",
    "INTEGER": "INT",
    "SMALLINT": "SMALLINT",
    "TINYINT": "TINYINT",
    "VARCHAR": None,
    "CHAR": None,
}


def _rewrite_typed_literals(sql: str) -> str:
    """Trino typed literals `TYPE 'text'` (grammar primaryExpression) for
    the numeric/char types Spark's parser doesn't accept that way.
    DECIMAL 'x' keeps the literal's own precision/scale via a BD suffix;
    VARCHAR/CHAR reduce to the plain string. DATE/TIMESTAMP/INTERVAL
    literals are valid Spark already and are left alone. String-aware:
    the keyword must start outside any literal."""
    names = "|".join(_TYPED_LITERALS)
    pat = rf"\b({names})\s+'((?:[^']|'')*)'"
    pos = 0
    while True:
        m = lex(sql).search(pat, pos)
        if m is None:
            return sql
        name = m.group(1).upper()
        text = m.group(2)
        if name == "DECIMAL":
            body = text.strip()
            if re.fullmatch(r"[-+]?\d+(\.\d+)?", body):
                repl = f"{body}BD"
            else:
                repl = f"CAST('{text}' AS DECIMAL(38, 6))"
        elif name in ("VARCHAR", "CHAR"):
            repl = f"'{text}'"
        else:
            repl = f"CAST('{text}' AS {_TYPED_LITERALS[name]})"
        sql = sql[: m.start()] + repl + sql[m.end() :]
        pos = m.start() + len(repl)


_EXTRACT_FIELD_MAP = {
    "DOW": "day_of_week",
    "DAY_OF_WEEK": "day_of_week",
    "YOW": "year_of_week",
    "YEAR_OF_WEEK": "year_of_week",
}


def _rewrite_extract_fields(sql: str) -> str:
    """EXTRACT fields Spark numbers differently or lacks (reference
    DateTimeFunctions / ExtractField): DOW/DAY_OF_WEEK are ISO Monday=1
    in Trino but Sunday=1 in Spark's EXTRACT — route through the ISO
    day_of_week macro; YOW/YEAR_OF_WEEK through year_of_week.
    DAY_OF_MONTH/DAY_OF_YEAR just respell to Spark's DAY/DOY."""
    for src_f, dst_f in (("DAY_OF_MONTH", "DAY"), ("DAY_OF_YEAR", "DOY")):
        pos = 0
        while True:
            m = lex(sql).search(
                rf"\bEXTRACT\s*\(\s*{src_f}\s+FROM\b", pos
            )
            if m is None:
                break
            repl = f"EXTRACT({dst_f} FROM"
            sql = sql[: m.start()] + repl + sql[m.end() :]
            pos = m.start() + len(repl)
    for field, fn in _EXTRACT_FIELD_MAP.items():
        while True:
            lx = lex(sql)
            m = lx.search(rf"\bEXTRACT\s*\(\s*{field}\s+FROM\b")
            if m is None:
                break
            open_idx = sql.index("(", m.start())
            close_idx = lx.close(open_idx)
            inner = sql[m.end() : close_idx].strip()
            sql = f"{sql[: m.start()]}{fn}({inner}){sql[close_idx + 1 :]}"
    return sql


def _rewrite_json_casts(sql: str) -> str:
    """CAST(json_parse(x) AS ARRAY(...)/MAP(...)/ROW(...)) — the standard
    Trino idiom for unpacking JSON into SQL values (reference json-to-SQL
    cast operators in JsonToArrayCast etc.). json models as STRING here,
    and Spark cannot CAST a string to a complex type, so the cast lowers
    to from_json over the raw text. Applies only when the operand is a
    visible json producer (json_parse/json_extract/json_query) — for
    other operands the type alone can't be known textually."""
    pos = 0
    while True:
        lx = lex(sql)
        m = lx.search(
            r"\bcast\s*\(\s*(json_parse|json_extract|json_query)\s*\(", pos
        )
        if m is None:
            return sql
        start = m.start()
        open_idx = sql.index("(", start)
        close_idx = lx.close(open_idx)
        body = sql[open_idx + 1 : close_idx]
        mm = re.match(
            r"\s*(json_parse|json_extract|json_query)\s*\(", body, re.I
        )
        fn_open = body.index("(", mm.end() - 1)
        fn_close = lex(body).close(fn_open)
        operand = body[: fn_close + 1].strip()
        rest = body[fn_close + 1 :]
        as_m = re.match(r"\s*AS\s+(.+)$", rest, re.I | re.S)
        if as_m is None:
            pos = open_idx + 1
            continue
        ttype = as_m.group(1).strip()
        if not re.match(r"(?:ARRAY|MAP|ROW)\s*[(<]", ttype, re.I):
            pos = open_idx + 1
            continue
        fn_name = mm.group(1).lower()
        raw = (
            operand[operand.index("(") + 1 : -1]
            if fn_name == "json_parse"
            else operand
        )
        spark_t = trino_type_to_spark(ttype)
        repl = f"from_json({raw}, '{spark_t}')"
        sql = sql[:start] + repl + sql[close_idx + 1 :]
        pos = start + len(repl)


def _rewrite_cast_types(sql: str) -> str:
    """Translate the type argument of every CAST/TRY_CAST through
    trino_type_to_spark. Paren- and string-aware: finds the LAST top-level
    AS inside each cast's argument list (the expression itself may contain
    AS inside nested casts, which are handled on their own scan visit)."""
    pos = 0
    while True:
        lx = lex(sql)
        m = lx.search(r"\b(?:try_)?cast\s*\(", pos)
        if m is None:
            return sql
        open_idx = m.end() - 1
        try:
            close_idx = lx.close(open_idx)
        except UnsupportedTrinoSyntax:
            return sql
        args = sql[open_idx + 1 : close_idx]
        as_idx = _last_top_as(args)
        if as_idx is None:
            pos = open_idx + 1
            continue
        type_text = args[as_idx + 2 :]
        # zoned first: CAST(x AS TIME [(p)] WITH TIME ZONE) -> the packed
        # timetz encoding's parser (registry timetz_parse); the bare-TIME
        # branch below would otherwise swallow it and mis-parse the offset
        if re.match(
            r"^\s*TIME\s*(\(\s*\d+\s*\))?\s+WITH\s+TIME\s+ZONE\s*$",
            type_text, flags=re.I,
        ):
            expr = args[:as_idx].strip()
            sql = sql[: m.start()] + f"timetz_parse({expr})" + sql[close_idx + 1 :]
            pos = m.start() + 1
            continue
        # TIME has no Spark type: CAST(x AS TIME[(p)]) becomes the
        # nanos-of-day parse macro (registry trino_time).
        if re.match(r"^\s*TIME\b(?!STAMP)", type_text, flags=re.I):
            expr = args[:as_idx].strip()
            sql = sql[: m.start()] + f"trino_time({expr})" + sql[close_idx + 1 :]
            pos = m.start() + 1
            continue
        translated = " " + trino_type_to_spark(type_text)
        sql = (
            sql[: open_idx + 1 + as_idx + 2] + translated + sql[close_idx:]
        )
        pos = open_idx + 1  # re-scan inside: nested casts in the expression


def _last_top_as(args: str) -> int | None:
    """Index of the last top-level AS keyword in a CAST argument list
    (the type separator; the expression may hold nested casts)."""
    lx = lex(args)
    as_idx = None
    for i in lx.top_level():
        if lx.toks[i].upper() == "AS":
            as_idx = lx.starts[i]
    return as_idx


_FETCH_TIES = re.compile(r"\bFETCH\s+FIRST\s+(\d+)\s+ROWS?\s+WITH\s+TIES\b", re.I)
_ORDER_BY = re.compile(r"\bORDER\s+BY\b", re.I)


def _rewrite_fetch_ties(sql: str) -> str:
    """FETCH FIRST n ROWS WITH TIES -> rank() rewrite (reference
    sql/planner/iterative/rule/ImplementLimitWithTies.java:65): the scope's
    ORDER BY keys become rank() OVER (ORDER BY keys), rows with rank <= n
    survive, and the outer ORDER BY is preserved. Spark folds the
    rank-filter into WindowGroupLimit (partial top-n on every partition
    before the final sort), so the plan scales like ORDER BY + LIMIT —
    the same shape the reference's LimitNode-with-ties lowers to."""
    while True:
        lx = lex(sql)
        m = lx.search(_FETCH_TIES)
        if m is None:
            return sql
        d0 = lx.depth(m.start())
        # scope start: just inside the enclosing opening paren
        content_start = lx.encl(m.start()) + 1
        # the scope's own ORDER BY (last one at this depth before FETCH)
        ob = None
        for om in lx.finditer(_ORDER_BY, content_start, m.start()):
            if lx.depth(om.start()) == d0:
                ob = om
        if ob is None:
            raise UnsupportedTrinoSyntax(
                "FETCH FIRST ... WITH TIES requires ORDER BY"
            )
        keys = sql[ob.end() : m.start()].strip()
        if re.search(r"\bOFFSET\b", keys, flags=re.I):
            raise UnsupportedTrinoSyntax(
                "OFFSET combined with FETCH FIRST ... WITH TIES is not"
                " supported"
            )
        if any(re.match(r"^\d+\b", k) for k in split(keys, angle=True)):
            raise UnsupportedTrinoSyntax(
                "positional ORDER BY keys cannot be carried into the"
                " WITH TIES rank() rewrite; name the sort columns"
            )
        # nothing but whitespace may follow the FETCH clause in its scope
        if sql[m.end() : lx.scope_end(m.start())].strip():
            raise UnsupportedTrinoSyntax(
                "FETCH FIRST ... WITH TIES must be the final clause of its"
                " query scope"
            )
        body = sql[content_start : ob.start()]
        n = m.group(1)
        replacement = (
            f"SELECT * EXCEPT (__wt_rank) FROM (SELECT __wt_q.*,"
            f" rank() OVER (ORDER BY {keys}) AS __wt_rank FROM ({body}"
            f") __wt_q) WHERE __wt_rank <= {n} ORDER BY {keys}"
        )
        sql = sql[:content_start] + replacement + sql[m.end() :]


_QUANT = re.compile(r"(<=|>=|<>|!=|=|<|>)\s*\b(ANY|SOME|ALL)\s*\(", re.I)
# keywords that terminate a comparison's left-hand operand when scanning left
_LHS_STOP = {
    "SELECT", "DISTINCT", "FROM", "WHERE", "AND", "OR", "NOT", "ON", "JOIN",
    "WHEN", "THEN", "ELSE", "END", "CASE", "HAVING", "BY", "IN", "LIKE",
    "BETWEEN", "IS", "ALL", "UNION", "INTERSECT", "EXCEPT",
}
# extreme aggregate making `x op <agg>(S)` equivalent to the quantifier
_QUANT_AGG = {
    ("ANY", ">"): "min", ("ANY", ">="): "min",
    ("ANY", "<"): "max", ("ANY", "<="): "max",
    ("ALL", ">"): "max", ("ALL", ">="): "max",
    ("ALL", "<"): "min", ("ALL", "<="): "min",
}


def _lhs_start(sql: str, op_idx: int) -> int:
    """Start index of the comparison's left operand: scan left over the
    additive expression (identifiers, calls, arithmetic, strings) until a
    clause keyword, a comma, another comparison, or the enclosing paren."""
    lx = lex(sql)
    d0 = lx.depth(op_idx)
    s = 0
    for i in range(lx.index(op_idx) - 1, -1, -1):
        t, d = lx.toks[i], lx.depth(lx.starts[i])
        if not lx.is_code(lx.starts[i]) or d > d0:
            continue
        if (
            d < d0
            or t in (",", "=", "<", ">", "!")
            or ((t[0].isalpha() or t[0] == "_") and t.upper() in _LHS_STOP)
        ):
            s = lx.starts[i] + len(t)
            break
    while s < op_idx and sql[s] in " \t\n":
        s += 1
    return s


def _rewrite_quantified(sql: str) -> str:
    """Quantified comparisons (reference grammar SqlBase.g4 comparisonQuantifier,
    planner rule TransformQuantifiedComparisonApplyToCorrelatedJoin /
    QuantifiedComparisonRewriter): Spark's parser has no ANY/SOME/ALL
    comparison, so

      x =  ANY (sub)  ->  x IN (sub)          (exact, incl. NULL semantics)
      x <> ALL (sub)  ->  x NOT IN (sub)
      x {<,<=,>,>=} ANY/ALL (sub)  ->  NULL-aware CASE over the subquery's
        count(*) / null-count / min-or-max (empty set: ANY=false, ALL=true;
        NULL operand or NULL-bearing set short of a definite answer: NULL).
        Cost bound: Catalyst's MergeScalarSubqueries normalizes the three
        scalar subqueries to one shared single-pass aggregate plan, but
        they still execute as three (small) jobs over the subquery body —
        each runs once per query, never per row.

    `= ALL` / `<> ANY` (no single-extreme lowering) raise; uncorrelated
    subqueries only — a correlated body fails loudly at analysis."""
    while True:
        m = lex(sql).search(_QUANT)
        if m is None:
            return sql
        op, quant = m.group(1), m.group(2).upper()
        if quant == "SOME":
            quant = "ANY"
        open_idx = m.end() - 1
        close_idx = lex(sql).close(open_idx)
        body = sql[open_idx + 1 : close_idx].strip()
        lhs_s = _lhs_start(sql, m.start())
        lhs = sql[lhs_s : m.start()].strip()
        if not lhs:
            raise UnsupportedTrinoSyntax(
                f"cannot determine left operand of {op} {quant} at"
                f" {sql[max(0, m.start() - 30) : m.start()]!r}"
            )
        if op == "=" and quant == "ANY":
            repl = f"{lhs} IN ({body})"
        elif op in ("<>", "!=") and quant == "ALL":
            repl = f"{lhs} NOT IN ({body})"
        elif (quant, op) in _QUANT_AGG:
            agg = _QUANT_AGG[(quant, op)]
            cnt = f"SELECT count(*) FROM ({body}) __qc"
            ext = f"SELECT {agg}(__qc_v) FROM ({body}) __qc(__qc_v)"
            has_null = (
                f"SELECT count(*) > count(__qc_v) FROM ({body}) __qc(__qc_v)"
            )
            if quant == "ANY":
                repl = (
                    f"(CASE WHEN ({cnt}) = 0 THEN false"
                    f" WHEN ({lhs}) {op} ({ext}) THEN true"
                    f" WHEN ({lhs}) IS NULL THEN cast(null AS boolean)"
                    f" WHEN ({has_null}) THEN cast(null AS boolean)"
                    f" ELSE false END)"
                )
            else:
                repl = (
                    f"(CASE WHEN ({cnt}) = 0 THEN true"
                    f" WHEN NOT (({lhs}) {op} ({ext})) THEN false"
                    f" WHEN ({lhs}) IS NULL THEN cast(null AS boolean)"
                    f" WHEN ({has_null}) THEN cast(null AS boolean)"
                    f" ELSE true END)"
                )
        else:
            raise UnsupportedTrinoSyntax(
                f"{op} {quant} (subquery) has no single-extreme lowering;"
                " rewrite with EXISTS"
            )
        sql = sql[:lhs_s] + repl + sql[close_idx + 1 :]


_AT_TZ = re.compile(r"\bAT\s+TIME\s+ZONE\s+('(?:[^']|'')*')", re.I)


def _rewrite_at_time_zone(sql: str) -> str:
    """`x AT TIME ZONE 'z'` (reference grammar valueExpression AT TIME
    ZONE) -> at_timezone(x, 'z'): same instant re-expressed in zone z.
    Spark has no AT TIME ZONE operator; the left operand is captured with
    the comparison-operand scanner."""
    while True:
        m = lex(sql).search(_AT_TZ)
        if m is None:
            return sql
        lhs_s = _lhs_start(sql, m.start())
        lhs = sql[lhs_s : m.start()].strip()
        if not lhs:
            raise UnsupportedTrinoSyntax("AT TIME ZONE: no left operand found")
        sql = (
            sql[:lhs_s]
            + f"at_timezone({lhs}, {m.group(1)})"
            + sql[m.end() :]
        )


_TRY_OPS = {"/": "try_divide", "+": "try_add", "-": "try_subtract", "*": "try_multiply"}

# Failable functions with a null-on-error twin: Spark's own try_* builtins
# where one exists, else a __try_* macro twin registered alongside the
# original (functions/registry.py). TRY(f(x)) rewrites to the twin; other
# function bodies still reject loudly (no generic catch-anything in Spark).
_TRY_FN_TWINS = {
    "to_timestamp": "try_to_timestamp",
    "to_number": "try_to_number",
    "to_binary": "try_to_binary",
    "parse_url": "try_parse_url",
    "url_decode": "try_url_decode",
    "parse_datetime": "__try_parse_datetime",
    "date_parse": "__try_date_parse",
    "from_iso8601_timestamp": "__try_from_iso8601_timestamp",
    "from_iso8601_date": "__try_from_iso8601_date",
    "parse_duration": "__try_parse_duration",
}


def _try_top_op(inner: str) -> int | None:
    """Index of the top-of-tree binary operator in `inner`: the RIGHTMOST
    depth-0 +/- (lowest precedence, left-assoc), else the rightmost */
    ('/' and '*' bind tighter). Unary signs and exponent literals (1e-5)
    are skipped."""
    best_add = best_mul = None
    lx = lex(inner)
    prev = ""
    for k in lx.top_level():
        c, i = lx.toks[k], lx.starts[k]
        if c.isspace() or is_comment(c):
            continue  # whitespace and comments never precede an operand
        if c in _TRY_OPS and i > 0:
            is_unary = prev in "+-*/%(,"
            is_exp = (
                c in "+-"
                and prev in "eE"
                and i >= 2
                and inner[i - 2].isdigit()
            )
            if not is_unary and not is_exp and inner[i + 1 :].strip():
                if c in "+-":
                    best_add = i
                else:
                    best_mul = i
        prev = c[-1]
    return best_add if best_add is not None else best_mul


def _try_decompose(inner: str) -> str:
    """Recursively lower an expression so every failable step is a try_*
    form: arithmetic -> try_add/subtract/multiply/divide over decomposed
    operands, CAST -> try_cast over its decomposed operand, element_at ->
    try_element_at. NULL propagates through every layer, which is exactly
    TRY's contract (any error inside -> NULL). Leaves pass through."""
    inner = inner.strip()
    # fully parenthesized? strip and recurse
    if inner.startswith("(") and lex(inner).close(0) == len(inner) - 1:
        return f"({_try_decompose(inner[1:-1])})"
    op_idx = _try_top_op(inner)
    if op_idx is not None:
        c = inner[op_idx]
        lhs, rhs = inner[:op_idx], inner[op_idx + 1 :]
        return f"{_TRY_OPS[c]}({_try_decompose(lhs)}, {_try_decompose(rhs)})"
    cm = re.match(r"(?:try_)?cast\s*\(", inner, flags=re.I)
    if cm and lex(inner).close(cm.end() - 1) == len(inner) - 1:
        args = inner[cm.end() : -1]
        as_idx = _last_top_as(args)
        if as_idx is not None:
            return (
                f"try_cast({_try_decompose(args[:as_idx])} {args[as_idx:]})"
            )
        return f"try_cast({args})"
    em = re.match(r"element_at\s*\(", inner, flags=re.I)
    if em and lex(inner).close(em.end() - 1) == len(inner) - 1:
        return re.sub(r"^element_at", "try_element_at", inner, flags=re.I)
    fm = re.match(r"([A-Za-z_][A-Za-z0-9_]*)\s*\(", inner)
    if (
        fm
        and fm.group(1).lower() in _TRY_FN_TWINS
        and lex(inner).close(fm.end() - 1) == len(inner) - 1
    ):
        twin = _TRY_FN_TWINS[fm.group(1).lower()]
        return f"{twin}({inner[fm.end():-1]})"
    return inner


def _rewrite_try(sql: str) -> str:
    """TRY(expr) (reference TryFunction.java): recursively decompose the
    body into Spark's try_* forms — arithmetic chains, CASTs, and
    element_at at any nesting (TRY(a/b + CAST(c AS INT)) ->
    try_add(try_divide(a, b), try_cast(c AS INT))). A body with none of
    those failable forms raises rather than silently changing semantics
    (e.g. TRY over a function whose own evaluation can error)."""
    while True:
        lx = lex(sql)
        m = lx.search(r"\bTRY\s*\(")
        if m is None:
            return sql
        open_idx = sql.index("(", m.start())
        close_idx = lx.close(open_idx)
        inner = sql[open_idx + 1 : close_idx].strip()
        repl = _try_decompose(inner)
        if repl == inner and not re.match(r"try_", repl, flags=re.I):
            raise UnsupportedTrinoSyntax(
                f"TRY({inner[:60]}...): no decomposable failable form"
                " (CAST, element_at, +, -, *, /) found; Spark has no"
                " generic catch-anything TRY"
            )
        sql = sql[: m.start()] + repl + sql[close_idx + 1 :]


_LISTAGG = re.compile(r"\bLISTAGG\s*\(", re.I)
_WITHIN = re.compile(
    r"\s*WITHIN\s+GROUP\s*\(\s*ORDER\s+BY\s+", re.I
)


def _rewrite_listagg(sql: str) -> str:
    """LISTAGG(x [, sep]) WITHIN GROUP (ORDER BY k [DESC]) (reference
    SqlBase.g4:504 #listagg) -> ordered collect_list rewrite:
    array_join(transform(array_sort(collect_list(struct(k, x))), s ->
    s.v), sep), reversed for DESC — the documented workaround for
    collect_list's nondeterministic order. One sort key; ON OVERFLOW is
    rejected (Spark strings don't truncate)."""
    while True:
        lx = lex(sql)
        m = lx.search(_LISTAGG)
        if m is None:
            return sql
        open_idx = sql.index("(", m.start())
        close_idx = lx.close(open_idx)
        args = lx.split(open_idx + 1, close_idx)
        if re.search(r"\bON\s+OVERFLOW\b", sql[open_idx:close_idx], re.I):
            raise UnsupportedTrinoSyntax("LISTAGG ON OVERFLOW")
        if not 1 <= len(args) <= 2:
            raise UnsupportedTrinoSyntax("LISTAGG takes (expr [, separator])")
        expr = args[0].strip()
        # SQL:2016/Trino default separator is the EMPTY string
        sep = args[1].strip() if len(args) == 2 else "''"
        wm = _WITHIN.match(sql, close_idx + 1)
        if wm is None:
            raise UnsupportedTrinoSyntax("LISTAGG requires WITHIN GROUP")
        sort_close = lx.close(sql.index("(", close_idx + 1))
        sort = sql[wm.end() : sort_close].strip()
        # NULLS FIRST/LAST: stripped — keys are sorted through a struct
        # array_sort whose NULL placement is engine-defined (documented)
        sort = re.sub(r"\s+NULLS\s+(FIRST|LAST)\s*$", "", sort, flags=re.I)
        desc = bool(re.search(r"\bDESC\s*$", sort, re.I))
        key = re.sub(r"\s+(ASC|DESC)\s*$", "", sort, flags=re.I).strip()
        if "," in key:
            raise UnsupportedTrinoSyntax("LISTAGG: one ORDER BY key")
        arr = f"array_sort(collect_list(named_struct('k', {key}, 'v', {expr})))"
        if desc:
            arr = f"reverse({arr})"
        repl = f"array_join(transform({arr}, s -> s.v), {sep})"
        sql = sql[: m.start()] + repl + sql[sort_close + 1 :]


def _rewrite_agg_calls(sql: str) -> str:
    """Aggregate names whose Spark forms wrap an aggregate in scalar
    functions (SQL macros cannot contain aggregates, so these are
    transpile-time rewrites):
      geometric_mean(x) -> exp(avg(ln(x)))           (GeometricMeanAggregations.java)
      map_agg(k, v)     -> map_from_entries(collect_list(struct(k, v)))
      checksum(x)       -> decimal sum of 48-bit md5 prefixes
                           (order-insensitive AND engine-neutral,
                           ChecksumAggregationFunction.java)"""
    forms = [
        (r"\bgeometric_mean\s*\(", lambda a: f"exp(avg(ln({a[0]})))", 1),
        (
            r"\bmap_agg\s*\(",
            lambda a: f"map_from_entries(collect_list(struct({a[0]}, {a[1]})))",
            2,
        ),
        # histogram(x) -> value counts map (reference Histogram.java):
        # Catalyst extracts the repeated collect_list into ONE aggregate
        # buffer; the lambdas are post-aggregation projection
        (
            r"\bhistogram\s*\(",
            lambda a: (
                f"map_from_entries(transform(array_distinct(collect_list({a[0]})),"
                f" __hk -> struct(__hk, CAST(size(filter(collect_list({a[0]}),"
                " __he -> __he <=> __hk)) AS BIGINT))))"
            ),
            1,
        ),
        # multimap_agg(k, v) -> map<k, array<v>> (MultimapAggregation)
        (
            r"\bmultimap_agg\s*\(",
            lambda a: (
                f"map_from_entries(transform(array_distinct(transform("
                f"collect_list(struct(({a[0]}) AS k0, ({a[1]}) AS v0)),"
                " __mp -> __mp.k0)), __mk -> struct(__mk, transform(filter("
                f"collect_list(struct(({a[0]}) AS k0, ({a[1]}) AS v0)),"
                " __mp -> __mp.k0 <=> __mk), __mp -> __mp.v0))))"
            ),
            2,
        ),
        # map_union(m) -> merged map, arbitrary value on duplicate keys
        # (reference MapUnionAggregation keeps an arbitrary winner too)
        (
            r"\bmap_union\s*\(",
            lambda a: (
                f"map_from_entries(transform(array_distinct(transform("
                f"flatten(collect_list(map_entries({a[0]}))), __ue -> __ue.key)),"
                f" __uk -> struct(__uk, filter(flatten(collect_list("
                f"map_entries({a[0]}))), __ue -> __ue.key <=> __uk)[0].value)))"
            ),
            1,
        ),
        (
            r"\bchecksum\s*\(",
            lambda a: (
                "sum(cast(conv(substring(md5(cast("
                + a[0]
                + " AS STRING)), 1, 12), 16, 10) AS DECIMAL(38,0)))"
            ),
            1,
        ),
    ]
    for pat, build, nargs in forms:
        while True:
            lx = lex(sql)
            m = lx.search(pat)
            if m is None:
                break
            open_idx = sql.index("(", m.start())
            close_idx = lx.close(open_idx)
            args = lx.split(open_idx + 1, close_idx)
            if len(args) != nargs:
                raise UnsupportedTrinoSyntax(
                    f"{m.group(0).strip('(').strip()} takes {nargs} argument(s)"
                )
            sql = sql[: m.start()] + build(args) + sql[close_idx + 1 :]
    return sql


#: Salt fan-out for the sketch partial/final split. 16 partials per
#: group bounds the per-task funnel at 1/16th of a group; raise for
#: gigantic groups (the constant is deliberately engine-replayable:
#: oracles must reproduce the same partition of values).
SKETCH_SALT_BUCKETS = 16

#: Build-side sketch aggregates (raw rows in) -> (merge aggregate that
#: reads the partial blobs, needs-deterministic-salt). approx_set /
#: make_set_digest are EXACT under any merge tree (register max / union
#: bottom-k), so any salt preserves results; the rank-grid digests are
#: merge-path-dependent, so their salt must be a deterministic function
#: of the value that a DuckDB oracle can replay (floor(v) mod N).
_SKETCH_BUILD_FORMS = {
    "qdigest_agg": ("merge_qdigest", True),
    "qdigest_agg_w": ("merge_qdigest", True),  # weighted (2-arg) build
    "tdigest_agg": ("merge_tdigest", True),
    "tdigest_agg_w": ("merge_tdigest", True),  # weighted (2-arg) build
    "approx_set": ("merge_hll", False),
    "make_set_digest": ("merge_set_digest", False),
}

# JVM aggregates allowed ALONGSIDE sketch builds in one SELECT block
# (r8). Spark refuses to mix GROUPED_AGG pandas UDFs with non-pandas
# aggregates in one aggregation (INVALID_PANDAS_UDF_PLACEMENT) at every
# level, so a mixed block cannot run single-level at all; the rewrite
# moves these to their own native aggregation tree joined back on
# null-safe group keys. Whitelist, not "anything that parses as a
# call": a scalar expression item must keep bailing the whole block
# (it would be misplaced into an aggregation). Names valid in both the
# Trino dialect and Spark SQL, so the rewrite is placement-neutral in
# the remaining transpiler pipeline.
_JVM_CO_AGGS = frozenset({
    "count", "sum", "min", "max", "avg",
    "count_if", "bool_and", "bool_or", "every",
    "stddev", "stddev_samp", "stddev_pop",
    "variance", "var_samp", "var_pop",
})

# Identifiers permitted in the trailing arguments of a scalar-wrapped
# sketch build (values_at_quantiles(qdigest_agg(v), array(0.5)) — the
# trailing args move to the merge level, so they must be literal-only:
# a source-column reference would not resolve above the aggregation.
_WRAP_REST_OK = frozenset({
    "array", "cast", "as", "double", "real", "float", "int", "integer",
    "bigint", "smallint", "tinyint", "decimal", "true", "false", "null",
    "interval", "date", "timestamp", "row",
})


def _norm_expr(text: str) -> str:
    return " ".join(text.split()).lower()


def _item_alias(item: str) -> tuple[str, str | None]:
    """Split a select item into (expr, alias) at the LAST top-level AS."""
    pos = None
    lx = lex(item)
    for m in lx.finditer(r"\bAS\b"):
        if lx.depth(m.start()) == 0:
            pos = m
    if pos is None:
        return item.strip(), None
    return item[: pos.start()].strip(), item[pos.end() :].strip()


def _parse_agg_call(expr: str) -> tuple[str, str] | None:
    """(fname, args) if expr is exactly one function call, else None."""
    m = re.match(r"^\s*([A-Za-z_]\w*)\s*\(", expr)
    if not m:
        return None
    open_idx = expr.index("(", m.start())
    try:
        close_idx = lex(expr).close(open_idx)
    except Exception:
        return None
    if expr[close_idx + 1 :].strip():
        return None
    return m.group(1).lower(), expr[open_idx + 1 : close_idx].strip()


def _rewrite_sketch_filter(sql: str) -> str:
    """Fold ``sketch_agg(x) FILTER (WHERE p)`` into
    ``sketch_agg(CASE WHEN p THEN x END)`` at ANY nesting depth, for the
    SQL-name sketch builds only. Spark refuses FILTER on a Python UDAF
    outright (INVALID_SQL_SYNTAX.FUNCTION_WITH_UNSUPPORTED_SYNTAX), and
    the sketch aggs skip NULLs, so the fold is both necessary and
    semantics-preserving (Trino AggregationNode mask semantics,
    reference sql/planner/plan/AggregationNode.java). Runs BEFORE the
    two-level split so folded items re-enter the canonical shape."""
    pat = r"\b(qdigest_agg|tdigest_agg|approx_set|make_set_digest)\s*\("
    pos = 0
    while True:
        lx = lex(sql)
        m = lx.search(pat, pos)
        if m is None:
            return sql
        open_idx = sql.index("(", m.start())
        close_idx = lx.close(open_idx)
        rest = sql[close_idx + 1 :]
        fm = re.match(r"(?is)^\s*FILTER\s*\(", rest)
        if fm is None:
            pos = close_idx + 1
            continue
        f_open = close_idx + 1 + rest.index("(")
        f_close = lx.close(f_open)
        clause = sql[f_open + 1 : f_close].strip()
        wm = re.match(r"(?is)^WHERE\b", clause)
        args = lx.split(open_idx + 1, close_idx)
        # multi-arg builds (e.g. a future weighted qdigest_agg(x, w)):
        # wrap only the first (value) argument — the UDAFs skip NULL
        # values, so nulling the value masks the whole row.
        if wm is None or not args or not args[0].strip():
            pos = f_close + 1
            continue
        cond = clause[wm.end() :].strip()
        fname = m.group(1)
        val = args[0].strip()
        dm = re.match(r"(?is)^DISTINCT\b\s*", val)
        if dm:
            # mask first, dedupe second (Trino's mask semantics); the
            # extra NULL in the distinct set is skipped by the build
            folded = (
                f"DISTINCT CASE WHEN {cond} THEN {val[dm.end():]} END"
            )
        else:
            folded = f"CASE WHEN {cond} THEN {val} END"
        all_args = ", ".join([folded] + [a.strip() for a in args[1:]])
        repl = f"{fname}({all_args})"
        sql = sql[: m.start()] + repl + sql[f_close + 1 :]
        pos = m.start() + len(repl)


def _rewrite_weighted_digests(sql: str) -> str:
    """Trino's digest builds are overloaded by arity (reference
    QuantileDigestAggregationFunction.java: (x), (x, w),
    (x, w, accuracy); TDigestAggregationFunction.java: (x), (x, w));
    a registered Spark UDAF is not. Route the multi-arg spellings to
    the qdigest_agg_w / tdigest_agg_w UDAFs, dropping qdigest's
    accuracy argument — this engine's digests keep a fixed K-point
    grid, so accuracy is a no-op hint (the same liberty the reference
    takes when accuracy exceeds its default). Runs AFTER the FILTER
    fold (so folded builds rewrite too) and BEFORE the two-level
    split (which recognizes the _w forms)."""
    for base, arities in (("qdigest_agg", (2, 3)), ("tdigest_agg", (2,))):
        pos = 0
        while True:
            lx = lex(sql)
            m = lx.search(r"\b%s\s*\(" % base, pos)
            if m is None:
                break
            open_idx = sql.index("(", m.start())
            close_idx = lx.close(open_idx)
            args = lx.split(open_idx + 1, close_idx)
            if len(args) not in arities:
                pos = close_idx + 1
                continue
            repl = (
                base
                + "_w("
                + args[0].strip()
                + ", "
                + args[1].strip()
                + ")"
            )
            sql = sql[: m.start()] + repl + sql[close_idx + 1 :]
            pos = m.start() + len(repl)
    return sql


#: sketch-producing call -> the type-suffixed merge aggregate for its
#: wire format. Merges map to themselves so chained ``merge(merge(..))``
#: spellings resolve through the fixpoint loop below.
_SKETCH_MERGE_FOR = {
    "qdigest_agg": "merge_qdigest",
    "qdigest_agg_w": "merge_qdigest",
    "tdigest_agg": "merge_tdigest",
    "tdigest_agg_w": "merge_tdigest",
    "approx_set": "merge_hll",
    "make_set_digest": "merge_set_digest",
    "merge_qdigest": "merge_qdigest",
    "merge_tdigest": "merge_tdigest",
    "merge_hll": "merge_hll",
    "merge_set_digest": "merge_set_digest",
}


def _rewrite_generic_merge(sql: str) -> str:
    """Resolve Trino's type-overloaded ``merge(sketch)`` aggregate
    (reference MergeQuantileDigestFunction.java /
    MergeTDigestAggregation.java / MergeHyperLogLogAggregation.java /
    setdigest MergeSetDigestAggregation — all @AggregationFunction
    "merge", dispatched on the argument's TYPE at plan time) to this
    engine's type-suffixed merge UDAFs. SQL text carries no types, but
    the usual spelling merges a column a visible sketch build produced
    — so infer the type from ``<producer>(...) AS alias`` occurrences
    in the same statement and rewrite ``merge(alias)`` accordingly,
    iterating to a fixpoint so chained merges resolve. A merge whose
    argument cannot be traced to a producer (e.g. a blob column read
    from storage) raises with the type-suffixed names as the remedy —
    strictly clearer than Spark's unresolved-function error."""
    ident = r"[A-Za-z_]\w*"
    for _ in range(8):
        lx = lex(sql)
        if lx.search(r"\bmerge\s*\(") is None:
            return sql
        # alias -> merge name, from every visible producer call
        amap: dict[str, str | None] = {}
        producer_alias_pos: set[int] = set()
        for m in lx.finditer(
            r"\b(%s)\s*\("
            % "|".join(sorted(_SKETCH_MERGE_FOR, key=len, reverse=True))
        ):
            open_idx = sql.index("(", m.start())
            try:
                close_idx = lx.close(open_idx)
            except Exception:
                continue
            am = re.match(
                r"\s+AS\s+(%s)" % ident, sql[close_idx + 1 :], re.I
            )
            if am is None:
                continue
            alias = am.group(1).lower()
            producer_alias_pos.add(close_idx + 1 + am.start(1))
            target = _SKETCH_MERGE_FOR[m.group(1).lower()]
            # two producers of different types under one alias name ->
            # ambiguous; poison the alias so resolution raises
            if amap.get(alias, target) != target:
                target = None
            amap[alias] = target
        # scope-blindness guard: the inference above matches an alias
        # ANYWHERE in the statement, so a non-producer `... AS d` in an
        # unrelated subquery could shadow a producer's `qdigest_agg(x)
        # AS d` and merge(d) would silently pick the wrong type. Poison
        # any inferred alias that also appears as a non-producer alias.
        # `merge(...) AS d` is exempt: a generic merge emits the same
        # sketch type it consumes, so re-aliasing its result (the
        # `merge(d) AS d` spelling) is type-consistent — and if the
        # merge itself is untraceable the statement raises anyway.
        if amap:
            for mm in lx.finditer(r"\bmerge\s*\("):
                open_idx = sql.index("(", mm.start())
                try:
                    close_idx = lx.close(open_idx)
                except Exception:
                    continue
                am = re.match(
                    r"\s+AS\s+(%s)" % ident, sql[close_idx + 1 :], re.I
                )
                if am is not None:
                    producer_alias_pos.add(close_idx + 1 + am.start(1))
            for am2 in lx.finditer(r"\bAS\s+(%s)" % ident):
                alias = am2.group(1).lower()
                if alias in amap and am2.start(1) not in producer_alias_pos:
                    amap[alias] = None
        progressed = False
        pos = 0
        while True:
            lx = lex(sql)
            m = lx.search(r"\bmerge\s*\(", pos)
            if m is None:
                break
            open_idx = sql.index("(", m.start())
            close_idx = lx.close(open_idx)
            args = lx.split(open_idx + 1, close_idx)
            arg = args[0].strip() if len(args) == 1 else ""
            key = arg.split(".")[-1].lower()
            target = (
                amap.get(key)
                if re.fullmatch(r"%s(\.%s)*" % (ident, ident), arg)
                else None
            )
            if target is None:
                pos = close_idx + 1
                continue
            sql = (
                sql[: m.start()]
                + target
                + sql[open_idx:]
            )
            progressed = True
            pos = m.start() + len(target) + (close_idx - open_idx) + 1
        if not progressed:
            break
    if lex(sql).search(r"\bmerge\s*\(") is not None:
        raise UnsupportedTrinoSyntax(
            "merge(sketch) dispatches on the argument's type, which this"
            " SQL front door can only infer from a sketch build visible"
            " in the same statement (e.g. qdigest_agg(x) AS d ..."
            " merge(d)); for sketch blobs read from storage use the"
            " type-suffixed names merge_qdigest / merge_tdigest /"
            " merge_hll / merge_set_digest"
        )
    return sql


def _rewrite_sketch_distinct(sql: str) -> str:
    """Plan ``sketch_agg(DISTINCT x) ... GROUP BY g`` by deduplicating
    the argument FIRST (reference AggregationNode mask/distinct
    planning: Trino lowers DISTINCT aggregates through MarkDistinct
    before the aggregation): Spark refuses DISTINCT on a Python UDAF
    outright, so the enclosing block rewrites to

        SELECT g, X_agg(__dx) FROM (
          SELECT DISTINCT g, x AS __dx FROM t [WHERE ..]) __sk_dedup
        GROUP BY g

    after which the PARTIAL->FINAL split applies to the deduped source
    as usual. Conservative canonical shape (like the two-level pass):
    plain aggregate block, bare group keys, every sketch build's
    DISTINCT argument identical, co-aggregates limited to
    count/sum/avg/min/max over the SAME ``DISTINCT x`` (equal by
    definition after dedup) or min/max over plain x (dedup-invariant).
    Any other shape leaves the single-level spelling, whose
    DISTINCT-on-pandas-UDAF error then surfaces unchanged."""
    pat = (
        r"\b(qdigest_agg|tdigest_agg|approx_set|make_set_digest)"
        r"\s*\(\s*DISTINCT\b"
    )
    guard = 0
    while guard < 50:
        guard += 1
        lx = lex(sql)
        m = lx.search(pat)
        if m is None:
            break
        d = lx.depth(m.start())
        # nearest enclosing SELECT: the build may sit nested inside a
        # reader scalar (value_at_quantile(qdigest_agg(DISTINCT x), q)),
        # so take the last prior SELECT at depth <= d
        sel = None
        for sm in lx.finditer(r"\bSELECT\b"):
            if sm.start() >= m.start():
                break
            if lx.depth(sm.start()) <= d:
                sel = sm
        if sel is None:
            sql = sql[: m.start()] + "__SKDKEEP_" + sql[m.start() :]
            continue
        end = lx.scope_end(sel.start())
        block = sql[sel.start() : end]
        rewritten = _sketch_block_distinct(block)
        if rewritten is None:
            sql = sql[: m.start()] + "__SKDKEEP_" + sql[m.start() :]
            continue
        sql = sql[: sel.start()] + rewritten + sql[end:]
    return re.sub(r"__SKDKEEP_([A-Za-z_]+)(\s*\()", r"\1\2", sql)


def _fold_nested_distinct_builds(
    expr: str, dargs: dict[str, str]
) -> tuple[str | None, int]:
    """Rewrite every ``build(DISTINCT x)`` nested inside a scalar item
    (e.g. value_at_quantile(qdigest_agg(DISTINCT x), 0.5)) to
    ``build(__dx)``, recording x in dargs. Returns (None, 0) when the
    item keeps any other aggregate machinery — a plain build, a bare
    count/sum/... call, or a leftover DISTINCT — since those would read
    the deduplicated source with changed semantics."""
    pat = (
        r"\b(qdigest_agg|tdigest_agg|approx_set|make_set_digest)"
        r"\s*\(\s*DISTINCT\b"
    )
    n = 0
    while True:
        lx = lex(expr)
        m = lx.search(pat)
        if m is None:
            break
        open_idx = expr.index("(", m.start())
        close_idx = lx.close(open_idx)
        arg = expr[open_idx + 1 : close_idx].strip()
        arg = re.sub(r"(?is)^DISTINCT\b\s*", "", arg)
        if "," in arg:
            return None, 0
        dargs.setdefault(_norm_expr(arg), arg)
        expr = (
            expr[: m.start()]
            + m.group(1)
            + "(__dx)"
            + expr[close_idx + 1 :]
        )
        n += 1
    leftover = (
        r"\b(qdigest_agg|tdigest_agg|approx_set|make_set_digest|count"
        r"|sum|avg|array_agg|listagg|collect_list|collect_set)\s*\("
    )
    lx = lex(expr)
    for lm in lx.finditer(leftover):
        if expr[lm.end() :].lstrip().startswith("__dx"):
            continue
        return None, 0
    if lx.search(r"\bDISTINCT\b") is not None:
        return None, 0
    # every bare identifier left must be __dx or a literal keyword —
    # a raw-table column reference would dangle once the outer query
    # reads only the dedup subquery (bail, never break a valid query)
    allowed = {
        "__dx", "case", "when", "then", "else", "end", "as", "is",
        "not", "null", "true", "false", "and", "or", "in", "like",
        "between", "interval", "asc", "desc", "double", "bigint",
        "int", "integer", "smallint", "tinyint", "varchar", "string",
        "decimal", "real", "boolean", "date", "timestamp", "float",
        "char", "binary", "escape",
    }
    for im in lx.finditer(r"[A-Za-z_]\w*", flags=0):
        if im.start() > 0 and expr[im.start() - 1] in "0123456789._":
            continue  # exponent / qualified tail
        rest = expr[im.end() :].lstrip()
        if rest.startswith("("):
            continue  # function name
        if im.group(0).lower() not in allowed:
            return None, 0
    # min/max over the raw argument are dedup-invariant; anything else
    # aggregate-shaped was caught above
    return expr, n


def _top_kw(lx, pattern: str):
    """First code match of ``pattern`` at paren depth 0."""
    return next(lx.at_depth(pattern, 0), None)


def _owning_select(lx, pos: int):
    """(SELECT match, FROM match) of the block that owns the clause at
    ``pos``: the last SELECT before pos at pos's depth and that block's
    first FROM. None when either is missing or the block is DISTINCT."""
    d = lx.depth(pos)
    sel = None
    for sel in lx.at_depth(r"\bSELECT\b", d, 0, pos):
        pass
    if sel is None or re.match(r"\s*DISTINCT\b", lx.text[sel.end() : pos], re.I):
        return None
    frm = next(lx.at_depth(r"\bFROM\b", d, sel.end(), pos), None)
    return None if frm is None else (sel, frm)


def _sketch_block_distinct(block: str) -> str | None:
    """Rewrite one SELECT block for the DISTINCT fold, or None to bail."""
    lx = lex(block)
    if any(map(is_comment, lx.toks)):
        return None  # single-line reassembly vs comments

    for bailer in (
        r"\bUNION\b", r"\bINTERSECT\b", r"\bEXCEPT\b", r"\bWINDOW\b",
        r"\bQUALIFY\b", r"\bSELECT\s+DISTINCT\b",
        r"\bGROUPING\s+SETS\b", r"\bROLLUP\b", r"\bCUBE\b", r"\bFETCH\b",
    ):
        if _top_kw(lx, bailer):
            return None
    if _top_kw(lx, r"\bOVER\b"):
        # r9: same hoist as the two-level split — a windowed co-item
        # over group keys / aggregate aliases wraps around the fold
        return _sketch_block_over_hoist(
            block, inner_rewrite=_sketch_block_distinct
        )
    fm = _top_kw(lx, r"\bFROM\b")
    if fm is None:
        return None
    gm = _top_kw(lx, r"\bGROUP\s+BY\b")
    tail_m = (
        _top_kw(lx, r"\bHAVING\b")
        or _top_kw(lx, r"\bORDER\s+BY\b")
        or _top_kw(lx, r"\bLIMIT\b")
        # bare OFFSET (no LIMIT/ORDER BY) must also land in the tail —
        # leaking it into the dedup subquery would apply it BEFORE the
        # aggregation instead of after
        or _top_kw(lx, r"\bOFFSET\b")
    )
    tail_start = tail_m.start() if tail_m else len(block)
    if gm and gm.start() > tail_start:
        return None
    items_text = block[len("SELECT") : fm.start()]
    source_end = gm.start() if gm else tail_start
    source_text = block[fm.end() : source_end].strip()
    keys = (
        [k for k in split(block[gm.end() : tail_start]) if k]
        if gm
        else []
    )
    if not all(re.fullmatch(r"[A-Za-z_]\w*", k) for k in keys):
        return None
    tail_text = block[tail_start:].strip()

    items_out: list[str] = []
    dargs: dict[str, str] = {}  # normalized -> first raw spelling
    builds = 0
    co_aggs = {"count", "sum", "avg", "min", "max"}
    for item in split(items_text):
        if not item.strip():
            continue
        expr, alias = _item_alias(item)
        if re.fullmatch(r"[A-Za-z_]\w*", expr) and _norm_expr(expr) in {
            _norm_expr(k) for k in keys
        }:
            items_out.append(item.strip())
            continue
        call = _parse_agg_call(expr)
        handled = False
        if call is not None and alias is not None:
            fname, args = call
            dm = re.match(r"(?is)^DISTINCT\b\s*", args)
            if fname in (
                "qdigest_agg", "tdigest_agg", "approx_set",
                "make_set_digest",
            ):
                if dm is None:
                    return None  # mixed distinct/plain builds: ambiguous
                arg = args[dm.end() :].strip()
                if "," in arg:
                    return None  # weighted DISTINCT has no dedup story
                dargs.setdefault(_norm_expr(arg), arg)
                builds += 1
                items_out.append(f"{fname}(__dx) AS {alias}")
                handled = True
            elif fname in co_aggs and dm is not None:
                arg = args[dm.end() :].strip()
                dargs.setdefault(_norm_expr(arg), arg)
                items_out.append(f"{fname}(__dx) AS {alias}")
                handled = True
            elif fname in ("min", "max"):
                dargs.setdefault(_norm_expr(args), args)  # dedup-inv.
                items_out.append(f"{fname}(__dx) AS {alias}")
                handled = True
        if not handled:
            # reader-wrapped spelling: scalar(s) around build(DISTINCT x)
            # — fold every nested DISTINCT build, then require the item
            # to carry no other aggregate machinery
            if alias is None:
                return None
            folded, n = _fold_nested_distinct_builds(expr, dargs)
            if folded is None or n == 0:
                return None
            builds += n
            items_out.append(f"{folded} AS {alias}")
    if builds == 0 or len(dargs) != 1:
        return None
    x_norm, x_raw = next(iter(dargs.items()))
    # HAVING/ORDER tails that reference the raw argument or their own
    # DISTINCT spellings would dangle after the rewrite — bail
    if tail_text and (
        re.search(r"(?i)\bDISTINCT\b", tail_text)
        or x_norm in _norm_expr(tail_text)
    ):
        return None
    inner_items = keys + [f"{x_raw} AS __dx"]
    inner = (
        f"SELECT DISTINCT {', '.join(inner_items)} FROM {source_text}"
    )
    out = f"SELECT {', '.join(items_out)} FROM ({inner}) __sk_dedup"
    if keys:
        out += " GROUP BY " + ", ".join(keys)
    if tail_text:
        out += " " + tail_text
    return out


def _rewrite_sketch_two_level(sql: str) -> str:
    """Plan build-side sketch SQL aggregates PARTIAL -> FINAL (reference
    sql/planner/plan/AggregationNode.java:347 Step.PARTIAL/FINAL): a
    grouped-agg pandas UDF has no map-side combine, so a bare
    ``qdigest_agg(x) ... GROUP BY g`` funnels every row of a group into
    one Python task. This pass rewrites the enclosing SELECT block into

        SELECT g, merge_X(__sp0) FROM (
          SELECT g, X_agg(v) AS __sp0 FROM t GROUP BY g, <salt(v)>
        ) __sk_part GROUP BY g

    so each group builds SKETCH_SALT_BUCKETS constant-size partials in
    parallel and only K-point blobs cross the final shuffle. Applies to
    the canonical aggregate shape (plain SELECT items over one FROM
    clause, optional WHERE/GROUP BY, everything aliased). JVM
    co-aggregates (_JVM_CO_AGGS) move to their own native aggregation
    tree joined back on null-safe group keys — Spark cannot place a
    GROUPED_AGG pandas UDF next to a JVM aggregate at any level, so
    mixed blocks would otherwise not run at all (r8). r7 widens the
    canonical shape one notch: FILTER (WHERE p) on the sketch argument folds to
    CASE WHEN p THEN x END (sketch aggs skip NULLs), and a HAVING whose
    predicate touches only group-key columns hoists into the source
    WHERE. Any other shape keeps the single-level plan unchanged — a
    conservative fallback, never an error. approx_set/make_set_digest merges are exact, so their results
    are bit-identical; qdigest/tdigest results are merge-grade (the same
    trade the reference takes for every PARTIAL->FINAL digest), with the
    salt deterministic so oracles can replay the exact partition."""
    pat = (
        r"\b(qdigest_agg_w|qdigest_agg|tdigest_agg_w|tdigest_agg|approx_set"
        r"|make_set_digest)\s*\("
    )

    def keep(s: str, start: int) -> str:
        # mark un-rewritable call so the scan loop skips it
        return s[:start] + "__SKKEEP_" + s[start:]

    guard = 0
    while guard < 200:
        guard += 1
        lx = lex(sql)
        m = lx.search(pat)
        if m is None:
            break
        # the ENCLOSING select: nearest preceding SELECT whose paren
        # scope still holds the call. A deeper preceding SELECT is a
        # sibling subquery (its scope closes before the call); a WRAPPED
        # call (hll_cardinality(approx_set(...))) sits deeper than its
        # own SELECT, so requiring equal depths — the pre-r8 rule —
        # never found its block at all.
        sel = next(
            (
                sm
                for sm in reversed(list(lx.finditer(r"\bSELECT\b", 0, m.start())))
                if lx.scope_end(sm.start()) > m.start()
            ),
            None,
        )
        if sel is None:
            sql = keep(sql, m.start())
            continue
        end = lx.scope_end(sel.start())
        block = sql[sel.start() : end]
        rewritten = _sketch_block_two_level(block)
        if rewritten is None:
            sql = keep(sql, m.start())
            continue
        sql = sql[: sel.start()] + rewritten + sql[end:]
    sql = re.sub(r"__SKPART_([a-z_]+)__\s*\(", r"\1(", sql)
    sql = re.sub(r"__SKKEEP_([A-Za-z_]+)(\s*\()", r"\1\2", sql)
    return sql


_OVER_HOIST_KEYWORDS = {
    "over", "partition", "by", "order", "asc", "desc", "nulls", "first",
    "last", "rows", "range", "groups", "between", "and", "unbounded",
    "preceding", "following", "current", "row", "case", "when", "then",
    "else", "end", "is", "not", "null", "true", "false", "in", "like",
    "interval", "as", "double", "bigint", "int", "integer", "smallint",
    "tinyint", "varchar", "string", "decimal", "real", "boolean", "date",
    "timestamp", "float",
}


_AGG_SHAPE_RE = re.compile(
    r"(?i)\b(count|sum|avg|min|max|stddev\w*|var\w*|approx_\w+"
    r"|qdigest_agg\w*|tdigest_agg\w*|approx_set|make_set_digest)"
    r"\s*\("
)


def _extract_embedded_aggs(
    expr: str, start_n: int
) -> tuple[str, list[tuple[str, str]]] | None:
    """A windowed item may EMBED a bare aggregate over the group —
    ``sum(count(*)) OVER ()`` (share-of-total) — which is valid on the
    original block but a MISSING_GROUP_BY above the hoist wrapper (the
    outer select has no GROUP BY). Rewrite: compute each embedded
    aggregate in the INNER block under a synthetic alias and reference
    the alias from the windowed item — it is then a column of the
    split's output like any aggregate alias. Returns (rewritten expr,
    [(alias, agg call text)]), or None to bail the hoist entirely
    (degenerate nesting). The window function itself — the call whose
    matching close paren is directly followed by OVER — is left alone."""
    lx = lex(expr)
    spans: list[tuple[int, int]] = []
    for m in lx.finditer(_AGG_SHAPE_RE):
        j = lx.closes.get(expr.index("(", m.end() - 1))
        if j is None:
            return None  # unbalanced — malformed, bail
        if re.match(r"(?i)OVER\b", expr[j + 1 :].lstrip()):
            continue  # the window function itself
        spans.append((m.start(), j + 1))
    # keep outermost spans only (an agg nested in an extracted agg
    # travels with its parent's text)
    kept: list[tuple[int, int]] = []
    for s, e in spans:
        if kept and s < kept[-1][1]:
            continue
        kept.append((s, e))
    if not kept:
        return expr, []
    out: list[tuple[str, str]] = []
    new = expr
    for s, e in reversed(kept):
        text = expr[s:e]
        if re.search(r"(?i)\bOVER\b", text):
            return None  # window nested inside an aggregate arg: bail
        alias = f"__sk_emb{start_n + len(out)}"
        out.append((alias, text))
        new = new[:s] + alias + new[e:]
    return new, out


def _sketch_block_over_hoist(block: str, inner_rewrite=None) -> str | None:
    """Hoist top-level windowed select items out of a sketch block so
    the remainder can rewrite (PARTIAL->FINAL split by default, the
    DISTINCT fold via ``inner_rewrite``). Returns the wrapped rewrite,
    or None to keep the single-level plan."""
    lx = lex(block)
    fm = _top_kw(lx, r"\bFROM\b")
    if fm is None:
        return None
    # strip a trailing ORDER BY/LIMIT/OFFSET — it runs AFTER the window
    # projection, so it re-attaches to the hoisted outer select
    tm = (
        _top_kw(lx, r"\bORDER\s+BY\b")
        or _top_kw(lx, r"\bLIMIT\b")
        or _top_kw(lx, r"\bOFFSET\b")
    )
    tail = ""
    if tm:
        tail = " " + block[tm.start():].strip()
        block = block[: tm.start()]
        lx = lex(block)
    gm = _top_kw(lx, r"\bGROUP\s+BY\b")
    if gm is None:
        return None
    hm = _top_kw(lx, r"\bHAVING\b")
    keys_end = hm.start() if hm else len(block)
    keys = [k for k in split(block[gm.end() : keys_end]) if k]
    if not all(re.fullmatch(r"[A-Za-z_]\w*", k) for k in keys):
        return None
    items_text = block[len("SELECT") : fm.start()]
    inner_items: list[str] = []
    outer_items: list[str] = []  # original order
    allowed = {k.lower() for k in keys}
    win_items: list[tuple[str, str]] = []
    emb_items: list[str] = []  # embedded-agg synthetic inner items
    for item in split(items_text):
        if not item.strip():
            return None
        expr, alias = _item_alias(item)
        if _top_kw(lex(expr), r"\bOVER\b") is None:
            inner_items.append(item.strip())
            if alias:
                out = alias
            elif re.fullmatch(r"[A-Za-z_][\w.]*", expr):
                out = expr.split(".")[-1]
            else:
                return None  # unaliased computed item: no outer name
            outer_items.append(out)
            allowed.add(out.lower())
        else:
            if alias is None:
                return None
            ext = _extract_embedded_aggs(expr, len(emb_items))
            if ext is None:
                return None
            expr, embs = ext
            for emb_alias, emb_text in embs:
                emb_items.append(f"{emb_text} AS {emb_alias}")
                allowed.add(emb_alias)
            win_items.append((expr, alias))
            outer_items.append(f"{expr} AS {alias}")
    if not win_items or not inner_items:
        return None
    inner_items += emb_items
    # every bare identifier a windowed item (and the re-attached tail)
    # reads must be a column of the split's output (group key or
    # aggregate alias); function names and window-grammar keywords are
    # skipped. The tail check matters: `ORDER BY max(y)` is valid SQL
    # on the ORIGINAL block but unresolvable above the wrapper — bail
    # to the single level (pre-hoist behavior) rather than break it.
    win_aliases = {a.lower() for _e, a in win_items}
    if tail and _AGG_SHAPE_RE.search(lex(tail).blank_strings()):
        return None  # aggregate-shaped tail: unresolvable above the wrap
    for expr in [e for e, _a in win_items] + ([tail] if tail else []):
        code = lex(expr).blank_strings()
        for im in re.finditer(r"[A-Za-z_]\w*", code):
            if im.start() > 0 and code[im.start() - 1] in "0123456789._":
                continue
            rest = code[im.end():].lstrip()
            if rest.startswith("("):
                continue  # function name
            t = im.group(0).lower()
            if (
                t not in allowed
                and t not in win_aliases
                and t not in _OVER_HOIST_KEYWORDS
                and t not in ("limit", "offset")
            ):
                return None
    inner_block = (
        "SELECT " + ", ".join(inner_items) + " " + block[fm.start():]
    ).strip()
    rewritten = (inner_rewrite or _sketch_block_two_level)(inner_block)
    if rewritten is None:
        return None
    return (
        f"SELECT {', '.join(outer_items)} FROM ({rewritten}) __sk_win"
        + tail
    )


def _sketch_block_two_level(block: str) -> str | None:
    """Rewrite one SELECT block (no enclosing parens) or None to bail."""
    # Comment guard: the rewrite reassembles clause fragments on one
    # line, so a '--' line comment in the source would swallow whatever
    # gets appended after it (WHERE/AND from the HAVING hoist, GROUP BY,
    # the closing paren). Bail to the single-level plan — conservative,
    # never wrong. String literals containing '--' are fine.
    lx = lex(block)
    if any(map(is_comment, lx.toks)):
        return None

    for bailer in (
        r"\bUNION\b", r"\bINTERSECT\b", r"\bEXCEPT\b", r"\bWINDOW\b",
        r"\bQUALIFY\b", r"\bSELECT\s+DISTINCT\b",
        r"\bGROUPING\s+SETS\b", r"\bROLLUP\b", r"\bCUBE\b",
        r"\bFETCH\b",
    ):
        if _top_kw(lx, bailer):
            return None
    if _top_kw(lx, r"\bOVER\b"):
        # r9 (VERDICT r8 task 7): a windowed co-item evaluates over the
        # AGGREGATED rows, so it hoists to a projection around the
        # split as long as every identifier it reads is a group key or
        # an aggregate alias of this block (both are columns of the
        # split's output). Anything else bails to the single level.
        return _sketch_block_over_hoist(block)
    # r8: outer ORDER BY [LIMIT [OFFSET]] hoists — result ordering runs
    # AFTER aggregation, so stripping it, splitting, and re-appending to
    # the OUTER select is semantics-preserving. Only when every sort
    # item is a bare alias / column / ordinal (an aggregate expression
    # like ORDER BY count(*) would change meaning over the partials).
    trailing = ""
    sort_cores: list[str] = []
    # a bare OFFSET (no ORDER BY/LIMIT) must be seen here too: the
    # m_tail fullmatch below rejects it (items/lim both empty) and we
    # bail to the single-level plan instead of emitting unparseable
    # inner SQL with the OFFSET stranded inside the partial block
    tm = (
        _top_kw(lx, r"\bORDER\s+BY\b")
        or _top_kw(lx, r"\bLIMIT\b")
        or _top_kw(lx, r"\bOFFSET\b")
    )
    if tm:
        tail = block[tm.start():].strip()
        m_tail = re.fullmatch(
            r"(?is)(ORDER\s+BY\s+(?P<items>.+?))?\s*"
            r"(LIMIT\s+(?P<lim>\d+))?\s*(OFFSET\s+(?P<off>\d+))?",
            tail,
        )
        if m_tail is None or not (m_tail.group("items") or m_tail.group("lim")):
            return None
        for item in split(m_tail.group("items") or "", angle=True):
            core = re.sub(
                r"(?is)\s+(ASC|DESC)?\s*(NULLS\s+(FIRST|LAST))?\s*$", "",
                item,
            ).strip()
            if core and not re.fullmatch(r"[A-Za-z_]\w*|\d+", core):
                return None
            if core:
                sort_cores.append(core)
        trailing = " " + tail
        block = block[: tm.start()]
        lx = lex(block)
    fm = _top_kw(lx, r"\bFROM\b")
    if fm is None:
        return None
    gm = _top_kw(lx, r"\bGROUP\s+BY\b")
    # r7: HAVING whose predicate touches ONLY group-key columns hoists
    # into the source WHERE (semantically identical — the predicate is
    # constant within each group) so the block still splits two-level.
    # Any other HAVING bails to the single-level plan.
    block_end = len(block)
    having_pred = None
    hm = _top_kw(lx, r"\bHAVING\b")
    if hm:
        if gm is None or hm.start() < gm.start():
            return None
        having_pred = block[hm.end() :].strip()
        block_end = hm.start()
    items_text = block[len("SELECT") : fm.start()]
    source_text = block[fm.end() : gm.start() if gm else block_end].strip()
    keys = (
        [k for k in split(block[gm.end() : block_end]) if k]
        if gm
        else []
    )
    if having_pred is not None:
        # safe only when every key is a plain column and every
        # identifier in the predicate is a key column or a plain SQL
        # keyword/literal — scalar or aggregate function names bail
        if not all(re.fullmatch(r"[A-Za-z_]\w*", k) for k in keys):
            return None
        allowed = {k.lower() for k in keys} | {
            "and", "or", "not", "in", "between", "like", "is", "null",
            "true", "false", "escape",
        }
        pred_code = lex(having_pred).blank_strings()
        if any(
            t.lower() not in allowed
            for t in re.findall(r"[A-Za-z_]\w*", pred_code)
        ):
            return None
        slx = lex(source_text)
        wm = None
        for m2 in slx.finditer(r"\bWHERE\b"):
            if slx.depth(m2.start()) == 0:
                wm = m2
        if wm is not None:
            source_text += f" AND ({having_pred})"
        else:
            source_text += f" WHERE {having_pred}"
    if any(re.fullmatch(r"\d+", k) for k in keys):
        return None  # GROUP BY ordinals: key exprs unknown textually
    norm_keys = {_norm_expr(k): k for k in keys}

    inner_items: list[str] = []
    inner_group: list[str] = list(keys)
    outer_items: list[str] = []
    outer_group: list[str] = []
    salts: list[str] = []
    exact_args: list[str] = []
    matched_keys: set[str] = set()
    plain_items: list[str] = []       # JVM co-aggregate tree select items
    key_plain_items: list[str] = []   # group keys in the JVM tree
    final_items: list[str] = []       # join-level select, original order
    join_refs: list[str] = []         # output names of the group keys
    j = 0
    n_sketch = 0
    n_wrapped = 0
    out_names: list[str] = []
    for item in split(items_text):
        if not item:
            return None
        expr, alias = _item_alias(item)
        nk = _norm_expr(expr)
        if nk in norm_keys:
            matched_keys.add(nk)
            if alias:
                inner_items.append(f"{expr} AS {alias}")
                ref = alias
            elif re.fullmatch(r"[A-Za-z_][\w.]*", expr):
                inner_items.append(expr)
                ref = expr.split(".")[-1]
            else:
                return None  # complex unaliased key: output name unclear
            out = alias or ref
            outer_items.append(f"{ref} AS {out}")
            outer_group.append(ref)
            key_plain_items.append(f"{expr} AS {out}")
            join_refs.append(out)
            final_items.append(f"__pa.{out} AS {out}")
            out_names.append(out)
            continue
        call = _parse_agg_call(expr)
        if call is None or alias is None:
            return None
        fname, args = call
        if re.match(r"(?is)^\s*DISTINCT\b", args):
            return None
        if fname not in _SKETCH_BUILD_FORMS and fname not in _JVM_CO_AGGS:
            # scalar-wrapped sketch build — the spelling a user writes
            # first: hll_cardinality(approx_set(x)),
            # values_at_quantiles(qdigest_agg(v), array(..)). The wrapper
            # (and any trailing literal-only arguments) moves to the
            # merge level; anything else bails the whole block.
            parts = split(args)
            inner_call = _parse_agg_call(parts[0]) if parts else None
            rest = [r.strip() for r in parts[1:]]
            if (
                inner_call is None
                or inner_call[0] not in _SKETCH_BUILD_FORMS
                or any(
                    t.lower() not in _WRAP_REST_OK
                    for r in rest
                    for t in re.findall(r"[A-Za-z_]\w*", r)
                )
            ):
                return None
            wrapper, (fname, args) = fname, inner_call
            if re.match(r"(?is)^\s*DISTINCT\b", args):
                return None
            n_wrapped += 1
        else:
            wrapper, rest = None, []
        if fname in _SKETCH_BUILD_FORMS:
            merge_name, needs_rank_salt = _SKETCH_BUILD_FORMS[fname]
            arg_list = split(args)
            want_arity = 2 if fname in ("qdigest_agg_w", "tdigest_agg_w") else 1
            if len(arg_list) != want_arity:
                return None
            if needs_rank_salt:
                # salt on the VALUE argument (first) — weighted builds
                # carry the weight in arg 2, which must not perturb the
                # deterministic salt the oracle replays
                salts.append(
                    f"pmod(CAST(floor({arg_list[0].strip()}) AS BIGINT),"
                    f" {SKETCH_SALT_BUCKETS})"
                )
            else:
                exact_args.append(args)
            inner_items.append(f"__SKPART_{fname}__({args}) AS __sp{j}")
            merged = f"{merge_name}(__sp{j})"
            if wrapper is not None:
                merged = f"{wrapper}({', '.join([merged] + rest)})"
            outer_items.append(f"{merged} AS {alias}")
            final_items.append(f"__sk.{alias} AS {alias}")
            n_sketch += 1
        elif fname in _JVM_CO_AGGS:
            # r8: mixed-aggregate blocks. Spark refuses a grouped-agg
            # pandas UDF alongside JVM aggregates in ONE aggregation
            # (INVALID_PANDAS_UDF_PLACEMENT) at every level, so without
            # this branch the query cannot run at all. The JVM co-aggs
            # move to their own native aggregation tree, joined back to
            # the sketch tree on null-safe group keys — two scans of the
            # source, which is the minimum Spark's placement rule allows,
            # and each tree keeps its ideal plan (JVM partial/final
            # hash agg; salted pandas PARTIAL -> blob-merge FINAL).
            plain_items.append(f"{fname}({args}) AS {alias}")
            final_items.append(f"__pa.{alias} AS {alias}")
        else:
            return None
        out_names.append(alias)
        j += 1
    if n_sketch == 0:
        return None
    # hoisted ORDER BY items must be OUTPUT columns of the block (or
    # ordinals within range): a group key absent from the select list is
    # sortable in the original query but unresolvable above the rewrite
    for core in sort_cores:
        if re.fullmatch(r"\d+", core):
            if not 1 <= int(core) <= len(out_names):
                return None
        elif core.lower() not in {o.lower() for o in out_names}:
            return None
    if n_wrapped and not plain_items:
        # A pure block of wrapped builds runs fine single-level, and the
        # registered single-level oracles (weighted/DISTINCT digests)
        # replay exactly that plan — only a MIXED block, which Spark
        # cannot run single-level at all, justifies changing the digest
        # to merge-grade under the wrapper.
        return None
    # group keys that never appear as select items still must flow up
    for i, k in enumerate(keys):
        if _norm_expr(k) not in matched_keys:
            inner_items.append(f"{k} AS __gk{i}")
            outer_group.append(f"__gk{i}")
            if plain_items:
                outer_items.append(f"__gk{i} AS __gk{i}")
                key_plain_items.append(f"{k} AS __gk{i}")
                join_refs.append(f"__gk{i}")
    if not salts:
        salts = [
            f"pmod(hash({', '.join(exact_args)}), {SKETCH_SALT_BUCKETS})"
        ]
    inner_group.extend(salts)
    inner = (
        "SELECT "
        + ", ".join(inner_items)
        + " FROM "
        + source_text
        + " GROUP BY "
        + ", ".join(inner_group)
    )
    outer = "SELECT " + ", ".join(outer_items) + f" FROM ({inner}) __sk_part"
    if outer_group:
        outer += " GROUP BY " + ", ".join(outer_group)
    if not plain_items:
        return outer + trailing
    # the mixed split scans the source TWICE (Spark cannot place the
    # pandas UDAF next to JVM aggregates in one aggregation), so a
    # nondeterministic source would feed the two trees different rows —
    # bail, surfacing Spark's own mixed-placement error, rather than
    # silently disagreeing with itself
    if re.search(
        r"(?i)\b(rand|randn|random|uuid|shuffle"
        r"|monotonically_increasing_id)\s*\("
        r"|\bLIMIT\b|\bTABLESAMPLE\b",
        lex(source_text).blank_strings(),
    ):
        return None
    jvm = "SELECT " + ", ".join(key_plain_items + plain_items)
    jvm += " FROM " + source_text
    if keys:
        jvm += " GROUP BY " + ", ".join(keys)
    # LEFT JOIN, not inner: both trees emit the same group set when a
    # group has rows, but a GLOBAL aggregation over ZERO rows is one row
    # on the JVM side (ANSI: count(*) = 0) and zero rows from an Arrow
    # grouped-agg UDAF (Spark platform behavior) — the left join keeps
    # the ANSI row with NULL sketches.
    cond = (
        " AND ".join(f"__pa.{r} <=> __sk.{r}" for r in join_refs)
        if join_refs
        else "true"
    )
    joined = (
        "SELECT " + ", ".join(final_items)
        + f" FROM ({jvm}) __pa LEFT JOIN ({outer}) __sk ON {cond}"
    )
    return joined + trailing


def _rewrite_bit_count(sql: str) -> str:
    """Trino bit_count(x, bits) -> Spark's 1-arg bit_count over the
    masked low `bits` (two's-complement popcount; Trino semantics).
    Paren-aware so composite first arguments (bit_count(abs(x), 8))
    rewrite too; 1-arg calls pass through."""
    pos = 0
    while True:
        lx = lex(sql)
        m = lx.search(r"\bbit_count\s*\(", pos)
        if m is None:
            return sql
        open_idx = sql.index("(", m.start())
        close_idx = lx.close(open_idx)
        args = lx.split(open_idx + 1, close_idx)
        if len(args) != 2:
            pos = open_idx + 1
            continue
        x, bits = args[0].strip(), args[1].strip()
        if bits == "64":
            repl = f"bit_count({x})"
        else:
            repl = (
                f"bit_count(({x}) & (shiftleft(cast(1 as bigint), {bits}) - 1))"
            )
        sql = sql[: m.start()] + repl + sql[close_idx + 1 :]
        pos = m.start() + len(repl)


def _rewrite_bing_tiles_around(sql: str) -> str:
    """4-arg bing_tiles_around(lat, lon, zoom, radius_km) -> the
    bing_tiles_around_radius pandas UDF (reference overloads the name,
    BingTileFunctions.java:169/:202; Spark cannot). 3-arg calls hit the
    SQL macro unchanged."""
    pos = 0
    while True:
        lx = lex(sql)
        m = lx.search(r"\bbing_tiles_around\s*\(", pos)
        if m is None:
            return sql
        open_idx = sql.index("(", m.start())
        close_idx = lx.close(open_idx)
        args = lx.split(open_idx + 1, close_idx)
        if len(args) != 4:
            pos = open_idx + 1
            continue
        repl = f"bing_tiles_around_radius({', '.join(a.strip() for a in args)})"
        sql = sql[: m.start()] + repl + sql[close_idx + 1 :]
        pos = m.start() + len(repl)


def _rewrite_features(sql: str) -> str:
    """features(d1, d2, ...) -> map(0, CAST(d1 AS DOUBLE), 1, ...)
    (reference plugin/trino-ml MLFeaturesFunctions — a variadic
    map(bigint, double) builder)."""
    pos = 0
    while True:
        lx = lex(sql)
        m = lx.search(r"\bfeatures\s*\(", pos)
        if m is None:
            return sql
        open_idx = sql.index("(", m.start())
        close_idx = lx.close(open_idx)
        args = [a.strip() for a in lx.split(open_idx + 1, close_idx)]
        # emit map_from_arrays directly: the late segment pass rewrites
        # every non-empty map( to map_from_arrays( (Trino's 2-array MAP
        # constructor), which would mangle an interleaved map() here
        keys = ", ".join(f"{i}L" for i in range(len(args)))
        vals = ", ".join(f"CAST({a} AS DOUBLE)" for a in args)
        repl = f"map_from_arrays(array({keys}), array({vals}))"
        sql = sql[: m.start()] + repl + sql[close_idx + 1 :]
        pos = m.start() + len(repl)


def _rewrite_color_family(sql: str) -> str:
    """Arity overloads of the reference ColorFunctions.java that a
    single-namespace registry cannot express directly:
      color(frac, lo, hi)            -> color_interp(frac, lo, hi)
      color(v, low, high, lc, hc)    -> color_interp((v-low)/(high-low), lc, hc)
      bar(p, w)                      -> bar(p, w, rgb(255,0,0), rgb(0,255,0))
      render(bool)                   -> green check / red cross renders
    1-arg color and 2-arg render resolve to the registered UDFs as-is."""
    for name in ("color", "bar", "render"):
        pos = 0
        while True:
            lx = lex(sql)
            m = lx.search(r"\b%s\s*\(" % name, pos)
            if m is None:
                break
            open_idx = sql.index("(", m.start())
            close_idx = lx.close(open_idx)
            args = [a.strip() for a in lx.split(open_idx + 1, close_idx)]
            repl = None
            if name == "color" and len(args) == 3:
                repl = f"color_interp({args[0]}, {args[1]}, {args[2]})"
            elif name == "color" and len(args) == 5:
                v, lo, hi, lc, hc = args
                repl = (
                    f"color_interp((({v}) - ({lo})) * 1.0e0 /"
                    f" (({hi}) - ({lo})), {lc}, {hc})"
                )
            elif name == "bar" and len(args) == 2:
                repl = (
                    f"bar({args[0]}, {args[1]}, rgb(255, 0, 0),"
                    f" rgb(0, 255, 0))"
                )
            elif name == "render" and len(args) == 1:
                repl = (
                    f"CASE WHEN {args[0]} THEN"
                    " render('✓', color('green'))"
                    " ELSE render('✗', color('red')) END"
                )
            if repl is None:
                pos = open_idx + 1
                continue
            sql = sql[: m.start()] + repl + sql[close_idx + 1 :]
            pos = m.start() + len(repl)
    return sql


def _rewrite_none_match(sql: str) -> str:
    """none_match(x, f) (reference ArrayNoneMatchFunction) ->
    (NOT exists(x, f)) — needs paren matching, not a plain rename."""
    while True:
        lx = lex(sql)
        m = lx.search(r"\bnone_match\s*\(")
        if m is None:
            return sql
        open_idx = sql.index("(", m.start())
        close_idx = lx.close(open_idx)
        inner = sql[open_idx + 1 : close_idx]
        sql = f"{sql[: m.start()]}(NOT exists({inner})){sql[close_idx + 1 :]}"


def _rewrite_tablesample(sql: str) -> str:
    """TABLESAMPLE BERNOULLI(p) / SYSTEM(p) (reference SqlBase.g4:333) ->
    Spark's TABLESAMPLE (p PERCENT). BERNOULLI row-sampling maps exactly;
    SYSTEM is split-based in both engines (approximate by contract)."""
    return re.sub(
        r"\bTABLESAMPLE\s+(?:BERNOULLI|SYSTEM)\s*\(([^)]+)\)",
        r"TABLESAMPLE (\1 PERCENT)",
        sql,
        flags=re.I,
    )


def rewrite_table_ptfs(sql: str, schema_of=None) -> str:
    """The SQL-text spelling of the polymorphic table functions
    (reference SPI ConnectorTableFunction; built-ins `sequence` and
    `exclude_columns`, invoked as ``FROM TABLE(fn(...))`` — SURVEY.md
    §2.8; operator forms in operators/table_functions.py):

      TABLE(sequence(start => a, stop => b[, step => c]))
        -> (SELECT id AS sequential_number FROM range(a, b±1, c))
           (inclusive stop, like the reference; Spark's range TVF is a
           parallel partitioned source, so no driver materialization)
      TABLE(exclude_columns(input => TABLE(t), columns => DESCRIPTOR(..)))
        -> (SELECT <remaining columns> FROM t)

    exclude_columns needs the input's column list, which SQL text does
    not carry — the engine passes ``schema_of`` (a LIMIT-0 probe
    against its own registered views) to resolve it, mirroring how the
    reference's analyzer asks the PTF for its returned-type descriptor
    at analysis time. Positional and named (=>)" arguments both work;
    any other TABLE(fn(...)) raises with the supported names."""
    ident = r"[A-Za-z_]\w*"
    guard = 0
    while guard < 50:
        guard += 1
        lx = lex(sql)
        m = lx.search(r"\bTABLE\s*\(")
        if m is None:
            return sql
        open_idx = sql.index("(", m.start())
        close_idx = lx.close(open_idx)
        inner = sql[open_idx + 1 : close_idx].strip()
        fm = re.match(r"(?is)^(%s)\s*\(" % ident, inner)
        if fm is None or fm.group(1).lower() not in (
            "sequence",
            "exclude_columns",
        ):
            raise UnsupportedTrinoSyntax(
                "TABLE(...) supports the built-in table functions"
                " sequence(start, stop[, step]) and"
                " exclude_columns(input, columns); got: "
                + inner[:80]
            )
        f_open = inner.index("(", fm.start(1))
        f_close = lex(inner).close(f_open)
        raw_args = split(inner[f_open + 1 : f_close])
        named: dict[str, str] = {}
        positional: list[str] = []
        for a in raw_args:
            nm = re.match(r"(?is)^\s*(%s)\s*=>\s*(.*)$" % ident, a)
            if nm:
                named[nm.group(1).lower()] = nm.group(2).strip()
            else:
                positional.append(a.strip())
        if fm.group(1).lower() == "sequence":
            order = ("start", "stop", "step")
            for name, val in zip(order, positional):
                named.setdefault(name, val)
            if "start" not in named or "stop" not in named:
                raise UnsupportedTrinoSyntax(
                    "sequence table function needs start and stop"
                )
            start = named["start"]
            stop = named["stop"]
            step = named.get("step", "1")
            lit = re.fullmatch(r"-?\d+", step.strip())
            if lit:
                end = f"({stop}) + {1 if int(step) > 0 else -1}"
            else:
                end = (
                    f"({stop}) + (CASE WHEN ({step}) > 0"
                    f" THEN 1 ELSE -1 END)"
                )
            repl = (
                f"(SELECT id AS sequential_number FROM"
                f" range(({start}), {end}, ({step})))"
            )
        else:
            order = ("input", "columns")
            for name, val in zip(order, positional):
                named.setdefault(name, val)
            if "input" not in named or "columns" not in named:
                raise UnsupportedTrinoSyntax(
                    "exclude_columns needs input and columns"
                )
            src = named["input"].strip()
            tm = re.match(r"(?is)^TABLE\s*\(", src)
            if tm:
                src = src[src.index("(") + 1 : lex(src).close(src.index("(")
                )].strip()
            dm = re.match(r"(?is)^DESCRIPTOR\s*\(", named["columns"])
            if dm is None:
                raise UnsupportedTrinoSyntax(
                    "exclude_columns columns must be a DESCRIPTOR(...)"
                )
            c_open = named["columns"].index("(")
            c_close = lex(named["columns"]).close(c_open)
            drop = {
                c.strip().split()[0].strip('"').lower()
                for c in split(
                    named["columns"][c_open + 1 : c_close]
                )
            }
            if schema_of is None:
                raise UnsupportedTrinoSyntax(
                    "exclude_columns needs schema resolution; run it"
                    " through Engine.sql"
                )
            src_sql = (
                src if re.fullmatch(ident, src) else f"({src}) __xc_probe"
            )
            cols = list(schema_of(src_sql))
            missing = drop - {c.lower() for c in cols}
            if missing:
                raise UnsupportedTrinoSyntax(
                    "exclude_columns: no such column(s): "
                    + ", ".join(sorted(missing))
                )
            keep = [c for c in cols if c.lower() not in drop]
            if not keep:
                raise UnsupportedTrinoSyntax(
                    "exclude_columns would drop every column"
                )
            body = src if re.fullmatch(ident, src) else f"({src}) __xc"
            repl = f"(SELECT {', '.join(keep)} FROM {body})"
        sql = sql[: m.start()] + repl + sql[close_idx + 1 :]
    return sql


def transpile(sql: str) -> str:
    """Rewrite a Trino-dialect query into Spark SQL. Raises
    UnsupportedTrinoSyntax for constructs with no faithful mapping."""
    # User-written element_at -> try_element_at BEFORE bracket rewriting:
    # Trino element_at returns NULL out of bounds (= Spark try_element_at
    # under ANSI), while Trino's [] subscript errors out of bounds — which
    # is exactly the strict element_at the bracket rewrite emits below.
    sql = _rewrite_unicode_literals(sql)
    sql = _rewrite_typed_literals(sql)
    sql = _rewrite_extract_fields(sql)
    sql = lex(sql).map_code(
        lambda p: re.sub(r"\belement_at\s*\(", "try_element_at(", p, flags=re.I)
    )
    # bracket constructs BEFORE TRY so TRY(a[i]) sees the decomposable
    # element_at form (string-aware scanner: ARRAY literals and subscripts
    # may contain string literals)
    sql = _rewrite_brackets(sql)
    sql = _rewrite_try(sql)
    sql = _rewrite_listagg(sql)
    sql = _rewrite_none_match(sql)
    sql = _rewrite_bit_count(sql)
    sql = _rewrite_bing_tiles_around(sql)
    sql = _rewrite_color_family(sql)
    sql = _rewrite_features(sql)
    sql = _rewrite_sketch_filter(sql)
    sql = _rewrite_weighted_digests(sql)
    sql = _rewrite_generic_merge(sql)
    sql = _rewrite_sketch_distinct(sql)
    sql = _rewrite_sketch_two_level(sql)
    sql = _rewrite_agg_calls(sql)
    sql = _rewrite_tablesample(sql)
    sql = _rewrite_fetch_ties(sql)
    sql = _rewrite_quantified(sql)
    sql = _rewrite_at_time_zone(sql)
    sql = _rewrite_json_casts(sql)
    sql = _rewrite_cast_types(sql)
    if lex(sql).search(r"\bMATCH_RECOGNIZE\b") is not None:
        raise UnsupportedTrinoSyntax(
            "MATCH_RECOGNIZE has no SQL form here; use the DataFrame"
            " operator witdb_spark.operators.match_recognize (same PATTERN/"
            "DEFINE semantics, MEASURES as ordinary aggs over match_id)"
        )
    sql = _rewrite_unnest(sql)
    sql = _rewrite_numeric_histogram(sql)
    # then segment-local rewrites (never touch strings or comments)
    sql = lex(sql).map_code(_rewrite_segment)
    sql = _rewrite_with_strings(sql)
    sql = _rewrite_year_month_ranges(sql)
    sql = _rewrite_year_ranges(sql)
    sql = _rewrite_rollup_prestage(sql)
    from witdb_spark.plans.eager_agg import rewrite_cte_selfjoin_narrow

    return rewrite_cte_selfjoin_narrow(sql)


_ROLLUP_HEAD = re.compile(r"\bGROUP\s+BY\s+(ROLLUP|CUBE)\s*\(", re.I)
_CLAUSE_AFTER_GROUP = re.compile(
    r"\b(ORDER\s+BY|LIMIT|OFFSET|FETCH|UNION|INTERSECT|EXCEPT|WINDOW)\b", re.I
)
_SET_OP = re.compile(r"\b(UNION|INTERSECT|EXCEPT)\b", re.I)
_SIMPLE_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*$")

#: Every `name(`-shaped call in a candidate block must be positively
#: classified for the pre-aggregation rewrites to fire (VERDICT r15: the
#: old check consulted an aggregate-name list, so an aggregate MISSING
#: from the list was invisible and the rewrite could silently feed it
#: pre-aggregated rows). Names here can never be aggregate calls —
#: keywords that precede '(' in SQL, plus scalar functions appearing in
#: the query corpus. Anything not listed, not SUM/COUNT/GROUPING, and
#: not a window call (followed by OVER) makes the block ineligible.
_NONAGG_CALL_NAMES = frozenset(
    """as from in on and or not where by over partition rows range between
    when then else case end rollup cube grouping values exists decimal
    varchar char numeric int integer bigint smallint tinyint double float
    real date timestamp time interval boolean array map row struct
    cast try_cast coalesce nullif if ifnull nvl nvl2 greatest least
    abs round floor ceil ceiling sign sqrt cbrt exp ln log log2 log10
    power pow mod pmod truncate year month day dayofmonth dayofweek
    dayofyear hour minute second quarter week weekofyear date_trunc
    trunc date_add date_sub date_diff datediff add_months last_day
    extract to_date to_timestamp from_unixtime unix_timestamp
    substr substring concat concat_ws length lower upper trim ltrim
    rtrim lpad rpad replace translate split regexp_like regexp_extract
    regexp_replace like rlike position instr locate reverse repeat
    strpos starts_with ends_with contains format_number typeof""".split()
)


#: Columns the year-range rewrite may fire on: the catalog's temporal
#: columns (parquet timestamp_ntz — year() over them is session-zone
#: independent, and NTZ bound predicates push to the parquet scan).
#: year() over any OTHER expression is left alone: the rewrite cannot
#: see types, so it trusts only these fixed-schema names — and skips a
#: name entirely if the query aliases anything AS that name.
_YEAR_RANGE_COLS = ("l_shipdate", "o_orderdate", "ts")

_YEAR_CMP = re.compile(
    r"\byear\s*\(\s*(?P<col>(?:[A-Za-z_][A-Za-z0-9_]*\.)?(?P<base>{names}))"
    # year literals end with (?![\w.]) rather than \b so a fractional
    # literal (year(ts) = 1996.5, BETWEEN 1995 AND 1997.5) never matches
    # partially and corrupts the splice (ADVICE r15) — the predicate is
    # left untouched instead.
    r"\s*\)\s*(?:"
    r"(?P<op><=|>=|<|>|=)\s*(?P<y>\d{{4}})(?![\w.])"
    r"|(?P<in>IN)\s*\(\s*(?P<list>\d{{4}}(?:\s*,\s*\d{{4}})*)\s*\)"
    r"|(?P<bet>BETWEEN)\s+(?P<y1>\d{{4}})\s+AND\s+(?P<y2>\d{{4}})(?![\w.])"
    r")".format(names="|".join(_YEAR_RANGE_COLS)),
    re.I,
)


def _year_bound(y: int) -> str:
    return f"TIMESTAMP_NTZ '{y}-01-01 00:00:00'"


def _year_range_expr(col: str, lo: int, hi_excl: int) -> str:
    return f"({col} >= {_year_bound(lo)} AND {col} < {_year_bound(hi_excl)})"


_MONTH_CMP = re.compile(
    r"\byear\s*\(\s*(?P<col>(?:[A-Za-z_][A-Za-z0-9_]*\.)?(?P<base>{names}))\s*\)"
    r"\s*=\s*(?P<y>\d{{4}})(?![\w.])\s+AND\s+"
    r"month\s*\(\s*(?P<col2>(?:[A-Za-z_][A-Za-z0-9_]*\.)?(?P<base2>{names}))\s*\)"
    r"\s*=\s*(?P<m>\d{{1,2}})(?![\w.])".format(
        names="|".join(_YEAR_RANGE_COLS)
    ),
    re.I,
)


def _month_bound(y: int, mo: int) -> str:
    return f"TIMESTAMP_NTZ '{y}-{mo:02d}-01 00:00:00'"


def _rewrite_year_month_ranges(sql: str) -> str:
    """``year(col) = Y AND month(col) = M`` -> one NTZ month range.

    Runs BEFORE _rewrite_year_ranges (which would otherwise consume the
    year() half alone and leave the month() half unsargable). Same total
    per-expression equivalence as the year rewrite — NULL input yields
    NULL under both spellings, the conjunction is replaced as a unit so
    it composes under OR/CASE — and the month range prunes 12x tighter
    than the year range at the scan. A conjunction right after NOT is
    left alone: NOT binds tighter than AND, so it negates only the
    year() comparison (which _rewrite_year_ranges then rewrites on its
    own). Fires only on the fixed NTZ catalog columns, both sides
    naming the SAME column, never inside strings, and skips re-aliased
    names (guide §6)."""
    skip = {
        name
        for name in _YEAR_RANGE_COLS
        if lex(sql).search(rf"\bAS\s+{name}\b")
    }
    while True:
        lx = lex(sql)
        m = None
        for cand in lx.finditer(_MONTH_CMP):
            if (
                cand.group("base").lower() not in skip
                and cand.group("col").lower() == cand.group("col2").lower()
                and 1 <= int(cand.group("m")) <= 12
                and (lx.prev_code_token(cand.start()) or "").upper() != "NOT"
            ):
                m = cand
                break
        if m is None:
            return sql
        col, y, mo = m.group("col"), int(m.group("y")), int(m.group("m"))
        hi = _month_bound(y + 1, 1) if mo == 12 else _month_bound(y, mo + 1)
        repl = f"({col} >= {_month_bound(y, mo)} AND {col} < {hi})"
        sql = sql[: m.start()] + repl + sql[m.end() :]


def _rewrite_year_ranges(sql: str) -> str:
    """Turn sargable year() predicates into NTZ range predicates.

    ``year(col) = 1996`` evaluates the extraction per row and — being a
    function of the column — never reaches the parquet scan, so
    PushedFilters carries only IsNotNull and every row group is read
    and decoded (guide §6: predicate pushdown must reach the scan).
    The equivalent range form

        (col >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
         AND col < TIMESTAMP_NTZ '1997-01-01 00:00:00')

    pushes both bounds (GreaterThanOrEqual/LessThan on NTZ, verified in
    the plan gate), enabling row-group/page statistics pruning — and at
    production scale, partition pruning on date-partitioned layouts.
    The equivalence is per-expression and total: for every timestamp
    value (and NULL, where both spellings are NULL) the two forms agree,
    in any context — WHERE, JOIN ON, CASE, under NOT. Handled shapes:
    ``=``, ``<``, ``<=``, ``>``, ``>=``, ``IN (literal years)`` (one
    range when contiguous, OR of ranges otherwise) and ``BETWEEN``.
    Only fires on the catalog's fixed NTZ columns (_YEAR_RANGE_COLS),
    never inside string literals, and a name the query re-aliases
    (``AS <name>``) is skipped outright — the Spark-side text changes,
    the DuckDB oracle text never does."""
    skip = {
        name
        for name in _YEAR_RANGE_COLS
        if lex(sql).search(rf"\bAS\s+{name}\b")
    }
    while True:
        m = next(
            (
                cand
                for cand in lex(sql).finditer(_YEAR_CMP)
                if cand.group("base").lower() not in skip
            ),
            None,
        )
        if m is None:
            return sql
        col = m.group("col")
        if m.group("op"):
            op, y = m.group("op"), int(m.group("y"))
            if op == "=":
                repl = _year_range_expr(col, y, y + 1)
            elif op == "<":
                repl = f"({col} < {_year_bound(y)})"
            elif op == "<=":
                repl = f"({col} < {_year_bound(y + 1)})"
            elif op == ">":
                repl = f"({col} >= {_year_bound(y + 1)})"
            else:  # >=
                repl = f"({col} >= {_year_bound(y)})"
        elif m.group("in"):
            years = sorted({int(v) for v in m.group("list").split(",")})
            if years == list(range(years[0], years[-1] + 1)):
                repl = _year_range_expr(col, years[0], years[-1] + 1)
            else:
                repl = (
                    "("
                    + " OR ".join(
                        _year_range_expr(col, y, y + 1) for y in years
                    )
                    + ")"
                )
        else:  # BETWEEN
            y1, y2 = int(m.group("y1")), int(m.group("y2"))
            repl = _year_range_expr(col, y1, y2 + 1)
        sql = sql[: m.start()] + repl + sql[m.end() :]


def _top_chars(e: str, chars: str):
    """(index, char) of each character of ``chars`` that sits in code at
    the top level of ``e`` (outside every ()/[] group)."""
    lx = lex(e)
    for k in lx.top_level():
        t = lx.toks[k]
        if len(t) == 1 and t in chars:
            yield lx.starts[k], t


def _top_binary_ops(e: str, ops: str):
    """Indices of top-level operators in ``ops`` that follow an operand
    (an identifier, number or closing paren), i.e. binary, not unary."""
    for i, _c in _top_chars(e, ops):
        prev = e[:i].rstrip()
        if i > 0 and prev and (prev[-1].isalnum() or prev[-1] in ")_."):
            yield i


def _is_decimal_cast(arg: str, dec_cols: frozenset[str] = frozenset()) -> bool:
    """True when the whole expression is provably DECIMAL-typed, so SUM
    over it is exact decimal summation (associative — the two-level
    pre-aggregation rewrites are then value-identical, ADVICE r15; a
    double-typed SUM would reorder float addition and is refused).
    Grammar of provably-decimal expressions: an outermost
    ``CAST(... AS DECIMAL(p,s))`` (the corpus's exactness idiom); a
    plain/qualified column listed in ``dec_cols`` (resolved from its
    ``AS name`` definitions by _decimal_typed_cols); a numeric literal
    without an exponent (Spark types ``0`` / ``0.5`` as exact
    decimals; ``0.5e0`` is a double and refused); CASE / COALESCE /
    SUM over decimal expressions; and +,-,* combinations of these
    (Spark's decimal arithmetic yields decimals; any internal rounding
    or overflow behaves identically on both sides of the rewrite
    because the ARGUMENT expression itself is never altered)."""
    a = arg.strip()
    if not a:
        return False
    # strip one layer of wrapping parens
    if a.startswith("("):
        try:
            if lex(a).close(0) == len(a) - 1:
                return _is_decimal_cast(a[1:-1], dec_cols)
        except Exception:
            return False
    if re.fullmatch(r"(?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*", a):
        return a.rsplit(".", 1)[-1].lower() in dec_cols
    if re.fullmatch(r"\d+(\.\d+)?", a):
        return True  # exact integer/decimal literal
    cm = re.match(r"^CASE\b(.*)\bEND$", a, re.I | re.S)
    if cm:
        branches = re.findall(
            r"\b(?:THEN|ELSE)\b(.*?)(?=\bWHEN\b|\bELSE\b|$)",
            cm.group(1),
            re.I | re.S,
        )
        return bool(branches) and all(
            _is_decimal_cast(b, dec_cols) for b in branches
        )
    # top-level +,-,* : every operand must be decimal
    for i in _top_binary_ops(a, "+-*"):
        return _is_decimal_cast(a[:i].rstrip(), dec_cols) and _is_decimal_cast(
            a[i + 1 :], dec_cols
        )
    fm = re.match(r"(CAST|COALESCE|SUM)\s*\(", a, re.I)
    if not fm:
        return False
    try:
        close = lex(a).close(fm.end() - 1)
    except Exception:
        return False
    if close != len(a) - 1:
        return False
    inner = a[fm.end() : close]
    head = fm.group(1).upper()
    if head == "CAST":
        return bool(
            re.search(
                r"\bAS\s+DECIMAL\s*\(\s*\d+\s*,\s*\d+\s*\)\s*$", inner, re.I
            )
        )
    if head == "COALESCE":
        return all(
            _is_decimal_cast(p, dec_cols) for p in split(inner, angle=True)
        )
    # SUM over a decimal expression is decimal-typed
    return _is_decimal_cast(inner, dec_cols)


def _decimal_typed_cols(sql: str) -> frozenset[str]:
    """Column names whose EVERY ``AS <name>`` definition in the text is a
    provably decimal-typed expression (_is_decimal_cast grammar) — so
    SUM over the bare name is decimal summation. Definitions may
    reference other defined names (q77's ``profit - coalesce(...)``
    chains through two CTE levels), so membership is solved to a
    fixpoint; a name also defined anywhere as anything non-decimal is
    excluded."""
    lx = lex(sql)
    defs: list[tuple[str, str]] = []
    for m in lx.finditer(r"\bAS\s+([A-Za-z_]\w*)"):
        name = m.group(1).lower()
        # the expression this AS closes starts after the previous
        # same-depth comma or the enclosing opening paren (the
        # select-list item boundary)
        o = lx.encl(m.start())
        c = sql.rfind(",", o + 1, m.start())
        while c >= 0 and (lx.encl(c) != o or not lx.is_code(c)):
            c = sql.rfind(",", o + 1, c)
        expr = sql[max(o, c) + 1 : m.start()]
        expr = re.sub(r"^\s*SELECT\b", "", expr, flags=re.I)
        defs.append((name, expr))
    # Greatest fixpoint: start from every defined name and remove any
    # whose SOME definition is not provably decimal under the current
    # assumption set (a union branch like ``coalesce(returns_amt, CAST(0
    # AS DECIMAL(30,6)))`` references the sibling scope's column of the
    # same name, so the least fixpoint cannot bootstrap). Soundness
    # anchor: a name that is also a PHYSICAL catalog column is never
    # assumed decimal — the fixture schemas carry no decimal columns, so
    # every real value chain must ground out in an explicit decimal CAST
    # or an exact literal; an assumption set member that cannot is
    # removed by the AND rule.
    from witdb_spark.catalog import TABLE_COLUMNS

    physical = {c for cols in TABLE_COLUMNS.values() for c in cols}
    dec = frozenset(
        {n for n, _ in defs if n not in physical}
    )
    # each pass that changes dec removes at least one name, so
    # len(defs) + 1 passes always reach the fixpoint
    for _ in range(len(defs) + 1):
        status: dict[str, bool] = {}
        for name, expr in defs:
            ok = _is_decimal_cast(expr, dec)
            status[name] = status.get(name, True) and ok
        new = frozenset(
            n for n, ok in status.items() if ok and n not in physical
        )
        if new == dec:
            break
        dec = new
    return dec


@lru_cache(maxsize=8)
def _cte_bodies(sql: str) -> dict[str, str]:
    """``name AS ( body )`` spans found anywhere in the text."""
    out: dict[str, str] = {}
    lx = lex(sql)
    for m in lx.finditer(r"\b([A-Za-z_]\w*)\s+AS\s*\("):
        try:
            close = lx.close(m.end() - 1)
        except UnsupportedTrinoSyntax:
            continue
        out[m.group(1).lower()] = sql[m.end() : close]
    return out


@lru_cache(maxsize=64)
def _decimal_cols_for_scope(sql: str, scope_text: str) -> frozenset[str]:
    """Decimal-typed column names visible FROM a block's own source
    subtree: the block's FROM text plus the bodies of every CTE it
    references, transitively. Scoping matters — an unrelated outer
    ``CAST(SUM(sales) AS DOUBLE) AS sales`` must not poison the CTE's
    decimal ``sales`` (q77/q80 shape)."""
    bodies = _cte_bodies(sql)
    texts, seen = [scope_text], set()
    frontier = [scope_text]
    while frontier:
        t = frontier.pop()
        for tok in re.findall(r"[A-Za-z_]\w*", t):
            n = tok.lower()
            if n in bodies and n not in seen:
                seen.add(n)
                texts.append(bodies[n])
                frontier.append(bodies[n])
    return _decimal_typed_cols("\n".join(texts))


def _rewrite_rollup_prestage(sql: str) -> str:
    """Pre-aggregate at the finest grouping before ROLLUP/CUBE.

    Spark plans GROUP BY ROLLUP as Expand (one input-row copy per
    grouping set) followed by a hash aggregate, so every raw row is
    copied G times and every aggregate argument is evaluated G times —
    on a fact-table rollup that multiplies the dominant stage by the
    number of grouping sets (guide §2.3: aggregate before you shuffle).
    SUM and COUNT(*) decompose exactly (decimal addition is
    associative), so the block

        SELECT ... SUM(e) ... COUNT(*) ... FROM f GROUP BY ROLLUP (k...)

    becomes

        SELECT ... SUM(__roll_sN) ... SUM(__roll_cnt) ...
        FROM (SELECT k..., SUM(e) AS __roll_sN, COUNT(*) AS __roll_cnt
              FROM f GROUP BY k...) __roll_pre
        GROUP BY ROLLUP (k...)

    and Expand runs over one row per finest-level group instead of one
    per input row (measured on the q67 shape: 2.7x less executor CPU,
    identical results). The rewrite fires only when it is provably
    value-identical: every aggregate call in the block is a plain SUM
    or COUNT(*) (no DISTINCT, no FILTER, not a window call), the block
    has no scalar subquery in its SELECT list or HAVING, and grouping
    keys are plain columns or self-contained expressions. NULL grouping
    values, GROUPING() bits, and HAVING all survive unchanged: the
    pre-stage groups data NULLs exactly as the rollup did, and the
    outer query keeps the original ROLLUP/CUBE over the same keys."""
    search_from = 0
    while True:
        lx = lex(sql)
        m = lx.search(_ROLLUP_HEAD, search_from)
        if m is None:
            return sql
        search_from = m.end()  # default: leave this block as-is
        d = lx.depth(m.start())
        open_idx = m.end() - 1
        close_idx = lx.close(open_idx)
        keys = lx.split(open_idx + 1, close_idx, angle=True)
        if any(not k or k.startswith("(") for k in keys):
            continue  # composite grouping elements — leave alone
        owner = _owning_select(lx, m.start())
        if owner is None:
            continue
        sel, frm = owner
        select_list = sql[sel.end() : frm.start()]
        from_where = sql[frm.end() : m.start()]
        if "__roll_pre" in from_where:
            continue  # already rewritten (the spliced text re-scans)
        # decimal-typedness resolves against THIS block's source subtree
        dec_cols = _decimal_cols_for_scope(sql, from_where)
        # ---- optional HAVING between the key list and the next clause ----
        scope_end = lx.scope_end(m.start())
        tail_m = next(
            lx.at_depth(_CLAUSE_AFTER_GROUP, d, close_idx + 1, scope_end), None
        )
        having_end = tail_m.start() if tail_m else scope_end
        having = sql[close_idx + 1 : having_end]
        hm = re.match(r"\s*HAVING\b", having, re.I)
        if having.strip() and not hm:
            continue  # unexpected text after the key list — leave alone
        # ---- the tail after HAVING (ORDER BY/LIMIT/...) belongs to the
        # SAME block up to a set operation, so its aggregate calls and
        # grouping-expression references must be rewritten too (ADVICE
        # r15: ORDER BY SUM(x) after the splice referenced raw columns
        # the rewritten block no longer exposes). Text from a UNION/
        # INTERSECT/EXCEPT onward is the NEXT block — left verbatim.
        set_op = next(lx.at_depth(_SET_OP, d, having_end, scope_end), None)
        rest_at = set_op.start() if set_op else scope_end
        tail = sql[having_end:rest_at]
        # ---- eligibility: every aggregate call is SUM(...) or COUNT(*) ----
        body = select_list + having + tail
        if (
            re.search(r"\bSELECT\b", body, re.I)
            or re.search(r"\bFILTER\s*\(", body, re.I)
            or re.search(r"\bWINDOW\b", tail, re.I)
        ):
            continue  # scalar subquery / FILTER / WINDOW clause — leave alone
        # (start, end, arg, is_sum) spans per part, parts rewritten
        # independently so length drift in one never corrupts the other.
        # Every `name(` call must be positively classified (VERDICT r15):
        # SUM/COUNT(*) decompose, GROUPING and known scalar names are
        # transparent, `anything(...) OVER` is a window call whose inner
        # aggregates are matched separately — any OTHER call could be an
        # unknown aggregate over pre-aggregated rows, so the block is
        # left untouched.
        part_sums: list[list[tuple[int, int, str, bool]]] = [[], [], []]
        eligible = True
        for pi, part in enumerate((select_list, having, tail)):
            plx = lex(part)
            for am in plx.finditer(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(", flags=0):
                name = am.group(1).upper()
                if name.lower() in _NONAGG_CALL_NAMES:
                    continue
                a_open = am.end() - 1
                a_close = plx.close(a_open)
                arg = part[a_open + 1 : a_close]
                after = part[a_close + 1 :].lstrip()
                is_window = after.upper().startswith("OVER")
                if name == "SUM" and not is_window:
                    # exactness gate (ADVICE r15): two-level summation is
                    # provably value-identical only for exact types —
                    # require the argument to be an outermost CAST to
                    # DECIMAL (the corpus's determinism idiom) so a float
                    # SUM never reorders through the pre-stage
                    if not _is_decimal_cast(arg, dec_cols):
                        eligible = False
                        break
                    part_sums[pi].append((am.start(), a_close + 1, arg, True))
                elif name == "COUNT" and arg.strip() == "*" and not is_window:
                    part_sums[pi].append((am.start(), a_close + 1, "", False))
                elif name not in ("SUM", "COUNT") and is_window:
                    continue  # rank()/row_number() OVER — window-only call
                else:
                    eligible = False
                    break
            if not eligible:
                break
        all_sums = part_sums[0] + part_sums[1] + part_sums[2]
        if not eligible or not all_sums:
            continue
        # overlapping spans (within one part) would corrupt the splice
        bad = False
        for ps in part_sums:
            spans = sorted((s[0], s[1]) for s in ps)
            bad = bad or any(
                spans[i][1] > spans[i + 1][0] for i in range(len(spans) - 1)
            )
        if bad:
            continue
        # ---- assign partial-aggregate aliases ----
        arg_alias: dict[str, str] = {}
        need_cnt = False
        for _, _, arg, is_sum in all_sums:
            if is_sum:
                norm = " ".join(arg.split())
                if norm not in arg_alias:
                    arg_alias[norm] = f"__roll_s{len(arg_alias)}"
            else:
                need_cnt = True
        # ---- rewrite the outer SELECT list / HAVING / tail (end -> start) ----
        new_parts = [select_list, having, tail]
        for pi in (0, 1, 2):
            for start, end, arg, is_sum in sorted(part_sums[pi], reverse=True):
                repl = (
                    f"SUM({arg_alias[' '.join(arg.split())]})"
                    if is_sum
                    else "SUM(__roll_cnt)"
                )
                new_parts[pi] = new_parts[pi][:start] + repl + new_parts[pi][end:]
        # ---- grouping keys: plain columns pass through, expressions
        # are aliased and their outer references renamed ----
        inner_keys, outer_keys = [], []
        for i, k in enumerate(keys):
            if _SIMPLE_IDENT.fullmatch(k):
                inner_keys.append(k)
                outer_keys.append(k)
            else:
                alias = f"__roll_g{i}"
                inner_keys.append(f"{k} AS {alias}")
                outer_keys.append(alias)
                # anchored so `year(x)` never matches inside a longer
                # identifier call like `myyear(x)`, and string-literal
                # occurrences are skipped (ADVICE r15)
                pat = re.compile(
                    r"(?<![\w.])"
                    + r"\s+".join(re.escape(tok) for tok in k.split())
                    + (r"(?![\w.])" if re.match(r"[\w]", k[-1]) else "")
                )
                new_parts = [lex(p).sub(pat, alias) for p in new_parts]
        # one inner partial SUM per alias (whitespace-variant spellings of
        # the same argument share an alias — emit the first-seen spelling)
        seen: set[str] = set()
        agg_items = []
        for _, _, a, is_sum in sorted(all_sums):
            if is_sum:
                alias = arg_alias[" ".join(a.split())]
                if alias not in seen:
                    seen.add(alias)
                    agg_items.append(f"SUM({a}) AS {alias}")
        if need_cnt:
            agg_items.append("COUNT(*) AS __roll_cnt")
        inner = (
            f"SELECT {', '.join(inner_keys + agg_items)} "
            f"FROM {from_where.strip()} GROUP BY {', '.join(keys)}"
        )
        new_sel, new_hav, new_tail = new_parts
        block = (
            f"SELECT {new_sel.strip()} FROM ({inner}) AS __roll_pre "
            f"GROUP BY {m.group(1).upper()} ({', '.join(outer_keys)})"
            f"{(' ' + new_hav.strip()) if new_hav.strip() else ''} "
        )
        sql = sql[: sel.start()] + block + new_tail + sql[rest_at:]
        search_from = sel.start()  # re-scan: splice moved every index
