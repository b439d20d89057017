"""MATCH_RECOGNIZE row-pattern matching, Spark-first.

The reference implements SQL:2016 row-pattern recognition with a
backtracking pattern program over sorted partitions (reference grammar
SqlBase.g4:360, sql/planner/plan/PatternRecognitionNode.java, matcher in
operator/window/matcher/Matcher.java and
IrRowPatternToProgramRewriter.java, lowered at
LocalExecutionPlanner.java:1219). Spark has no equivalent operator, so this
is the (b)-tier custom operator from SURVEY.md §7: a composition where

1. ``PREV(x [, n])`` / ``NEXT(x [, n])`` navigation inside DEFINE is
   rewritten to ``lag``/``lead`` window columns evaluated **JVM-side**
   (reference LogicalIndexNavigation — physical navigation over the
   partition ordering; beyond-partition navigation yields NULL, and a NULL
   predicate is no-match, exactly the reference's semantics), then
2. every DEFINE predicate becomes one bit of a per-row **label bitmask**
   (Catalyst codegen — the Python stage never sees the raw predicates), and
3. ``mapInPandas`` runs per partition: rows are sorted by the ORDER BY key
   and the quantified pattern — compiled to a small backtracking VM program
   (SPLIT/JMP/CHAR/MATCH, the same machine shape as the reference's
   IrRowPatternToProgramRewriter output) — scans the mask sequence.
   Backtracking preferment = SQL:2016 preferment: leftmost alternation,
   greedy quantifiers. Because the VM consults the full bitmask, DEFINEs
   may overlap (a row satisfying several labels is classified by pattern
   position, not first-match-wins). When every row carries at most one
   label bit and no pattern variable is undefined, the scan short-circuits
   to a compiled C regex over one char per row — same answers, faster.

Modes (reference grammar SqlBase.g4:372-380):
  - ``after_match="past last row"`` (default) — non-overlapping matches.
  - ``after_match="to next row"`` — resume at match start + 1; matches may
    overlap, match_id still increments per match.
  - ``rows_per_match="all"`` (default) — every matched row is emitted.
  - ``rows_per_match="one"`` — one row per match: the **last** row of the
    match (FINAL semantics — unqualified MEASURES column references in the
    reference resolve to the last row), plus match_id and its classifier.

The operator returns matched rows with ``match_id`` (1-based per
partition) and ``classifier`` columns; MEASURES are then ordinary Spark
aggregations over ``match_id`` — keeping everything after the pattern scan
in Catalyst. An undefined pattern variable (used in PATTERN, absent from
DEFINE) matches any row (implicit TRUE), per the standard.

Also supported (r4): reluctant quantifiers (``*?``/``+?``/``??``/
``{m,n}?`` — SPLIT preference flipped in the VM, native in the regex fast
path), ``PERMUTE(A, B, C)`` (expanded to the preference-ordered
alternation of all orderings, 2..6 elements), and ``{- X -}`` exclusions
(matched rows carry an excluded flag and are omitted from ALL ROWS
output; the regex fast path disables itself when exclusions are
present). Unsupported (documented, not silent): unbounded quantification
of a nullable group (``(A*)*`` — rejected at compile time to keep the VM
loop-free).

Scale: the shuffle is one hash partition by the PARTITION BY key (exactly
what the reference's PatternRecognitionNode requires); when navigation
columns are present the lag/lead window imposes the identical
distribution+sort, so the plan still carries exactly one Exchange. Per-key
state is one mask array, O(rows-per-key) — fine for 100 TB as long as
single keys fit an executor, the same constraint the reference has. Data
crosses to Python once, Arrow-batched, carrying only the projected columns
plus one long of mask per row.
"""

from __future__ import annotations

import re
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

_MASK_COL = "__mr_mask"
_NO_MATCH = "0"  # fast-path classifier char for rows matching no DEFINE

_TOKEN = re.compile(
    r"\s*([A-Za-z_][A-Za-z_0-9]*|\{-|-\}|[+*?|()^$]|\{\d*(?:,\d*)?\})\s*"
)
_NAV = re.compile(r"\b(PREV|NEXT)\s*\(", re.I)


def _expand_permute(pattern: str) -> str:
    """PERMUTE(A, B, C) -> alternation of every ordering (reference
    SqlBase.g4 patternPermutation; Trino's preference order is the listed
    order, which itertools.permutations preserves). Paren-aware: elements
    may themselves be groups or nested PERMUTEs (expanded recursively),
    and each element is parenthesized in the output so quantified or
    compound elements stay atomic."""
    from itertools import permutations

    m = re.search(r"\bPERMUTE\s*\(", pattern, re.I)
    if m is None:
        return pattern
    open_idx = pattern.index("(", m.start())
    depth = 0
    close_idx = None
    for i in range(open_idx, len(pattern)):
        if pattern[i] == "(":
            depth += 1
        elif pattern[i] == ")":
            depth -= 1
            if depth == 0:
                close_idx = i
                break
    if close_idx is None:
        raise ValueError(f"unbalanced PERMUTE in pattern {pattern!r}")
    # split the body on top-level commas
    body = pattern[open_idx + 1 : close_idx]
    items, d, start = [], 0, 0
    for i, c in enumerate(body):
        if c == "(":
            d += 1
        elif c == ")":
            d -= 1
        elif c == "," and d == 0:
            items.append(body[start:i].strip())
            start = i + 1
    items.append(body[start:].strip())
    items = [_expand_permute(p) for p in items if p]
    if not 2 <= len(items) <= 6:
        raise ValueError(
            f"PERMUTE takes 2..6 elements (got {len(items)}; 7! alternation"
            " branches would not be a plan, it would be a bomb)"
        )
    alts = " | ".join(
        " ".join(f"( {e} )" for e in p) for p in permutations(items)
    )
    return _expand_permute(
        f"{pattern[:m.start()]}( {alts} ){pattern[close_idx + 1:]}"
    )


def _tokenize(pattern: str) -> list[str]:
    out, pos = [], 0
    while pos < len(pattern):
        m = _TOKEN.match(pattern, pos)
        if not m:
            raise ValueError(f"bad row pattern at {pattern[pos:]!r}")
        out.append(m.group(1))
        pos = m.end()
    return out


def _pattern_to_regex(pattern: str, label_chars: Mapping[str, str]) -> str:
    """Translate a row-pattern ('V+ P', 'A (B|C)* D{2,}') to a regex over
    single label characters (fast path). Quantifiers/alternation/grouping/
    anchors pass through; bare label names become their assigned character;
    labels with no DEFINE (implicit TRUE) become '.'."""
    out = []
    for tok in _tokenize(pattern):
        if tok[0].isalpha() or tok[0] == "_":
            out.append(label_chars.get(tok, "."))
        else:
            out.append(tok)
    return "".join(out)


# --- pattern AST + VM compiler (driver-side; program is plain tuples) ----
#
# AST (picklable tuples):
#   ("label", bit_or_None, name)   bit None = undefined variable (TRUE)
#   ("cat", [nodes])  ("alt", [nodes])  ("rep", node, lo, hi)  hi=None=inf
#   ("bol",)  ("eol",)
# VM ops: (0, bit_or_None, name)=CHAR  (1, a, b)=SPLIT prefer a
#         (2, a)=JMP  (3,)=MATCH  (4,)=BOL  (5,)=EOL


def _parse_pattern(pattern: str, label_bits: Mapping[str, int]):
    toks = _tokenize(pattern)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def parse_alt():
        nonlocal pos
        branches = [parse_cat()]
        while peek() == "|":
            pos += 1
            branches.append(parse_cat())
        return branches[0] if len(branches) == 1 else ("alt", branches)

    def parse_cat():
        nonlocal pos
        items = []
        while peek() is not None and peek() not in ("|", ")", "-}"):
            items.append(parse_quant())
        if not items:
            raise ValueError(f"empty branch in pattern {pattern!r}")
        return items[0] if len(items) == 1 else ("cat", items)

    def parse_quant():
        nonlocal pos
        node = parse_primary()
        tok = peek()
        quantified = False
        if tok in ("+", "*", "?"):
            pos += 1
            lo, hi = {"+": (1, None), "*": (0, None), "?": (0, 1)}[tok]
            quantified = True
        elif tok is not None and tok.startswith("{") and tok != "{-":
            pos += 1
            body = tok[1:-1]
            if "," in body:
                lo_s, hi_s = body.split(",", 1)
                lo = int(lo_s) if lo_s else 0
                hi = int(hi_s) if hi_s else None
            else:
                lo = hi = int(body)
            quantified = True
        if quantified:
            greedy = True
            if peek() == "?":  # reluctant: A+?, A*?, A??, A{m,n}?
                pos += 1
                greedy = False
            node = ("rep", node, lo, hi, greedy)
        return node

    def parse_primary():
        nonlocal pos
        tok = peek()
        if tok == "(":
            pos += 1
            node = parse_alt()
            if peek() != ")":
                raise ValueError(f"unbalanced '(' in pattern {pattern!r}")
            pos += 1
            return node
        if tok == "{-":  # exclusion span: rows match but are not output
            pos += 1
            node = parse_alt()
            if peek() != "-}":
                raise ValueError(f"unbalanced '{{-' in pattern {pattern!r}")
            pos += 1
            return ("excl", node)
        if tok == "^":
            pos += 1
            return ("bol",)
        if tok == "$":
            pos += 1
            return ("eol",)
        if tok is not None and (tok[0].isalpha() or tok[0] == "_"):
            pos += 1
            return ("label", label_bits.get(tok), tok)
        raise ValueError(f"unexpected token {tok!r} in pattern {pattern!r}")

    ast = parse_alt()
    if pos != len(toks):
        raise ValueError(f"trailing tokens in pattern {pattern!r}")
    return ast


def _nullable(node) -> bool:
    k = node[0]
    if k == "label":
        return False
    if k in ("bol", "eol"):
        return True
    if k == "cat":
        return all(_nullable(c) for c in node[1])
    if k == "alt":
        return any(_nullable(c) for c in node[1])
    if k == "rep":
        return node[2] == 0 or _nullable(node[1])
    if k == "excl":
        return _nullable(node[1])
    raise AssertionError(k)


def _has_excl(node) -> bool:
    k = node[0]
    if k == "excl":
        return True
    if k in ("cat", "alt"):
        return any(_has_excl(c) for c in node[1])
    if k == "rep":
        return _has_excl(node[1])
    return False


# --------------------------------------------------------- runs fast path
# r9 (VERDICT r8 task 6): patterns with no backtracking ambiguity lower
# to a pure JVM plan — no Python VM, no mapInPandas. Eligible shape:
#   PATTERN (E1{q1} E2{q2} ... Ek{qk})      k >= 2
# where every element is a single label OR an alternation of labels
# (r10: (A|B) is a SUPER-label under exclusivity), the elements' label
# sets are pairwise disjoint, each carries a greedy quantifier of
# minimum >= 1 (bare, +, {m}, {m,}, {m,n}), and the DEFINEs are
# STATICALLY mutually exclusive: every condition is
# `<same expression> = <literal>` with pairwise-distinct literals
# (the funnel shape: event_type = 'view' / event_type = 'purchase').
# Under those constraints the backtracking VM's behavior collapses to
# arithmetic over label RUNS (gaps-and-islands):
#   - a row can carry at most one label, so an element can never
#     consume a row of another element's label: interior elements
#     consume their run WHOLLY (length must satisfy the quantifier),
#     the FIRST element consumes a maximal SUFFIX of its run (the
#     leftmost successful start — greedy caps at hi), and the LAST
#     element a maximal PREFIX;
#   - candidate matches can never overlap (a candidate starts with
#     label L1; the run after a candidate's first run has label L2 !=
#     L1), so AFTER MATCH SKIP PAST LAST ROW needs no sequential scan
#     and the whole computation is embarrassingly parallel.
# Everything stays in whole-stage codegen: one window pass builds run
# ids, a run-level aggregation + lead() window finds candidates, and a
# join back (candidate side is runs-scale, AQE broadcasts it when
# small) emits the matched rows. Same single hash Exchange on the
# PARTITION BY key as the VM path.

_SIMPLE_EQ = re.compile(
    r"^\s*(?P<lhs>[A-Za-z_][\w.]*)\s*=\s*"
    r"(?P<lit>'(?:[^']|'')*'|-?\d+(?:\.\d+)?|TRUE|FALSE)\s*$",
    re.I,
)


def _alt_label_set(node) -> frozenset | None:
    """Label set of a node that is a single label or an alternation of
    single labels (recursively), else None. r10: lets `(A|B)+ C`
    shapes ride the runs fast path — under static exclusivity an
    alternation of labels is just a SUPER-label (each row carries at
    most one label, so the greedy alternation consumes exactly the
    rows whose label is in the set)."""
    if node[0] == "label":
        return frozenset([node[2]])
    if node[0] == "alt":
        out: frozenset = frozenset()
        for c in node[1]:
            s = _alt_label_set(c)
            if s is None:
                return None
            out = out | s
        return out
    return None


def _runs_plan_elements(
    ast, define
) -> list[tuple[frozenset, int, int | None]] | None:
    """(label set, lo, hi) per element if the pattern/DEFINE pair is
    eligible for the runs fast path, else None. Elements are single
    labels or alternations of labels (r10); their label sets must be
    pairwise disjoint so a row's element index is fixed by its label."""
    items = ast[1] if ast[0] == "cat" else [ast]
    elems: list[tuple[frozenset, int, int | None]] = []
    for node in items:
        if node[0] == "rep":
            child, lo, hi, greedy = node[1], node[2], node[3], node[4]
            labs = _alt_label_set(child)
            if labs is None or not greedy or lo < 1:
                return None
            elems.append((labs, lo, hi))
        else:
            labs = _alt_label_set(node)
            if labs is None:
                return None
            elems.append((labs, 1, 1))
    all_names = [n for s, _lo, _hi in elems for n in sorted(s)]
    if len(set(all_names)) != len(all_names):
        return None  # label sets must be pairwise disjoint
    # r11: single-element BOUNDED patterns (E{2,5}) are eligible too —
    # SKIP PAST LAST ROW restarting inside the run is modular chunk
    # arithmetic (dispatched to _match_recognize_runs_single_bounded)
    if not elems:
        return None
    if any(n not in define for n in all_names):
        return None
    # static mutual exclusivity: same LHS expression, distinct literals
    # (numeric literals compare by VALUE — '1' and '1.0' are the same
    # constant, so two labels carrying them would overlap)
    lhs_seen, lits = set(), set()
    for name in define:
        cond = define[name]
        if not isinstance(cond, str):
            return None
        m = _SIMPLE_EQ.match(cond)
        if m is None:
            return None
        lhs_seen.add(re.sub(r"\s+", "", m.group("lhs")).lower())
        lit = m.group("lit")
        if lit[0] == "'":
            lits.add(lit)
        elif lit[0].isalpha():  # TRUE/FALSE
            lits.add(lit.upper())
        else:
            lits.add(("num", float(lit)))
    if len(lhs_seen) != 1 or len(lits) != len(define):
        return None
    return elems


def _match_recognize_runs(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: str,
    define: Mapping[str, str],
    elems: list[tuple[str, int, int | None]],
) -> DataFrame:
    """The compiled runs plan (see block comment above). Output contract
    is identical to the VM path: input columns + match_id (1-based per
    partition, in order) + classifier.

    Join-free formulation: everything is windows over ONE hash Exchange
    on the PARTITION BY key (a join back from a run-level candidate
    table was measured to recompute the whole window chain per join
    side and pay an AQE stage round-trip per exchange). Per row:
      lab   one CASE over the exclusive DEFINEs (0 = no label),
      run   gaps-and-islands id (cumsum of change flags, dense per
            partition), pos/rlen within the run,
      nxt_j label+length of run r+j, built iteratively: level j reads
            level j-1's propagated value at the run's LAST row via
            lead(1) (the next row is run r+1's first row), then
            spreads it across the run with first(ignorenulls) over the
            run-forward frame,
      cand  run starts a match: own label/length fit element 1, nxt_j
            fit element j+1 (adjacency is inherent — nxt_j IS run r+j),
      c_i   cand of run r-i, mirrored backward propagation — a row of
            label L_{i+1} is matched iff c_i (labels are distinct, so a
            row's element index is fixed by its label),
      match_id  running count of candidate-run first rows: runs between
            a match's start and its later elements carry labels != L1,
            so the count at any matched row equals its match ordinal.
    Trimming: element 1 keeps the run's SUFFIX of min(rlen, hi_1) rows
    (leftmost successful VM start), element k the PREFIX of
    min(rlen, hi_k); interior lengths were validated in cand.
    """
    pk = list(partition_by)
    # unlike the VM path, no pinned repartition: these stages are
    # JVM sort/window work, where AQE's byte-based coalescing is the
    # right width policy (the VM pin exists because PYTHON CPU is
    # invisible to byte-based coalescing); measured equal at sf0.1
    w = Window.partitionBy(*pk).orderBy(order_by)
    # CASE order is irrelevant under static mutual exclusivity
    lab = None
    for i, name in enumerate(define, start=1):
        c = F.expr(define[name])
        lab = F.when(c, F.lit(i)) if lab is None else lab.when(c, F.lit(i))
    lab = lab.otherwise(F.lit(0))
    lab_index = {name: i for i, name in enumerate(define, start=1)}
    k = len(elems)
    # r10: runs group by ELEMENT index, not label — an alternation
    # element (A|B)+ treats consecutive A/B rows as ONE run. Sets are
    # pairwise disjoint, so a label fixes its element.
    elem_of_lab = {
        lab_index[n]: ei
        for ei, (labs, _lo, _hi) in enumerate(elems, start=1)
        for n in labs
    }

    rows = df.withColumn("__mr_lab", lab)
    elab = None
    for li, ei in sorted(elem_of_lab.items()):
        c = F.col("__mr_lab") == F.lit(li)
        elab = (
            F.when(c, F.lit(ei)) if elab is None else elab.when(c, F.lit(ei))
        )
    rows = rows.withColumn("__mr_elab", elab.otherwise(F.lit(0)))
    rows = rows.withColumn(
        "__mr_chg",
        F.when(
            F.lag("__mr_elab").over(w).isNull()
            | (F.lag("__mr_elab").over(w) != F.col("__mr_elab")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("__mr_run", F.sum("__mr_chg").over(w))
    wrun = Window.partitionBy(*pk, "__mr_run").orderBy(order_by)
    rows = (
        rows.withColumn("__mr_pos", F.row_number().over(wrun))
        .withColumn(
            "__mr_rlen",
            F.count(F.lit(1)).over(
                wrun.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .drop("__mr_chg")
    )

    # next-run attributes, levels 1..k-1 (see docstring)
    last_row = F.col("__mr_pos") == F.col("__mr_rlen")
    fwd = wrun.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    prev_lab, prev_len = "__mr_elab", "__mr_rlen"
    for j in range(1, k):
        rows = rows.withColumn(
            f"__mr_nl{j}",
            F.first(
                F.when(last_row, F.lead(prev_lab, 1).over(w)),
                ignorenulls=True,
            ).over(fwd),
        ).withColumn(
            f"__mr_nn{j}",
            F.first(
                F.when(last_row, F.lead(prev_len, 1).over(w)),
                ignorenulls=True,
            ).over(fwd),
        )
        prev_lab, prev_len = f"__mr_nl{j}", f"__mr_nn{j}"

    _labs0, lo0, hi0 = elems[0]
    cand = (F.col("__mr_elab") == F.lit(1)) & (
        F.col("__mr_rlen") >= F.lit(lo0)
    )
    for j in range(1, k):
        _labs_j, lo_j, hi_j = elems[j]
        cand = cand & (
            F.col(f"__mr_nl{j}") == F.lit(j + 1)
        ) & (F.col(f"__mr_nn{j}") >= F.lit(lo_j))
        if j < k - 1 and hi_j is not None:
            cand = cand & (F.col(f"__mr_nn{j}") <= F.lit(hi_j))
    rows = rows.withColumn("__mr_cand", F.coalesce(cand, F.lit(False)))
    rows = rows.withColumn(
        "__mr_mid",
        F.sum(
            F.when(F.col("__mr_cand") & (F.col("__mr_pos") == 1), 1)
            .otherwise(0)
        ).over(w),
    )

    # cand of run r-i, backward propagation, levels 1..k-1
    first_row = F.col("__mr_pos") == 1
    bwd = wrun.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_c = "__mr_cand"
    for i in range(1, k):
        rows = rows.withColumn(
            f"__mr_c{i}",
            F.coalesce(
                F.last(
                    F.when(first_row, F.lag(prev_c, 1).over(w)),
                    ignorenulls=True,
                ).over(bwd),
                F.lit(False),
            ),
        )
        prev_c = f"__mr_c{i}"

    # membership + classifier + trim, dispatched on the row's element;
    # the CLASSIFIER is the row's OWN label name (an alternation
    # element reports which alternative each row matched)
    lab_name = None
    for name, li in lab_index.items():
        c = F.col("__mr_lab") == F.lit(li)
        lab_name = (
            F.when(c, F.lit(name))
            if lab_name is None
            else lab_name.when(c, F.lit(name))
        )
    matched = None
    classifier = None
    keep = None
    for i, (_labs, lo, hi) in enumerate(elems):
        is_elem = F.col("__mr_elab") == F.lit(i + 1)
        member = F.col("__mr_cand") if i == 0 else F.col(f"__mr_c{i}")
        cap = (
            F.col("__mr_rlen")
            if hi is None
            else F.least(F.lit(hi), F.col("__mr_rlen"))
        )
        if i == 0:
            trim = F.col("__mr_pos") > F.col("__mr_rlen") - cap
        elif i == k - 1:
            trim = F.col("__mr_pos") <= cap
        else:
            trim = F.lit(True)
        cond_i = is_elem & member
        matched = cond_i if matched is None else matched | cond_i
        classifier = (
            F.when(cond_i, lab_name)
            if classifier is None
            else classifier.when(cond_i, lab_name)
        )
        keep = F.when(cond_i, trim) if keep is None else keep.when(
            cond_i, trim
        )

    # alias EVERY output column (not bare refs): each Alias mints a
    # fresh attribute id, so the result behaves like the VM path's
    # mapInPandas output — callers may join it back against relations
    # derived from the same source without ambiguous-self-join errors
    out_cols = [f.name for f in df.schema.fields]
    return (
        rows.where(matched & keep.otherwise(F.lit(False)))
        .select(
            *[F.col(c).alias(c) for c in out_cols],
            F.col("__mr_mid").cast("long").alias("match_id"),
            classifier.alias("classifier"),
        )
    )



def _match_recognize_runs_single_bounded(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: str,
    define: Mapping[str, str],
    elems: list[tuple[frozenset, int, int | None]],
) -> DataFrame:
    """Single-element BOUNDED quantifier (``E{lo,hi}``, E a label or an
    alternation of exclusive labels) — the SKIP PAST LAST ROW
    restart-inside-the-run case the generic runs plan cannot express
    (r10 excluded it). Greedy matching plus SKIP PAST LAST ROW chops a
    label run into consecutive chunks of exactly ``hi`` rows and one
    tail of ``rlen % hi`` rows that matches iff >= ``lo``, so per-row
    membership, match starts, and match ordinals are modular
    arithmetic over (pos, rlen): pure whole-stage-codegen windows over
    ONE hash Exchange on the PARTITION BY key, no Python VM. Output
    contract identical to the VM path (reference
    core/trino-main/.../operator/window/matcher/Matcher.java — same
    answers, no backtracking)."""
    labs, lo, hi = elems[0]
    pk = list(partition_by)
    w = Window.partitionBy(*pk).orderBy(order_by)
    lab = None
    for i, name in enumerate(define, start=1):
        c = F.expr(define[name])
        lab = F.when(c, F.lit(i)) if lab is None else lab.when(c, F.lit(i))
    lab = lab.otherwise(F.lit(0))
    lab_index = {name: i for i, name in enumerate(define, start=1)}
    member = [lab_index[n] for n in sorted(labs)]
    rows = df.withColumn("__mr_lab", lab).withColumn(
        "__mr_el", F.col("__mr_lab").isin(member).cast("int")
    )
    rows = rows.withColumn(
        "__mr_chg",
        F.when(
            F.lag("__mr_el").over(w).isNull()
            | (F.lag("__mr_el").over(w) != F.col("__mr_el")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("__mr_run", F.sum("__mr_chg").over(w))
    wrun = Window.partitionBy(*pk, "__mr_run").orderBy(order_by)
    rows = (
        rows.withColumn("__mr_pos", F.row_number().over(wrun))
        .withColumn(
            "__mr_rlen",
            F.count(F.lit(1)).over(
                wrun.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    chunk = F.floor((F.col("__mr_pos") - F.lit(1)) / F.lit(hi))
    full_chunks = F.floor(F.col("__mr_rlen") / F.lit(hi))
    tail_ok = (F.col("__mr_rlen") % F.lit(hi)) >= F.lit(lo)
    matched = (F.col("__mr_el") == 1) & (
        (chunk < full_chunks) | tail_ok
    )
    start = matched & (((F.col("__mr_pos") - F.lit(1)) % F.lit(hi)) == 0)
    rows = rows.withColumn(
        "__mr_mid",
        F.sum(F.when(start, 1).otherwise(0)).over(w),
    )
    lab_name = None
    for name, li in lab_index.items():
        c = F.col("__mr_lab") == F.lit(li)
        lab_name = (
            F.when(c, F.lit(name))
            if lab_name is None
            else lab_name.when(c, F.lit(name))
        )
    # alias every output column: fresh attribute ids, like the VM path
    out_cols = [f.name for f in df.schema.fields]
    return rows.where(matched).select(
        *[F.col(c).alias(c) for c in out_cols],
        F.col("__mr_mid").cast("long").alias("match_id"),
        lab_name.alias("classifier"),
    )


def _compile_vm(ast) -> list[tuple]:
    prog: list[tuple] = []
    excl_depth = [0]

    def emit(node):
        k = node[0]
        if k == "label":
            prog.append((0, node[1], node[2], excl_depth[0] > 0))
        elif k == "excl":
            excl_depth[0] += 1
            emit(node[1])
            excl_depth[0] -= 1
        elif k == "bol":
            prog.append((4,))
        elif k == "eol":
            prog.append((5,))
        elif k == "cat":
            for c in node[1]:
                emit(c)
        elif k == "alt":
            jumps = []
            for i, c in enumerate(node[1]):
                if i < len(node[1]) - 1:
                    split_at = len(prog)
                    prog.append(None)  # SPLIT placeholder
                    emit(c)
                    jumps.append(len(prog))
                    prog.append(None)  # JMP placeholder
                    prog[split_at] = (1, split_at + 1, len(prog))
                else:
                    emit(c)
            for j in jumps:
                prog[j] = (2, len(prog))
        elif k == "rep":
            child, lo, hi, greedy = node[1], node[2], node[3], node[4]
            if hi is None and _nullable(child):
                raise ValueError(
                    "unbounded quantifier over a pattern that can match"
                    " zero rows (e.g. (A*)*) is not supported"
                )
            for _ in range(lo):
                emit(child)
            if hi is None:
                # star: L1: SPLIT; L2: child; JMP L1; L3:  — greedy
                # prefers the body (L2), reluctant prefers the exit (L3)
                l1 = len(prog)
                prog.append(None)
                emit(child)
                prog.append((2, l1))
                exit_pc = len(prog)
                prog[l1] = (1, l1 + 1, exit_pc) if greedy else (1, exit_pc, l1 + 1)
            else:
                ends = []
                for _ in range(hi - lo):
                    split_at = len(prog)
                    prog.append(None)
                    ends.append(split_at)
                    emit(child)
                exit_pc = len(prog)
                for s in ends:
                    prog[s] = (1, s + 1, exit_pc) if greedy else (1, exit_pc, s + 1)
        else:
            raise AssertionError(k)

    emit(ast)
    prog.append((3,))
    return prog


def _extract_navigation(cond: str, existing: dict):
    """Rewrite PREV(expr[, n]) / NEXT(expr[, n]) in a DEFINE condition to
    generated column references, recording (kind, inner_expr, offset) ->
    column name into `existing` (shared across DEFINEs so identical
    navigations compute once). Paren/string-aware."""
    from witdb_spark.plans.lexer import lex

    while True:
        m = _NAV.search(cond)
        if m is None:
            return cond
        open_idx = m.end() - 1
        lx = lex(cond)
        close_idx = lx.close(open_idx)
        # NOT <>-aware: DEFINE bodies are full of comparison operators
        # (e.g. NEXT(if(a > b, a, b)))
        parts = lx.split(open_idx + 1, close_idx)
        inner = parts[0]
        off = int(parts[1]) if len(parts) > 1 else 1
        key = (m.group(1).upper(), inner, off)
        if key not in existing:
            existing[key] = f"__mr_nav{len(existing)}"
        cond = cond[: m.start()] + existing[key] + cond[close_idx + 1 :]


def match_recognize(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: str,
    define: Mapping[str, Column | str],
    pattern: str,
    after_match: str = "past last row",
    rows_per_match: str = "all",
    exclusion_mode: str = "drop",
) -> DataFrame:
    """Emit rows belonging to matches of ``pattern`` (see module doc).

    ``define`` maps label -> boolean Column/SQL-string, evaluated JVM-side;
    string conditions may use ``PREV(expr[, n])``/``NEXT(expr[, n])``
    physical navigation. ``order_by`` must be a deterministic
    (unique-per-partition) ordering column. Output = input columns +
    match_id (per-partition, 1-based, in ``order_by`` order) + classifier
    (the pattern variable the matcher assigned to each row).
    """
    if after_match not in ("past last row", "to next row"):
        raise ValueError(f"after_match: {after_match!r}")
    if rows_per_match not in ("all", "one"):
        raise ValueError(f"rows_per_match: {rows_per_match!r}")
    if exclusion_mode not in ("drop", "flag"):
        raise ValueError(f"exclusion_mode: {exclusion_mode!r}")
    if not partition_by:
        # no PARTITION BY (legal SQL): the whole input is ONE sequence, so
        # it must land in one task (the reference has the same constraint
        # — an unpartitioned pattern runs on a single node). A constant
        # key routes every row to one hash partition; a bare
        # repartition(n) would round-robin rows into arbitrary subsets
        # and silently mis-match.
        out = match_recognize(
            df.withColumn("__mr_global", F.lit(0)),
            ["__mr_global"],
            order_by,
            define,
            pattern,
            after_match=after_match,
            rows_per_match=rows_per_match,
            exclusion_mode=exclusion_mode,
        )
        return out.drop("__mr_global")
    labels = list(define)
    if len(labels) > 16:
        raise ValueError("at most 16 DEFINE labels supported")
    label_bits = {name: 1 << i for i, name in enumerate(labels)}
    label_chars = {name: chr(ord("A") + i) for i, name in enumerate(labels)}
    pattern = _expand_permute(pattern)
    ast = _parse_pattern(pattern, label_bits)
    # r9: unambiguous concatenations of statically-exclusive labels
    # compile to a pure JVM runs plan — no Python VM in the task
    if after_match == "past last row" and rows_per_match == "all":
        elems = _runs_plan_elements(ast, define)
        if elems is not None:
            if len(elems) == 1 and elems[0][2] is not None:
                # r11: E{lo,hi} — intra-run restarts as chunk arithmetic
                out = _match_recognize_runs_single_bounded(
                    df, partition_by, order_by, define, elems
                )
            else:
                out = _match_recognize_runs(
                    df, partition_by, order_by, define, elems
                )
            if exclusion_mode == "flag":
                # callers in flag mode read an `excluded` column;
                # eligible patterns carry no exclusions, so it is
                # constant false
                out = out.withColumn("excluded", F.lit(False))
            return out
    prog = _compile_vm(ast)
    excluded_spans = _has_excl(ast)

    def pat_labels(node, acc):
        if node[0] == "label":
            acc.add(node[2])
        elif node[0] in ("cat", "alt"):
            for c in node[1]:
                pat_labels(c, acc)
        elif node[0] in ("rep", "excl"):
            pat_labels(node[1], acc)
        return acc

    used = pat_labels(ast, set())
    has_undefined = any(name not in label_bits for name in used)
    # exclusions have no regex analog over one-char-per-row (and the VM
    # must track per-row excluded flags), so they disable the fast path
    regex = None if excluded_spans else _pattern_to_regex(pattern, label_chars)
    if regex is not None:
        re.compile(regex)  # fail fast on driver, not inside executors

    # Navigation: PREV/NEXT -> lag/lead columns over the partition ordering
    # (JVM-side; the window imposes the exact hash distribution + sort the
    # pattern scan needs, so no extra shuffle is introduced).
    nav_specs: dict = {}
    conds: dict[str, Column] = {}
    for name in labels:
        cond = define[name]
        if isinstance(cond, str):
            cond = F.expr(_extract_navigation(cond, nav_specs))
        conds[name] = cond

    # The pattern scan is CPU-bound Python work, so its parallelism must be
    # pinned: AQE's coalescing targets shuffle *bytes* and will happily fold
    # a small-by-bytes exchange down to ONE partition, serializing the whole
    # scan on one core (measured: 100k rows coalesced to 1 partition, ~4x
    # slowdown on local[32]). An explicit partition count in repartition()
    # is exempt from AQE coalescing; defaultParallelism = total cores both
    # locally and on a cluster — the right width for a compute-bound stage.
    npart = df.sparkSession.sparkContext.defaultParallelism
    classified = df
    if nav_specs:
        # hashpartitioning(pk, npart) satisfies the window's clustered
        # distribution, so the window adds no second Exchange and AQE
        # cannot narrow the explicit one.
        classified = classified.repartition(npart, *partition_by)
        w = Window.partitionBy(*partition_by).orderBy(order_by)
        for (kind, inner, off), colname in nav_specs.items():
            fn = F.lag if kind == "PREV" else F.lead
            classified = classified.withColumn(
                colname, fn(F.expr(inner), off).over(w)
            )

    # One long bitmask per row, built with JVM-side CASE WHEN so predicates
    # stay in codegen. NULL predicate -> bit unset (SQL:2016 no-match).
    mask_expr = F.lit(0)
    for name in labels:
        mask_expr = mask_expr + F.when(conds[name], F.lit(label_bits[name])).otherwise(
            F.lit(0)
        )
    classified = classified.withColumn(_MASK_COL, mask_expr.cast("long"))

    # exclusion_mode="flag": {- -} rows are EMITTED with excluded=true
    # (instead of dropped from ALL ROWS output) so callers that compute
    # MEASURES over the match — which must see excluded rows, SQL:2016 —
    # can aggregate first and filter after (plans/mr_sql.py).
    flag_excluded = exclusion_mode == "flag"
    extra_fields = [
        StructField("match_id", LongType(), False),
        StructField("classifier", StringType(), False),
    ]
    if flag_excluded:
        from pyspark.sql.types import BooleanType

        extra_fields.append(StructField("excluded", BooleanType(), False))
    out_schema = StructType(df.schema.fields + extra_fields)
    char_to_label = {c: name for name, c in label_chars.items()}
    mask_char = {0: _NO_MATCH}
    for name, bit in label_bits.items():
        mask_char[bit] = label_chars[name]
    order_col, mask_col = order_by, _MASK_COL
    pk_cols = list(partition_by)
    data_cols = [f.name for f in df.schema.fields]
    compiled_regex = regex  # plain values only: the closure must be
    vm_prog = prog  # picklable and self-contained (no witdb_spark
    skip_past = after_match == "past last row"  # imports on executors).
    one_row = rows_per_match == "one"
    emit_excluded = flag_excluded
    fast_eligible = not has_undefined and regex is not None

    # Execution shape: ONE hash shuffle on the partition keys + a
    # partition-local sort, then mapInPandas streams Arrow batches through a
    # single Python call per task — not one call per key the way
    # applyInPandas does it (per-group dispatch measured ~3ms/group, which
    # dominates when keys are small). Groups split across batch boundaries
    # are carried over, so memory is O(batch + largest single key).
    def scan_partition(batches):
        import re as _re

        import numpy as _np
        import pandas as _pd

        rx = _re.compile(compiled_regex) if compiled_regex is not None else None

        def vm_run(masks, start, n):
            """First (leftmost, preference-ordered) match from `start`:
            (end, labels, excluded_flags) or None. Explicit backtracking
            stack — no Python recursion, so long greedy runs can't blow
            the stack. SPLIT preference encodes greedy vs reluctant."""
            stack = [(0, start, 0)]
            labs: list[str] = []
            excs: list[bool] = []
            while stack:
                pc, pos, ll = stack.pop()
                del labs[ll:]
                del excs[ll:]
                while True:
                    op = vm_prog[pc]
                    t = op[0]
                    if t == 0:  # CHAR
                        if pos < n and (op[1] is None or masks[pos] & op[1]):
                            labs.append(op[2])
                            excs.append(op[3])
                            pos += 1
                            pc += 1
                        else:
                            break
                    elif t == 1:  # SPLIT (prefer first target)
                        stack.append((op[2], pos, len(labs)))
                        pc = op[1]
                    elif t == 2:  # JMP
                        pc = op[1]
                    elif t == 3:  # MATCH
                        return pos, labs[:], excs[:]
                    elif t == 4:  # BOL
                        if pos == 0:
                            pc += 1
                        else:
                            break
                    else:  # EOL
                        if pos == n:
                            pc += 1
                        else:
                            break
            return None

        def spans_fast(chars):
            """(start, end, labels) per match via the C regex."""
            out = []
            if skip_past:
                for m in rx.finditer(chars):
                    if m.end() > m.start():
                        out.append(
                            (m.start(), m.end(),
                             [char_to_label[c] for c in chars[m.start():m.end()]],
                             None)
                        )
            else:
                pos = 0
                while True:
                    m = rx.search(chars, pos)
                    if m is None:
                        break
                    if m.end() > m.start():
                        out.append(
                            (m.start(), m.end(),
                             [char_to_label[c] for c in chars[m.start():m.end()]],
                             None)
                        )
                    pos = m.start() + 1
            return out

        def spans_vm(masks, n):
            out = []
            pos = 0
            while pos < n:
                r = vm_run(masks, pos, n)
                if r is None or r[0] == pos:  # no match / zero-width
                    pos += 1
                    continue
                end, labs, excs = r
                out.append((pos, end, labs, excs if any(excs) else None))
                pos = end if skip_past else pos + 1
            return out

        def emit(chunk):
            # Vectorized batch scan: key boundaries via shifted compares, a
            # plain loop over numpy slices per key (no pandas groupby — its
            # per-group dispatch + per-key DataFrame copies measured ~1ms/key,
            # which dominated wall time at 1.5k keys/batch), and ONE global
            # iloc/copy for the whole batch's matched rows.
            n_rows = len(chunk)
            bound = _np.zeros(n_rows, dtype=bool)
            bound[0] = True
            for c in pk_cols:
                s = chunk[c]
                # NULL keys form ONE group (SQL partition semantics);
                # NaN != NaN would otherwise split a NULL run per row
                eq = (s == s.shift()) | (s.isna() & s.shift().isna())
                bound[1:] |= ~eq.to_numpy()[1:]
            allmasks = chunk[mask_col].to_numpy()
            starts = _np.flatnonzero(bound)
            ends = _np.append(starts[1:], n_rows)
            keep: list[int] = []
            mids: list[int] = []
            labels_out: list[str] = []
            excl_out: list[bool] = []
            for s0, e0 in zip(starts.tolist(), ends.tolist()):
                masks = allmasks[s0:e0].tolist()
                n = len(masks)
                if fast_eligible and all(m & (m - 1) == 0 for m in masks):
                    spans = spans_fast("".join(mask_char[m] for m in masks))
                else:
                    spans = spans_vm(masks, n)
                for mid0, (s, e, labs, excs) in enumerate(spans):
                    if one_row:
                        keep.append(s0 + e - 1)
                        mids.append(mid0 + 1)
                        labels_out.append(labs[-1])
                        excl_out.append(False)
                    elif excs is None:
                        keep.extend(range(s0 + s, s0 + e))
                        mids.extend([mid0 + 1] * (e - s))
                        labels_out.extend(labs)
                        excl_out.extend([False] * (e - s))
                    elif emit_excluded:
                        # flag mode: every matched row, excluded marked
                        keep.extend(range(s0 + s, s0 + e))
                        mids.extend([mid0 + 1] * (e - s))
                        labels_out.extend(labs)
                        excl_out.extend(bool(x) for x in excs)
                    else:
                        # {- -}: excluded rows matched but are not output
                        for i in range(e - s):
                            if not excs[i]:
                                keep.append(s0 + s + i)
                                mids.append(mid0 + 1)
                                labels_out.append(labs[i])
                                excl_out.append(False)
            if not keep:
                return None
            out = chunk.iloc[keep][data_cols].copy()
            out["match_id"] = _np.asarray(mids, dtype="int64")
            out["classifier"] = _np.asarray(labels_out, dtype=object)
            if emit_excluded:
                out["excluded"] = _np.asarray(excl_out, dtype=bool)
            return out

        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = _pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # rows are sorted by (keys, order); the last key's rows are a
            # contiguous suffix that may continue in the next batch
            tail = _np.ones(len(pdf), dtype=bool)
            for c in pk_cols:
                last = pdf[c].iloc[-1]
                col = pdf[c]
                if _pd.isna(last):
                    tail &= col.isna().to_numpy()
                else:
                    tail &= (col == last).to_numpy()
            # first index of the suffix run of True
            cut = len(pdf) - int(tail[::-1].argmin()) if not tail.all() else 0
            done, carry = pdf.iloc[:cut], pdf.iloc[cut:]
            if len(done):
                out = emit(done)
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = emit(carry)
            if out is not None:
                yield out

    if nav_specs:
        # the lag/lead window already hash-partitioned by pk (at the explicit
        # width seeded above) and sorted by (pk, order); mapInPandas
        # preserves both — no second Exchange.
        sorted_part = classified
    else:
        sorted_part = classified.repartition(npart, *pk_cols).sortWithinPartitions(
            *pk_cols, order_col
        )
    return sorted_part.mapInPandas(scan_partition, schema=out_schema)
