"""Property-based tests (hypothesis): the custom operators against
independent pure-Python references on randomized inputs. The reference has
no property testing (SURVEY §5) — this is extra assurance for the pieces
that run OUR code rather than Catalyst built-ins."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from witdb_spark.operators.match_recognize import _pattern_to_regex, match_recognize
from witdb_spark.plans.dialect import transpile

# ---------------------------------------------------------------------------
# match_recognize vs a direct driver-side re.finditer reference


def reference_matches(types: list[str], pattern_regex: str, labels: dict[str, str]):
    """Pure-python oracle: classify each row (first DEFINE wins), scan with
    the same non-overlapping greedy semantics, return row-index -> (match
    ordinal, classifier)."""
    chars = "".join(
        next((c for lbl, c in labels.items() if t == lbl.lower()), "0")
        for t in types
    )
    out = {}
    mid = 0
    for m in re.finditer(pattern_regex, chars):
        if m.start() == m.end():
            continue
        mid += 1
        for i in range(m.start(), m.end()):
            out[i] = (mid, chars[i])
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    types=st.lists(st.sampled_from(["a", "b", "c", "x"]), min_size=0, max_size=40),
    pattern=st.sampled_from(["A+ B", "A B* C", "(A|B)+ C", "A{2,} B?", "A B"]),
)
def test_match_recognize_matches_reference(spark, types, pattern):
    labels = {"A": "A", "B": "B", "C": "C"}
    regex = _pattern_to_regex(pattern, labels)
    expected = reference_matches(types, regex, labels)

    df = spark.createDataFrame(
        [(1, i, t) for i, t in enumerate(types)] or [(1, -1, "never")],
        "user_id int, seq int, ty string",
    )
    got_rows = match_recognize(
        df,
        ["user_id"],
        "seq",
        {"A": "ty = 'a'", "B": "ty = 'b'", "C": "ty = 'c'"},
        pattern,
    ).collect()
    got = {r.seq: (r.match_id, {"A": "A", "B": "B", "C": "C"}[r.classifier])
           for r in got_rows if r.seq >= 0}
    assert got == {i: v for i, v in expected.items()}


# ---------------------------------------------------------------------------
# transpiler subscript semantics: Trino arr[i] == python arr[i-1]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    arr=st.lists(st.integers(min_value=-99, max_value=99), min_size=1, max_size=6),
    data=st.data(),
)
def test_subscript_one_based_property(spark, arr, data):
    i = data.draw(st.integers(min_value=1, max_value=len(arr)))
    lit = ", ".join(str(x) for x in arr)
    sql = transpile(f"SELECT (ARRAY[{lit}])[{i}] AS v")
    assert spark.sql(sql).collect()[0].v == arr[i - 1]


def test_transpile_idempotent_on_spark_sql():
    """Plain Spark-dialect SQL without Trino constructs passes through
    unchanged (the engine accepts the common dialect verbatim)."""
    for q in [
        "SELECT a, sum(b) FROM t GROUP BY a HAVING sum(b) > 2 ORDER BY a LIMIT 5",
        "SELECT * FROM a JOIN b ON a.x = b.x WHERE a.y IN (SELECT y FROM c)",
        "SELECT row_number() OVER (PARTITION BY x ORDER BY y) FROM t",
    ]:
        assert transpile(q) == q


# ---------------------------------------------------------------------------
# the SQL lexer (plans/lexer.py) vs a brute-force character scanner


def reference_scan(text: str):
    """(code flag per char, paren depth per char, open -> close index)
    by walking the text one character at a time with SQL's rules."""
    n = len(text)
    code, depth = [True] * n, [0] * n
    closes, stacks = {}, {"(": [], "[": []}
    d = i = 0
    while i < n:
        c = text[i]
        if c in "'\"":  # string (non-code) or quoted identifier (code)
            j = i + 1
            while j < n:
                if text[j] == c:
                    if text[j + 1 : j + 2] == c:
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
        elif text.startswith("--", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
        else:
            if c in "([":
                stacks[c].append(i)
            elif c in ")]":
                st = stacks["(" if c == ")" else "["]
                if st:
                    closes[st.pop()] = i
            d += (c == "(") - (c == ")")
            depth[i] = d
            i += 1
            continue
        for k in range(i, j):
            code[k] = c == '"'
            depth[k] = d
        i = j
    return code, depth, closes


_SQL_PIECES = st.one_of(
    st.sampled_from(["(", ")", "[", "]", ",", " ", "\n", "-", "/", "*",
                     "<", ">", "'", '"', "SELECT", "a1", "x_y", "AS"]),
    st.text("ab'() ,", max_size=6).map(lambda t: "'" + t.replace("'", "''") + "'"),
    st.text('ab"() ,', max_size=6).map(lambda t: '"' + t.replace('"', '""') + '"'),
    st.text("ab'\"()-*/ ", max_size=8).map(lambda t: "--" + t + "\n"),
    st.text("ab'\"()-/\n ", max_size=8).map(lambda t: "/*" + t + "*/"),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_SQL_PIECES, max_size=30).map("".join))
def test_lexer_matches_reference_scanner(text):
    from witdb_spark.plans.lexer import Lexed

    lx = Lexed(text)
    assert "".join(lx.toks) == text
    code, depth, closes = reference_scan(text)
    assert lx.closes == closes
    assert [lx.is_code(p) for p in range(len(text))] == code
    assert [lx.depth(p) for p in range(len(text))] == depth
    # code-only regex iteration, including its whole-word shortcut
    for pat in (r"\bSELECT\b", r"\bAS\s*\(", r"\ba1\s+AS\b", r"\bx_y\b"):
        want = [m.start() for m in re.finditer(pat, text, re.I) if code[m.start()]]
        assert [m.start() for m in lx.finditer(pat)] == want


# ---------------------------------------------------------------------------
# digest determinism: merge must be invariant to pool order (the claim that
# makes agg_tdigest_rollup oracle-able across engines)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=1, max_size=60,
        ),
        min_size=2, max_size=5,
    ),
    st.randoms(),
)
def test_tdigest_merge_pool_order_invariant(groups, rnd):
    """Merging the same multiset of digests in any order yields the same
    blob bit-for-bit (tie-block selection is order-independent)."""
    import numpy as np

    from witdb_spark.operators.tdigest import K_CENTROIDS, rank_mids, scale_grid

    grid = np.asarray(scale_grid())
    mids = np.asarray(rank_mids())

    def build(vals):
        v = np.sort(np.asarray(vals, dtype="float64")) + 0.0
        n = len(v)
        idx = np.floor(grid * (n - 1) + 0.5).astype("int64")
        return n, v[idx]

    def merge(digests):
        pools, weights = [], []
        for n, pts in digests:
            bounds = np.floor(mids * n + 0.5).astype("int64")
            pools.append(pts)
            weights.append(bounds[1:] - bounds[:-1])
        allpts = np.concatenate(pools) + 0.0
        allw = np.concatenate(weights)
        order = np.argsort(allpts, kind="stable")
        allpts, allw = allpts[order], allw[order]
        cum = np.cumsum(allw)
        g = np.floor(grid * (float(cum[-1]) - 1) + 0.5) + 1
        merged = allpts[np.searchsorted(cum, g, side="left").clip(0, len(allpts) - 1)]
        merged[0], merged[-1] = allpts[0], allpts[-1]
        return merged.tobytes()

    digests = [build(g) for g in groups]
    base = merge(digests)
    for _ in range(3):
        rnd.shuffle(digests)
        assert merge(digests) == base


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=300),
    st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=300),
)
def test_bottomk_jaccard_reference(sa, sb):
    """Bottom-k jaccard (operators/setdigest.py semantics) against a pure
    reference: exact when |A ∪ B| <= k; always within [0, 1] and
    symmetric; J(A, A) == 1."""
    import hashlib

    K = 128

    def h(v):
        return hashlib.md5(str(v).encode()).hexdigest()

    def bottom_k(vals):
        return sorted({h(v) for v in vals})[:K]

    def jacc(a, b):
        uk = sorted(set(bottom_k(a)) | set(bottom_k(b)))[:K]
        ha, hb = set(bottom_k(a)), set(bottom_k(b))
        nb = sum(1 for x in uk if x in ha and x in hb)
        return nb / len(uk)

    j = jacc(sa, sb)
    assert 0.0 <= j <= 1.0
    assert j == jacc(sb, sa)
    assert jacc(sa, sa) == 1.0
    if len(sa | sb) <= K:
        exact = len(sa & sb) / len(sa | sb)
        assert j == exact


# ---------------------------------------------------------------------------
# DE-9IM relate engine: algebraic invariants over randomized grid geometry
# (reference GeoFunctions.java ST_Relate/Crosses/Disjoint/Equals/Overlaps/
# Touches — properties every OGC matrix implementation must satisfy).

from witdb_spark.functions.geometry import _geo_ns

_NS = _geo_ns()


def _rect(x, y, w, h):
    return (
        f"POLYGON (({x} {y}, {x + w} {y}, {x + w} {y + h},"
        f" {x} {y + h}, {x} {y}))"
    )


@settings(max_examples=60, deadline=None)
@given(
    ax=st.integers(0, 6), ay=st.integers(0, 6),
    aw=st.integers(1, 5), ah=st.integers(1, 5),
    bx=st.integers(0, 6), by=st.integers(0, 6),
    bw=st.integers(1, 5), bh=st.integers(1, 5),
)
def test_de9im_rect_invariants(ax, ay, aw, ah, bx, by, bw, bh):
    a, b = _rect(ax, ay, aw, ah), _rect(bx, by, bw, bh)
    m_ab = _NS["de9im"](a, b)
    m_ba = _NS["de9im"](b, a)
    # transpose symmetry
    assert m_ba == "".join(m_ab[i] for i in (0, 3, 6, 1, 4, 7, 2, 5, 8))
    # self-relation is equality
    assert _NS["equals_geom"](a, a)
    # disjoint == not intersects, and predicates are symmetric
    assert _NS["disjoint"](a, b) == (not _NS["intersects"](a, b))
    for p in ("touches", "overlaps", "disjoint", "equals_geom"):
        assert _NS[p](a, b) == _NS[p](b, a), p
    # exactly one of: equals / overlaps / touches / disjoint / containment
    states = [
        _NS["equals_geom"](a, b),
        _NS["overlaps"](a, b),
        _NS["touches"](a, b),
        _NS["disjoint"](a, b),
    ]
    contain = (_NS["contains"](a, b) or _NS["contains"](b, a)) and not states[0]
    # axis rects: interval arithmetic decides the true relation
    ix = min(ax + aw, bx + bw) - max(ax, bx)
    iy = min(ay + ah, by + bh) - max(ay, by)
    if ix < 0 or iy < 0:
        assert states == [False, False, False, True]
    elif ix == 0 or iy == 0:
        assert states == [False, False, True, False]
    else:
        # interiors overlap: equals, containment, or overlaps
        assert not states[2] and not states[3]
        assert states[0] or states[1] or contain
        same = (ax, ay, aw, ah) == (bx, by, bw, bh)
        assert states[0] == same
        a_in_b = ax >= bx and ay >= by and ax + aw <= bx + bw and ay + ah <= by + bh
        b_in_a = bx >= ax and by >= ay and bx + bw <= ax + aw and by + bh <= ay + ah
        assert states[1] == (not same and not a_in_b and not b_in_a)


@settings(max_examples=40, deadline=None)
@given(
    x1=st.integers(0, 8), y1=st.integers(0, 8),
    x2=st.integers(0, 8), y2=st.integers(0, 8),
    px=st.integers(0, 8), py=st.integers(0, 8),
)
def test_de9im_point_line_invariants(x1, y1, x2, y2, px, py):
    if (x1, y1) == (x2, y2):
        return
    line = f"LINESTRING ({x1} {y1}, {x2} {y2})"
    pt = f"POINT ({px} {py})"
    on_line = _NS["_pt_seg_dist"]((px, py), (x1, y1), (x2, y2)) < 1e-9
    at_end = (px, py) in ((x1, y1), (x2, y2))
    assert _NS["intersects"](pt, line) == on_line
    assert _NS["touches"](pt, line) == at_end
    assert _NS["de9im"](pt, line)[0] == ("0" if on_line and not at_end else "F")
    # within (OGC mask T*F**F***): interior point only
    assert _NS["relate"](pt, line, "T*F**F***") == (on_line and not at_end)


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rects=st.lists(
        st.tuples(
            st.integers(0, 20), st.integers(0, 20),
            st.integers(1, 8), st.integers(1, 8),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_union_many_matches_grid_truth(rects):
    """r5 arrangement union: for random integer rectangles (arbitrary
    overlap, shared edges, containment, corner touches) the union area
    must equal the exact cell-grid truth."""
    from witdb_spark.functions.geometry import _geo_ns

    ns = _geo_ns()
    wkts = [
        f"POLYGON (({x} {y}, {x+w} {y}, {x+w} {y+h}, {x} {y+h}, {x} {y}))"
        for x, y, w, h in rects
    ]
    covered = set()
    for x, y, w, h in rects:
        for cx in range(x, x + w):
            for cy in range(y, y + h):
                covered.add((cx, cy))
    u = ns["union_many"](wkts)
    assert abs(ns["area"](u) - len(covered)) < 1e-6, (rects, u)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    a=st.tuples(st.integers(0, 12), st.integers(0, 12),
                st.integers(2, 8), st.integers(2, 8)),
    b=st.tuples(st.integers(0, 12), st.integers(0, 12),
                st.integers(2, 8), st.integers(2, 8)),
)
def test_boolean_fallback_inclusion_exclusion(a, b):
    """r5 arrangement booleans on arbitrary rectangle pairs (incl. the
    degenerate shared-edge/corner alignments integers produce):
    area(A) = area(A∩B) + area(A−B) and
    area(A∪B) = area(A) + area(B) − area(A∩B)."""
    from witdb_spark.functions.geometry import _geo_ns

    ns = _geo_ns()

    def wkt(r):
        x, y, w, h = r
        return f"POLYGON (({x} {y}, {x+w} {y}, {x+w} {y+h}, {x} {y+h}, {x} {y}))"

    A, B = wkt(a), wkt(b)
    ia = ns["area"](ns["boolean_fallback"](A, B, "int"))
    da = ns["area"](ns["boolean_fallback"](A, B, "diff"))
    sa = ns["area"](ns["boolean_fallback"](A, B, "sym"))
    ua = ns["area"](ns["union_many"]([A, B]))
    area_a, area_b = ns["area"](A), ns["area"](B)
    assert abs(area_a - (ia + da)) < 1e-6, (a, b)
    assert abs(ua - (area_a + area_b - ia)) < 1e-6, (a, b)
    assert abs(sa - (ua - ia)) < 1e-6, (a, b)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40 - 1),
        min_size=0,
        max_size=400,
    )
)
def test_roaring_array_roundtrip_property(vals):
    """Any uint64 set round-trips through the Delta RoaringBitmapArray
    portable encode/decode, including container-type boundaries."""
    from witdb_spark.sources.roaring import (
        decode_roaring_array,
        encode_roaring_array,
    )

    want = sorted(set(vals))
    assert decode_roaring_array(encode_roaring_array(vals)) == want


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=4000, max_value=5000), st.integers(0, 2**16))
def test_roaring_container_boundary_property(n, base):
    """Dense spans crossing the 4096 array/bitmap container boundary
    (and a 16-bit key boundary via the base offset) round-trip."""
    from witdb_spark.sources.roaring import (
        decode_roaring_array,
        encode_roaring_array,
    )

    vals = list(range(base, base + n))
    assert decode_roaring_array(encode_roaring_array(vals)) == vals


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=200).map(
    lambda b: b + b"\x00" * ((-len(b)) % 4)
))
def test_z85_roundtrip_property(data):
    from witdb_spark.sources.roaring import z85_decode, z85_encode

    assert z85_decode(z85_encode(data)) == data


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**40), max_value=2**40),
            st.text(
                alphabet=st.characters(
                    blacklist_categories=("Cs",), max_codepoint=0x2FFF
                ),
                max_size=24,
            ),
        ),
        min_size=0,
        max_size=60,
    )
)
def test_hudi_log_block_roundtrip_property(tmp_path_factory, rows):
    """Arbitrary records round-trip through the Hudi log block framing
    + the bare-datum Avro encode/decode."""
    import json
    import os
    import uuid

    from witdb_spark.sources.hudi_log import (
        BLOCK_AVRO_DATA,
        HEADER_INSTANT_TIME,
        HEADER_SCHEMA,
        append_log_block,
        encode_avro_block_content,
        log_records,
    )

    schema = {
        "type": "record", "name": "t",
        "fields": [
            {"name": "a", "type": ["null", "long"], "default": None},
            {"name": "b", "type": ["null", "string"], "default": None},
        ],
    }
    recs = [{"a": a, "b": b} for a, b in rows]
    p = str(
        tmp_path_factory.mktemp("hlog") / f".f_{uuid.uuid4().hex}.log.1_0"
    )
    append_log_block(
        p, BLOCK_AVRO_DATA,
        {HEADER_INSTANT_TIME: "1", HEADER_SCHEMA: json.dumps(schema)},
        encode_avro_block_content(recs, schema),
    )
    # a second block in the same file (multi-block framing)
    append_log_block(
        p, BLOCK_AVRO_DATA,
        {HEADER_INSTANT_TIME: "2", HEADER_SCHEMA: json.dumps(schema)},
        encode_avro_block_content(recs[:3], schema),
    )
    assert log_records(p) == recs + recs[:3]


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=4000), st.integers(0, 2**32))
def test_snappy_differential_vs_pyarrow(data, seed):
    """r10: the pure-Python raw-snappy decoder must invert REAL snappy
    compressor output (pyarrow links google/snappy) — literals, 1/2/4
    byte-offset copies, and overlapping run-length copies all appear in
    real streams. Also: our literal-only compressor round-trips."""
    import random

    import pyarrow as pa

    from witdb_spark.sources.avro_codec import (
        snappy_compress,
        snappy_decompress,
    )

    rng = random.Random(seed)
    words = [
        bytes([rng.randint(97, 102)]) * rng.randint(1, 30)
        for _ in range(8)
    ]
    # splice compressible runs into the random payload so the real
    # compressor emits copy elements, not just literals
    payload = data + b"".join(rng.choice(words) for _ in range(50))
    comp = pa.compress(payload, codec="snappy", asbytes=True)
    assert snappy_decompress(comp) == payload
    assert snappy_decompress(snappy_compress(payload)) == payload


def test_snappy_avro_container_block():
    """Avro 'snappy' codec blocks (compressed data + 4-byte BIG-endian
    CRC32 of the uncompressed bytes) decode through read_container;
    a corrupted CRC is loud."""
    import json
    import zlib

    import pytest as _pytest

    from witdb_spark.sources.avro_codec import (
        _MAGIC,
        _encode,
        _register,
        _zigzag,
        AvroError,
        read_container,
        snappy_compress,
    )

    schema = {
        "type": "record", "name": "t",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": "string"},
        ],
    }
    recs = [{"a": i, "b": f"row{i}"} for i in range(100)]
    names: dict = {}
    _register(schema, names)

    def container(crc_xor: int) -> bytes:
        out = bytearray(_MAGIC)
        meta = {
            "avro.schema": json.dumps(schema).encode(),
            "avro.codec": b"snappy",
        }
        _encode({"type": "map", "values": "bytes"}, meta, {}, out)
        sync = b"0123456789abcdef"
        out += sync
        block = bytearray()
        for rec in recs:
            _encode(schema, rec, names, block)
        crc = (zlib.crc32(bytes(block)) ^ crc_xor) & 0xFFFFFFFF
        comp = snappy_compress(bytes(block)) + crc.to_bytes(4, "big")
        out += _zigzag(len(recs)) + _zigzag(len(comp)) + comp + sync
        return bytes(out)

    _s, got = read_container(container(0))
    assert got == recs
    with _pytest.raises(AvroError, match="CRC32"):
        read_container(container(0xDEADBEEF))


# ---------------------------------------------------------------------------
# r14: distributed snapshot planning equivalence — a random sequence of
# delta writes (append / overwrite / delete / checkpoint) must leave the
# distributed files plan and the classic dict fold byte-identical, at the
# latest version AND at every historical version.


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.sampled_from(["append", "overwrite", "delete", "checkpoint"]),
        min_size=2,
        max_size=6,
    ),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_snapshot_files_plan_matches_dict_fold(spark, tmp_path_factory, ops, seed):
    import json as _json

    from witdb_spark.sources.delta_log import (
        _snapshot_files_plan,
        _snapshot_state,
        delta_checkpoint,
        delta_delete_where,
        read_delta_snapshot,
        write_delta,
    )

    t = str(tmp_path_factory.mktemp("plan_prop") / "t")
    rng = seed
    write_delta(
        spark,
        spark.range(0, 40).selectExpr("id", "id % 3 AS p"),
        t,
        mode="create",
        partition_by=["p"],
    )
    lo = 40
    did_checkpoint = False
    for op in ops:
        rng = (rng * 1103515245 + 12345) % (1 << 31)
        if op == "append":
            write_delta(
                spark,
                spark.range(lo, lo + 10 + rng % 7).selectExpr(
                    "id", "id % 3 AS p"
                ),
                t,
                mode="append",
            )
            lo += 10 + rng % 7
        elif op == "overwrite":
            write_delta(
                spark,
                spark.range(lo, lo + 5).selectExpr("id", "id % 3 AS p"),
                t,
                mode="overwrite",
            )
            lo += 5
        elif op == "delete":
            delta_delete_where(spark, t, f"id % 5 = {rng % 5}")
        else:
            delta_checkpoint(spark, t)
            did_checkpoint = True
    # compare at the latest and at every version
    from witdb_spark.sources.delta_log import delta_table_version

    latest = delta_table_version(spark, t)
    for v in range(latest + 1):
        _, _, _, state, files_df = _snapshot_files_plan(spark, t, v, None)
        if files_df is not None:
            planned = {
                r["path"]: (r["pv"], r["stats"], r["dv"])
                for r in files_df.collect()
            }
        else:
            planned = {
                p: (
                    a.get("partitionValues") or None,
                    a.get("stats"),
                    _json.dumps(a["deletionVector"])
                    if a.get("deletionVector")
                    else None,
                )
                for p, a in state.items()
            }
        _, _, dstate, _ = _snapshot_state(
            spark, t, v, None,
            allow_dvs=True, allow_name_mapping=True, keep_stats=True,
        )
        assert set(planned) == set(dstate), f"v{v}: path sets differ"
        for p, (pv, stats, dv) in planned.items():
            a = dstate[p]
            assert (pv or {}) == (a.get("partitionValues") or {}), (v, p)
            assert (stats or None) == (a.get("stats") or None), (v, p)
            want_dv = (
                _json.dumps(a["deletionVector"])
                if a.get("deletionVector")
                else None
            )
            if dv is not None or want_dv is not None:
                # dv travels as to_json (null fields dropped) on the
                # distributed side — compare parsed
                got = _json.loads(dv) if dv else None
                want = _json.loads(want_dv) if want_dv else None
                if want:
                    want = {k: x for k, x in want.items() if x is not None}
                assert got == want, (v, p)
    # the read itself agrees with itself across a checkpoint boundary
    if did_checkpoint:
        rows = {r.id for r in read_delta_snapshot(spark, t).collect()}
        assert rows == {
            r.id
            for r in read_delta_snapshot(spark, t, where="id >= 0").collect()
        }


# ---------------------------------------------------------------------------
# r15: iceberg dynamic partition overwrite vs a pure-python dict fold


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "dyn"]),
            st.lists(
                st.tuples(
                    st.integers(0, 3),   # partition
                    st.integers(0, 99),  # payload
                ),
                min_size=1,
                max_size=5,
            ),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_dynamic_overwrite_matches_dict_fold(spark, tmp_path_factory, ops):
    """Randomized append/dynamic-overwrite sequences: the table's live
    rows must always equal the obvious python fold (append extends a
    partition's rows; a dynamic overwrite REPLACES exactly the
    partitions present in its batch and leaves the rest alone)."""
    from witdb_spark.sources.iceberg_meta import (
        iceberg_dynamic_overwrite,
        read_iceberg_snapshot,
        write_iceberg,
    )

    t = str(tmp_path_factory.mktemp("dyn_prop") / "tbl")
    model: dict[int, list[tuple[int, int, int]]] = {}
    uid = 0
    for i, (kind, batch) in enumerate(ops):
        rows = []
        for p, payload in batch:
            rows.append((uid, p, payload))
            uid += 1
        df = spark.createDataFrame(
            rows, "id long, p long, payload long"
        ).coalesce(1)
        if i == 0:
            write_iceberg(
                spark, df, t, mode="create", partition_by=["p"]
            )
            for r in rows:
                model.setdefault(r[1], []).append(r)
            continue
        if kind == "append":
            write_iceberg(spark, df, t, mode="append")
            for r in rows:
                model.setdefault(r[1], []).append(r)
        else:
            iceberg_dynamic_overwrite(spark, df, t)
            for p in {r[1] for r in rows}:
                model[p] = []
            for r in rows:
                model.setdefault(r[1], []).append(r)
    got = sorted(
        (r.id, r.p, r.payload)
        for r in read_iceberg_snapshot(spark, t).collect()
    )
    want = sorted(r for rows in model.values() for r in rows)
    assert got == want
