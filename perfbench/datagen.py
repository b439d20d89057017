"""Deterministic generator for the benchmark's parquet fixtures.

The package's queries read ten tables from a scale-factor directory
(``witdb_spark.catalog.TABLE_NAMES``). The benchmark builds that directory
itself, inside the checkout, so a run depends on nothing outside it. The
shapes follow the package's fixture contract: the same column names, parquet
types and value domains (uniform independent columns, TPC-H-style names,
a 30-word document vocabulary with 5% " dup" near-copies, unit-norm 64-d
float embeddings, time-ordered events), one row group per file.

The data seed is fixed: the workload seed (``--seed``) varies only the
operation stream, never the tables, so every run of a workload scans the
same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
FORMAT_VERSION = "v3"  # bump when the generated contents change

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (dt.datetime(d.year, d.month, d.day) - _EPOCH).days


def _day_ts(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_docs = int(50_000 * sf)
    n_vec = max(int(20_000 * sf), 500)
    i64, i32 = pa.int64(), pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": pa.array(
                [
                    f"{ADJECTIVES[a]} {NOUNS[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ]
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _day_ts(
                rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _day_ts(
                rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line
            ),
        }
    )
    start_us = (dt.datetime(2024, 1, 1) - _EPOCH).days * 86_400_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt)) + start_us
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]
            ),
        }
    )
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n_words))
        for n_words in rng.integers(10, 101, n_docs)
    ]
    # exactly 5% of the documents become a near-copy of a random document
    # (which may itself be a copy, or come later)
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_docs, p=LANG_WEIGHTS),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), i32),
        }
    )
    return out


#: the pandas dtypes the fixture's timestamp columns are recorded with
_PANDAS_TIME_DTYPES = {
    "o_orderdate": "datetime64[s]",
    "l_shipdate": "datetime64[s]",
    "ts": "datetime64[ns]",
}


def _pandas_metadata(table: pa.Table) -> dict:
    """The ``pandas`` schema metadata the fixture files carry (they are
    written from pandas frames), so file footers match theirs in size."""
    meta = pa.Schema.from_pandas(
        table.slice(0, 1).to_pandas(), preserve_index=False
    ).metadata
    doc = json.loads(meta[b"pandas"])
    for col in doc["columns"]:
        col["numpy_type"] = _PANDAS_TIME_DTYPES.get(col["name"], col["numpy_type"])
    return {b"pandas": json.dumps(doc).encode()}


def ensure(root: str, sf: float) -> str:
    """Return the directory holding the sf fixture under ``root``, building
    it on first use. The build writes to a temporary sibling and renames it
    into place, so a directory that exists is always complete."""
    final = os.path.join(root, f"{FORMAT_VERSION}-sf{sf}")
    if os.path.isdir(final):
        return final
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".gen-", dir=root)
    try:
        for name, table in _tables(sf).items():
            pq.write_table(
                table.replace_schema_metadata(_pandas_metadata(table)),
                os.path.join(tmp, f"{name}.parquet"),
                row_group_size=max(table.num_rows, 1),
            )
        try:
            os.rename(tmp, final)
        except OSError:
            if not os.path.isdir(final):  # lost a race only if it exists
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final
