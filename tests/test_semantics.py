"""Trino edge-semantics parity (SURVEY.md §7 'genuinely hard' list):
1-based subscripts, element_at negatives, try_cast, decimal rounding,
interval literals, FETCH FIRST, quoted identifiers, dialect renames."""

from __future__ import annotations

import pytest

from witdb_spark.engine import Engine
from witdb_spark.plans.dialect import UnsupportedTrinoSyntax, transpile


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


def one(engine, expr):
    return engine.sql(f"SELECT {expr} AS v").collect()[0].v


def test_array_subscript_one_based(engine):
    assert one(engine, "(ARRAY['a','b','c'])[1]") == "a"
    assert one(engine, "(ARRAY['a','b','c'])[3]") == "c"


def test_map_subscript_by_key(engine):
    assert one(engine, "(MAP(ARRAY['k','j'], ARRAY[7, 8]))['j']") == 8


def test_element_at_negative(engine):
    assert one(engine, "element_at(ARRAY[1, 2, 3], -1)") == 3
    assert one(engine, "element_at(ARRAY[1, 2, 3], 9)") is None


def test_try_cast(engine):
    assert one(engine, "try_cast('abc' AS INTEGER)") is None
    assert one(engine, "try_cast('42' AS INTEGER)") == 42


def test_decimal_half_up_rounding(engine):
    # Trino decimal casts round HALF_UP (reference DecimalType/Int128 ops);
    # Spark matches.
    assert str(one(engine, "CAST(2.5 AS DECIMAL(10,0))")) == "3"
    assert str(one(engine, "CAST(-2.5 AS DECIMAL(10,0))")) == "-3"
    assert str(one(engine, "CAST(1.005 AS DECIMAL(10,2))")) == "1.01"


def test_decimal_38_precision(engine):
    big = "12345678901234567890123456789012345678"
    assert str(one(engine, f"CAST('{big}' AS DECIMAL(38,0))")) == big


def test_wide_decimal_sum_ignores_column_name(engine):
    """A column's name says nothing about its values: SUM over a
    DECIMAL(30,6) cast of a 10^13 value returns it exactly whether the
    column is called ``value`` (the events fixture's measure) or ``v``."""
    from decimal import Decimal

    for col in ("value", "v"):
        got = engine.sql(
            f"SELECT SUM(CAST({col} AS DECIMAL(30,6))) AS s FROM (VALUES"
            f" (CAST(10000000000000.5 AS DECIMAL(20,1)))) AS t({col})"
        ).collect()[0][0]
        assert got == Decimal("10000000000000.500000"), (col, got)


def test_interval_literal(engine):
    got = one(
        engine,
        "date_format(TIMESTAMP '1997-03-15 00:00:00' + INTERVAL '3' DAY,"
        " 'yyyy-MM-dd')",
    )
    assert got == "1997-03-18"


def test_fetch_first(engine):
    rows = engine.sql(
        "SELECT x FROM (VALUES 3, 1, 2) AS t(x) ORDER BY x FETCH FIRST 2 ROWS ONLY"
    ).collect()
    assert [r.x for r in rows] == [1, 2]


def test_quoted_identifiers(engine):
    rows = engine.sql('SELECT "the col" FROM (VALUES 1) AS t("the col")').collect()
    assert rows[0][0] == 1


def test_dialect_renames():
    assert "timestamp_seconds(" in transpile("SELECT from_unixtime(0)")
    assert "approx_count_distinct(" in transpile("SELECT approx_distinct(x) FROM t")
    assert "any_value(" in transpile("SELECT arbitrary(x) FROM t")
    assert "bit_count(x)" in transpile("SELECT bit_count(x, 64) FROM t")


def test_try_decomposition(engine):
    assert one(engine, "TRY(1/0)") is None
    assert one(engine, "TRY(CAST('abc' AS INTEGER))") is None
    assert one(engine, "TRY(element_at(ARRAY[1], 5))") is None
    assert one(engine, "TRY(2 + 3)") == 5
    with pytest.raises(UnsupportedTrinoSyntax):
        transpile("SELECT TRY(upper(x)) FROM t")


def test_mysql_date_format(engine):
    got = one(
        engine, "date_format(TIMESTAMP '2001-02-03 04:05:06', '%Y-%m-%d %H:%i:%s')"
    )
    assert got == "2001-02-03 04:05:06"


def test_empty_map_constructor(engine):
    """ADVICE r1: bare MAP() must stay the empty-map constructor — the
    MAP(keys, values) rewrite must not re-mangle it into a 0-arg
    map_from_arrays."""
    assert one(engine, "cardinality(MAP())") == 0


def test_cast_as_map_type(engine):
    """CAST(x AS MAP(K,V)) is Trino TYPE syntax, not the constructor —
    transpiles to Spark's MAP<K,V>."""
    got = one(engine, "CAST(MAP(ARRAY['a'], ARRAY[1]) AS MAP(VARCHAR, BIGINT))['a']")
    assert got == 1


def test_format_datetime_zz_zero_offset(engine):
    """Joda 'ZZ' prints '+00:00' at zero offset (java.time 'XXX' would print
    the literal 'Z'); quoted pattern literals must not be translated."""
    assert one(
        engine,
        "format_datetime(TIMESTAMP '2020-01-02 03:04:05', 'yyyy-MM-dd ZZ')",
    ) == "2020-01-02 +00:00"
    assert one(
        engine,
        "format_datetime(TIMESTAMP '2020-01-02 03:04:05', \"yyyy 'Z of Y'\")",
    ) == "2020 Z of Y"


def test_date_format_nested_first_arg(engine):
    """The MySQL-pattern reroute must parse the first argument paren-aware:
    nested calls with commas used to defeat the regex and fall through to
    java.time parsing of the %-pattern."""
    got = one(
        engine,
        "date_format(trino_date_add('day', 1, TIMESTAMP '2001-02-03 04:05:06'),"
        " '%Y-%m-%d %H:%i:%s')",
    )
    assert got == "2001-02-04 04:05:06"


def test_hamming_distance_unequal_raises(engine):
    assert one(engine, "hamming_distance('cat', 'car')") == 1
    with pytest.raises(Exception, match="same length"):
        one(engine, "hamming_distance('cat', 'cars')")


def test_try_recursive_decomposition(spark):
    """reference TryFunction.java: any error inside TRY -> NULL; nested
    arithmetic and casts decompose recursively."""
    from witdb_spark.functions import register_all
    from witdb_spark.plans import transpile

    register_all(spark)
    r = spark.sql(
        transpile(
            "SELECT TRY(1 / 0 + 5) AS a, TRY(CAST('x' AS INT) * 2) AS b, "
            "TRY(10 / 2 + 1) AS c, TRY(CAST(9 / 3 AS INT)) AS d"
        )
    ).collect()[0]
    assert r.a is None and r.b is None
    assert r.c == 6.0 and r.d == 3


def test_listagg_within_group(engine):
    rows = engine.sql(
        "SELECT g, LISTAGG(s, '|') WITHIN GROUP (ORDER BY k) AS agg "
        "FROM (VALUES (1, 3, 'c'), (1, 1, 'a'), (1, 2, 'b'), (2, 1, 'z'))"
        " AS t(g, k, s) GROUP BY g ORDER BY g"
    ).collect()
    assert [(r.g, r.agg) for r in rows] == [(1, "a|b|c"), (2, "z")]
    rows = engine.sql(
        "SELECT LISTAGG(s) WITHIN GROUP (ORDER BY k DESC) AS agg "
        "FROM (VALUES (1, 'a'), (2, 'b')) AS t(k, s)"
    ).collect()
    assert rows[0].agg == "ba"  # SQL:2016 default separator is ''
    import pytest as _pytest

    from witdb_spark.plans.dialect import UnsupportedTrinoSyntax

    with _pytest.raises(UnsupportedTrinoSyntax):
        engine.sql(
            "SELECT LISTAGG(s ON OVERFLOW TRUNCATE) WITHIN GROUP (ORDER BY s)"
            " FROM (VALUES 'a') AS t(s)"
        )


def test_tablesample_bernoulli(engine, spark):
    spark.range(1000).createOrReplaceTempView("ts_t")
    n = engine.sql(
        "SELECT count(*) AS n FROM ts_t TABLESAMPLE BERNOULLI(20)"
    ).collect()[0].n
    assert 50 < n < 500  # ~200 expected; loose bounds (engine RNG)


def test_unicode_and_typed_literals(spark):
    """r4 dialect additions: U&'' unicode literals (incl. UESCAPE and
    6-digit escapes), typed literals (DECIMAL keeps the literal's own
    precision/scale), ISO EXTRACT fields, and CAST(json_parse AS complex)
    lowering to from_json. References: grammar SqlBase.g4 UNICODE_STRING
    / primaryExpression typed literal; DateTimeFunctions ISO dow/yow;
    JSON-to-SQL cast operators."""
    from witdb_spark.engine import Engine

    eng = Engine(spark)
    q = lambda s: eng.sql(s).collect()[0][0]  # noqa: E731
    assert q("SELECT U&'caf\\00E9'") == "café"
    assert q("SELECT U&'d!0061ta' UESCAPE '!'") == "data"
    assert q("SELECT U&'\\+01F600'") == "\U0001F600"
    df = eng.sql("SELECT DECIMAL '1.50'")
    assert str(df.schema[0].dataType) == "DecimalType(3,2)"
    assert q("SELECT BIGINT '42'") == 42
    assert q("SELECT VARCHAR 'hi'") == "hi"
    # literal text containing a typed-literal shape is untouched
    assert q("SELECT 'not DECIMAL ''1.5'' here'") == "not DECIMAL '1.5' here"
    # ISO day-of-week (Monday=1) and year-of-week
    assert q("SELECT EXTRACT(DOW FROM DATE '2020-01-06')") == 1
    assert q("SELECT EXTRACT(DAY_OF_WEEK FROM DATE '2020-01-05')") == 7
    assert q("SELECT EXTRACT(YOW FROM DATE '2021-01-01')") == 2020
    assert q("SELECT EXTRACT(DAY_OF_MONTH FROM DATE '2020-01-06')") == 6
    # JSON casts
    assert q("SELECT CAST(json_parse('[1,2,3]') AS ARRAY(INTEGER))") == [1, 2, 3]
    assert q(
        "SELECT CAST(json_parse('{\"a\": 1}') AS MAP(VARCHAR, INTEGER))"
    ) == {"a": 1}


def test_review_fix_regressions(spark):
    """r4 code-review fixes: unicode quote/surrogate escapes, EXTRACT
    rewrites skipping string literals, bar width 1, null labels in the
    classifier report, nav measures under duplicate order keys."""
    from witdb_spark.engine import Engine

    eng = Engine(spark)
    q = lambda s: eng.sql(s).collect()[0][0]  # noqa: E731
    assert q("SELECT U&'\\0027'") == "'"
    assert q("SELECT U&'it\\0027s'") == "it's"
    assert q("SELECT U&'\\D83D\\DE00'") == "\U0001F600"
    assert (
        q("SELECT 'keep EXTRACT(DAY_OF_MONTH FROM x) text'")
        == "keep EXTRACT(DAY_OF_MONTH FROM x) text"
    )
    assert q("SELECT length(bar(1.0, 1))") > 0
    from witdb_spark.pipeline.ml import evaluate_classifier_predictions

    ev = evaluate_classifier_predictions(
        spark.createDataFrame([(1, 1), (None, 1), (0, 0)], "t int, p int"),
        "t",
        "p",
    ).collect()[0]["report"]
    assert ev.startswith("Accuracy: 2/2")
    # PREV/NEXT measures + duplicate ORDER BY values: counts must not
    # fan out through the row-number attachment
    spark.createDataFrame(
        [(1, 1, 10.0), (1, 1, 11.0), (1, 2, 12.0), (1, 3, 9.0)],
        ["k", "ts", "price"],
    ).createOrReplaceTempView("dupord")
    out = eng.sql(
        """
        SELECT n FROM dupord MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY ts
          MEASURES count(*) AS n, PREV(FIRST(price)) AS pn
          ONE ROW PER MATCH PATTERN (A B+)
          DEFINE B AS price > PREV(price))
        """
    ).collect()
    assert sum(r["n"] for r in out) <= 4


def test_unicode_literal_quote_escape(spark):
    """r5 review fix: the SQL '' quote escape INSIDE a U&'...' body is one
    quote character (previously doubled into two on emit)."""
    from witdb_spark.engine import Engine

    eng = Engine(spark)
    q = lambda s: eng.sql(s).collect()[0][0]  # noqa: E731
    assert q("SELECT U&'it''s'") == "it's"
    assert q("SELECT U&'a''''b'") == "a''b"
    assert q("SELECT U&'caf\\00E9''s'") == "café's"
    assert q("SELECT U&'x''y' UESCAPE '!'") == "x'y"


def test_map_shaped_aggregate_rewrites(spark):
    """r5: histogram / multimap_agg / map_union as transpile-time
    rewrites (reference Histogram.java, MultimapAggregation,
    MapUnionAggregation) — one collect_list buffer + post-aggregation
    lambda projection, no Python."""
    from witdb_spark.engine import Engine

    eng = Engine(spark)
    spark.range(12).selectExpr(
        "id % 2 AS g", "CAST(id % 3 AS STRING) AS v", "id AS n"
    ).createOrReplaceTempView("maprw_t")
    h = {
        r.g: dict(sorted(r.h.items()))
        for r in eng.sql(
            "SELECT g, histogram(v) AS h FROM maprw_t GROUP BY g"
        ).collect()
    }
    assert h == {0: {"0": 2, "1": 2, "2": 2}, 1: {"0": 2, "1": 2, "2": 2}}
    mm = {
        r.g: {k: sorted(vv) for k, vv in r.mm.items()}
        for r in eng.sql(
            "SELECT g, multimap_agg(v, n) AS mm FROM maprw_t GROUP BY g"
        ).collect()
    }
    assert mm[0]["0"] == [0, 6] and mm[1]["2"] == [5, 11]
    spark.sql(
        "SELECT 1 AS g, map('a', 1) AS m UNION ALL SELECT 1, map('b', 2)"
        " UNION ALL SELECT 2, map('a', 9)"
    ).createOrReplaceTempView("mapun_t")
    u = {
        r.g: dict(sorted(r.u.items()))
        for r in eng.sql(
            "SELECT g, map_union(m) AS u FROM mapun_t GROUP BY g"
        ).collect()
    }
    assert u == {1: {"a": 1, "b": 2}, 2: {"a": 9}}


# ---------------------------------------------------------------------------
# r16: declared catalog constraints backing the transpiler's CTE self-join
# narrowing. These gates make the declarations LOAD-BEARING: a fixture
# violating them fails the suite before a wrong plan can ship.
# ---------------------------------------------------------------------------

_FIXTURE_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def test_declared_unique_columns_hold():
    """catalog.UNIQUE_COLUMNS: every declared column is UNIQUE and NOT
    NULL in every fixture directory (the eager-agg rewrite's 1:1-join
    and key<->attribute-bijection arguments depend on exactly this)."""
    import os

    import duckdb

    from witdb_spark.catalog import UNIQUE_COLUMNS

    con = duckdb.connect()
    for d in _FIXTURE_DIRS:
        for table, cols in UNIQUE_COLUMNS.items():
            path = os.path.join(d, f"{table}.parquet")
            for c in sorted(cols):
                n, nd, nn = con.execute(
                    f"SELECT COUNT(*), COUNT(DISTINCT {c}),"
                    f" COUNT(*) FILTER (WHERE {c} IS NULL)"
                    f" FROM '{path}'"
                ).fetchone()
                assert n == nd and nn == 0, (d, table, c, n, nd, nn)


def test_cte_selfjoin_narrowing_guards():
    """The narrowing refuses every CTE body where lifting a dimension
    out of the aggregation would change results: each case is one edit
    away from a body that does narrow."""
    from witdb_spark.plans.eager_agg import rewrite_cte_selfjoin_narrow

    def cte(body: str, att: str = "store_name") -> str:
        return (
            f"WITH cs AS ({body})"
            f" SELECT c1.{att}, c1.s1 AS a, c2.s1 AS b"
            f" FROM cs c1 JOIN cs c2 ON c1.item_sk = c2.item_sk"
        )

    base = (
        "SELECT s_name AS store_name, l_partkey AS item_sk,"
        " SUM(CAST(l_quantity AS DECIMAL(30,6))) AS s1"
        " FROM lineitem JOIN supplier ON s_suppkey = l_suppkey"
        " GROUP BY s_name, l_partkey"
    )
    assert "__ea_pre" in rewrite_cte_selfjoin_narrow(cte(base))
    refused = [
        # p_brand is NOT declared unique and p_partkey is not in the
        # keys: grouping by l_partkey would be finer than by p_brand
        cte(
            "SELECT p_brand AS brand, l_suppkey AS item_sk,"
            " SUM(CAST(l_quantity AS DECIMAL(30,6))) AS s1"
            " FROM lineitem JOIN part ON p_partkey = l_partkey"
            " GROUP BY p_brand, l_suppkey",
            att="brand",
        ),
        # l_orderkey is not unique in lineitem: joining it post-agg would
        # drop the fan-out multiplicity COUNT(*) counts
        cte(
            "SELECT o_orderpriority AS prio, o_custkey AS item_sk,"
            " COUNT(*) AS s1"
            " FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
            " GROUP BY o_orderpriority, o_custkey",
            att="prio",
        ),
        # outer joins / HAVING / DISTINCT make the block ineligible
        cte(base.replace("JOIN supplier", "LEFT JOIN supplier")),
        cte(base + " HAVING COUNT(*) > 1"),
        cte(base.replace("SELECT s_name", "SELECT DISTINCT s_name")),
    ]
    for q in refused:
        assert rewrite_cte_selfjoin_narrow(q) == q, q


def test_tables_dataframe_memoized(spark):
    """r16: Tables hands out the same lazy DataFrame per (session,
    sf_dir, table) — plan/metadata reuse only; a different sf_dir gets
    a different frame."""
    from witdb_spark.catalog import Tables

    t1 = Tables(spark, "/root/testdata/sf0.01")
    assert t1.lineitem is t1.lineitem
    t2 = Tables(spark, "/root/testdata/sf0.001")
    assert t2.lineitem is not t1.lineitem


def test_cte_selfjoin_narrowing(oracle):
    """r16: the q64-shape composition — narrow surrogate-key CTE,
    self-join key rewritten att=att -> key=key under declared
    uniqueness, attributes re-attached on the final joined output.
    Value-identical vs DuckDB; refuses consumers it cannot re-point."""
    from witdb_spark.plans.eager_agg import rewrite_cte_selfjoin_narrow
    from witdb_spark.queries import QUERIES

    text = QUERIES["tpcds_sql_q64"].oracle
    r = rewrite_cte_selfjoin_narrow(text)
    assert "__ea_pre" in r and "__ea_a1" in r
    # the CTE no longer exposes the dimension strings; the consumer
    # reads them through the re-attach joins
    assert " s_name AS store_name" not in r  # not exposed by the CTE
    assert ".s_name AS store_name" in r  # re-attached via the dim join
    a = oracle.execute(text).fetchdf()
    b = oracle.execute(r).fetchdf()
    assert list(a.columns) == list(b.columns)
    sa = a.sort_values(by=list(a.columns), kind="mergesort").reset_index(drop=True)
    sb = b.sort_values(by=list(a.columns), kind="mergesort").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(sa, sb)
    # a consumer that filters on a dropped attribute cannot be re-pointed
    bad = text.replace(
        "WHERE cs1.syear = 1996",
        "WHERE cs1.store_name > 'A' AND cs1.syear = 1996",
    )
    assert rewrite_cte_selfjoin_narrow(bad) == bad
    # an unaliased instance cannot be re-pointed either
    bad2 = text.replace("cross_sales cs1 JOIN", "cross_sales JOIN")
    assert rewrite_cte_selfjoin_narrow(bad2) == bad2
    # star expansion over an instance would expose the hidden anchor
    # columns and lose the dropped attributes
    items = text[
        text.index("SELECT cs1.product_name") : text.index("FROM cross_sales cs1")
    ]
    star = text.replace(items, "SELECT * ")
    assert rewrite_cte_selfjoin_narrow(star) == star
    qstar = text.replace(
        "SELECT cs1.product_name, cs1.store_name,", "SELECT cs1.*,"
    )
    assert rewrite_cte_selfjoin_narrow(qstar) == qstar
