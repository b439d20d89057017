"""Operator-inventory coverage beyond TPC-H: window functions (reference
operator/window/ — WindowOperator.java:70, RowsFraming/RangeFraming),
set operations (reference SetOperationNodeTranslator.java:60,
ImplementIntersectAll.java:40), grouping sets (GroupIdOperator.java:32),
UNNEST (operator/unnest/UnnestOperator.java:42), top-N ranking
(TopNRankingOperator.java:42), VALUES (ValuesOperator.java:27), and
distinct-limit (DistinctLimitOperator.java:40) — each as a Spark-native query
with a DuckDB oracle twin.

Determinism: window orderings always include a unique tiebreak column
(event_id / o_orderkey); running/framed double aggregates use the decimal
cast so segment-tree vs incremental evaluation order can't change bits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from witdb_spark.catalog import Tables
from witdb_spark.local_frame import local_frame
from witdb_spark.queries.registry import register
from witdb_spark.queries.shared import DEC, dsum, sql_sum

# DuckDB oracle twin of catalog.Tables._read_events: the parquet ts column is
# TIMESTAMP(NANOS); both engines operate on exact int64 nanoseconds (ts_ns) so
# sub-microsecond ordering matches bit-for-bit. The CTE shadows the driver's
# pre-registered `events` view.
EVENTS_NS = (
    "WITH events_ns AS (SELECT event_id, epoch_ns(ts) AS ts_ns, user_id, "
    "event_type, value, props FROM events)"
)


@register(
    "window_rank_topn",
    """
    SELECT user_id, event_id, value, rn, rnk, drnk
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER w AS rn,
             rank()       OVER w AS rnk,
             dense_rank() OVER w AS drnk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
    ) ranked
    WHERE rn <= 3
    """,
    doc="Top-3 events per user: ranking window functions + rank filter. Spark "
    "plans this as WindowGroupLimit (top-k per group without full sort), the "
    "same optimization as reference TopNRankingOperator.java:42 / "
    "GroupedTopNRowNumberBuilder.java:37.",
    tags=("window", "topn"),
)
def window_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        t.events.select(
            "user_id",
            "event_id",
            "value",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_lag_lead",
    f"""
    {EVENTS_NS}
    SELECT event_id,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           lag(value, 2, -1.0) OVER w AS prev2_value
    FROM events_ns
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)
    """,
    doc="Value window functions with defaults (reference LagFunction.java:29, "
    "LeadFunction.java:29).",
    tags=("window",),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    return t.events.select(
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.lag("value", 2, -1.0).over(w).alias("prev2_value"),
    )


@register(
    "window_running_sum",
    f"""
    {EVENTS_NS}
    SELECT event_id,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER (
             PARTITION BY user_id ORDER BY ts_ns, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_value,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts_ns, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
    FROM events_ns
    """,
    doc="Running aggregate with explicit ROWS frame (reference "
    "RowsFraming.java, AggregateWindowFunction.java). Decimal accumulation "
    "so DuckDB's segment-tree evaluation matches Spark's incremental one.",
    tags=("window", "frame"),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.events.select(
        "event_id",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("running_value"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


@register(
    "window_sliding_rows",
    f"""
    {EVENTS_NS}
    SELECT event_id,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER (
             PARTITION BY user_id ORDER BY ts_ns, event_id
             ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS window_sum,
           first_value(event_id) OVER (
             PARTITION BY user_id ORDER BY ts_ns, event_id
             ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS first_eid,
           last_value(event_id) OVER (
             PARTITION BY user_id ORDER BY ts_ns, event_id
             ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS last_eid,
           nth_value(event_id, 2) OVER (
             PARTITION BY user_id ORDER BY ts_ns, event_id
             ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS second_eid
    FROM events_ns
    """,
    doc="Sliding ROWS frame with first/last/nth_value (reference "
    "FirstValueFunction.java:25, NthValueFunction.java:27).",
    tags=("window", "frame"),
)
def window_sliding_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id").rowsBetween(-2, 1)
    return t.events.select(
        "event_id",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("window_sum"),
        F.first("event_id").over(w).alias("first_eid"),
        F.last("event_id").over(w).alias("last_eid"),
        F.nth_value("event_id", 2).over(w).alias("second_eid"),
    )


@register(
    "window_ntile_dist",
    """
    SELECT event_id,
           ntile(4)       OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cdist
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    doc="Distribution window functions (reference NTileFunction.java:27, "
    "PercentRankFunction.java:23, CumulativeDistributionFunction.java:23). "
    "percent_rank/cume_dist are single IEEE divisions — engine-identical.",
    tags=("window",),
)
def window_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return t.events.select(
        "event_id",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@register(
    "window_range_interval",
    f"""
    {EVENTS_NS}
    SELECT event_id,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts_ns
             RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
           AS events_last_hour
    FROM events_ns
    """,
    doc="RANGE frame over time (reference RangeFraming.java) — the rolling-"
    "window primitive a 100TB events table needs. Frame bound is 1 hour in "
    "exact nanoseconds so both engines agree to the nanosecond.",
    tags=("window", "frame"),
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns")
        .rangeBetween(-3_600_000_000_000, Window.currentRow)
    )
    return t.events.select(
        "event_id", F.count(F.lit(1)).over(w).alias("events_last_hour")
    )


@register(
    "setops_intersect_except",
    """
    WITH purchasers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         erroring   AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
         signups    AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
    SELECT 'both'      AS cohort, COUNT(*) AS n FROM (SELECT * FROM purchasers INTERSECT SELECT * FROM erroring) a
    UNION ALL
    SELECT 'purch_only' AS cohort, COUNT(*) AS n FROM (SELECT * FROM purchasers EXCEPT SELECT * FROM erroring) b
    UNION ALL
    SELECT 'any'       AS cohort, COUNT(*) AS n FROM (SELECT * FROM purchasers UNION SELECT * FROM signups) c
    """,
    doc="INTERSECT / EXCEPT / UNION [DISTINCT] / UNION ALL in one query "
    "(reference SetOperationNodeTranslator.java:60,77; "
    "ImplementIntersectDistinctAsUnion.java).",
    tags=("setops",),
)
def setops_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ev = t.events
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    err = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    sign = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    both = purch.intersect(err).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("cohort"), "n"
    )
    purch_only = purch.exceptAll(err).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("purch_only").alias("cohort"), "n"
    )
    any_ = purch.union(sign).distinct().agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("any").alias("cohort"), "n"
    )
    return both.unionAll(purch_only).unionAll(any_)


@register(
    "setops_intersect_all",
    """
    SELECT user_id FROM (SELECT user_id FROM events WHERE event_type = 'purchase')
    INTERSECT ALL
    SELECT user_id FROM (SELECT user_id FROM events WHERE event_type = 'view')
    """,
    doc="INTERSECT ALL bag semantics (reference ImplementIntersectAll.java:40-59 "
    "rewrites to row_number windows; Spark implements natively).",
    tags=("setops",),
)
def setops_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ev = t.events
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .intersectAll(ev.filter(F.col("event_type") == "view").select("user_id"))
    )


@register(
    "groupby_rollup",
    f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_sum('o_totalprice', 'total_price')},
           GROUPING(CAST(year(o_orderdate) AS INTEGER)) AS g_year,
           GROUPING(o_orderpriority) AS g_prio
    FROM orders
    GROUP BY ROLLUP (CAST(year(o_orderdate) AS INTEGER), o_orderpriority)
    """,
    doc="ROLLUP grouping sets + GROUPING() marker (reference "
    "GroupIdOperator.java:32, QueryPlanner.planGroupingSets:1090).",
    tags=("groupingsets",),
)
def groupby_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.orders.withColumn("o_year", F.year("o_orderdate").cast("int"))
        .rollup("o_year", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
            F.grouping("o_year").cast("bigint").alias("g_year"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_prio"),
        )
        .select("o_year", "o_orderpriority", "n_orders", "total_price", "g_year", "g_prio")
    )


@register(
    "groupby_cube",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets (reference grammar SqlBase.g4:273-276).",
    tags=("groupingsets",),
)
def groupby_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "groupby_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS via the SQL surface (reference "
    "analyzeGroupBy StatementAnalyzer.java:2941).",
    tags=("groupingsets", "sql"),
)
def groupby_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "unnest_words",
    """
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS word,
           CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS ord
    FROM documents
    WHERE doc_id < 50
    """,
    doc="UNNEST WITH ORDINALITY (reference UnnestOperator.java:42, grammar "
    "SqlBase.g4:417): posexplode with Trino's 1-based ordinal.",
    tags=("unnest",),
)
def unnest_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.documents.filter(F.col("doc_id") < 50)
        .select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
        )
        .select("doc_id", "word", (F.col("pos") + 1).cast("bigint").alias("ord"))
    )


@register(
    "values_inline_join",
    f"""
    SELECT t.tier, COUNT(*) AS n, {sql_sum('o_totalprice', 'total')}
    FROM orders
    JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'),
                 ('3-MEDIUM', 'warm'), ('4-NOT SPECIFIED', 'cold'),
                 ('5-LOW', 'cold')) AS t(prio, tier)
      ON o_orderpriority = t.prio
    GROUP BY t.tier
    """,
    doc="Inline VALUES relation joined to a table (reference "
    "ValuesOperator.java:27); the literal side broadcasts.",
    tags=("values", "join"),
)
def values_inline_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    tiers = local_frame(
        spark,
        [
            ("1-URGENT", "hot"),
            ("2-HIGH", "hot"),
            ("3-MEDIUM", "warm"),
            ("4-NOT SPECIFIED", "cold"),
            ("5-LOW", "cold"),
        ],
        "prio string, tier string",
    )
    return (
        t.orders.join(F.broadcast(tiers), F.col("o_orderpriority") == F.col("prio"))
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total"))
    )


@register(
    "distinct_order_offset",
    """
    SELECT DISTINCT event_type, user_id
    FROM events
    ORDER BY event_type, user_id
    LIMIT 50 OFFSET 25
    """,
    doc="DISTINCT + ORDER BY + LIMIT/OFFSET (reference "
    "DistinctLimitOperator.java:40, ImplementOffset.java).",
    tags=("distinct", "limit"),
)
def distinct_order_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.select("event_type", "user_id")
        .distinct()
        .orderBy("event_type", "user_id")
        .offset(25)
        .limit(50)
    )


@register(
    "pivot_event_counts",
    """
    SELECT user_id % 10 AS user_bucket,
           COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS view
    FROM events
    GROUP BY user_id % 10
    """,
    doc="PIVOT via Spark's native pivot (Catalyst rewrites to the same "
    "conditional-aggregate expansion the oracle spells out).",
    tags=("pivot",),
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "error", "purchase", "signup", "view"])
    )


@register(
    "lateral_top_event",
    """
    SELECT u.user_id, e.event_id AS top_event, e.value AS top_value
    FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 100) u,
         LATERAL (SELECT event_id, value FROM events e
                  WHERE e.user_id = u.user_id
                  ORDER BY value DESC, event_id LIMIT 1) e
    """,
    doc="Correlated LATERAL subquery (reference CorrelatedJoinNode, grammar "
    "SqlBase.g4:418) via Spark SQL LATERAL (3.2+).",
    tags=("lateral", "sql"),
)
def lateral_top_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    t.events.createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT u.user_id, e.event_id AS top_event, e.value AS top_value
        FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 100) u,
             LATERAL (SELECT event_id, value FROM events e
                      WHERE e.user_id = u.user_id
                      ORDER BY value DESC, event_id LIMIT 1) e
        """
    )


@register(
    "crossjoin_theta",
    """
    SELECT r1.r_name AS from_region, r2.r_name AS to_region
    FROM region r1, region r2
    WHERE r1.r_regionkey < r2.r_regionkey
    """,
    doc="Cross join with theta predicate (reference "
    "NestedLoopJoinOperator.java:45): broadcast nested-loop in Spark.",
    tags=("crossjoin",),
)
def crossjoin_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    r1 = t.region.select(
        F.col("r_regionkey").alias("k1"), F.col("r_name").alias("from_region")
    )
    r2 = t.region.select(
        F.col("r_regionkey").alias("k2"), F.col("r_name").alias("to_region")
    )
    return r1.crossJoin(r2).filter(F.col("k1") < F.col("k2")).select(
        "from_region", "to_region"
    )


@register(
    "assign_unique_id",
    """
    SELECT event_id, row_number() OVER (ORDER BY event_id) AS uid
    FROM events
    """,
    doc="AssignUniqueIdOperator.java:36 analog, exposed as a deterministic "
    "contract: uid = row_number over a total order on the (unique) natural "
    "key, hash-checkable across engines. The scale path is "
    "monotonically_increasing_id (no sort, no single-partition window; ids "
    "unique but engine-generated) — its uniqueness invariant is asserted in "
    "tests/test_queries_oracle.py::test_monotonic_id_unique.",
    tags=("misc",),
)
def assign_unique_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    # plan-gate exemption (ADVICE r2): the no-partition window below IS a
    # single-partition total sort — deliberately, as the oracle-checkable
    # determinism contract only. Production ids use the scale path named in
    # the docstring; any future global-window plan gate should exempt this
    # query by name.
    return t.events.select("event_id").withColumn(
        "uid", F.row_number().over(Window.orderBy("event_id"))
    )


@register(
    "tablesample",
    """
    SELECT COUNT(*) AS n_sampled, CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events
    WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) < 429496729
    """,
    doc="TABLESAMPLE BERNOULLI(10) (reference SampleNode, "
    "ImplementBernoulliSampleAsFilter.java — Bernoulli sampling IS a "
    "per-row filter) as a deterministic hash-threshold: keep rows whose "
    "md5(key) 32-bit prefix < 0.1 * 2^32. Unlike rand()-seeded sampling "
    "this is reproducible across engines, retries, and task re-executions "
    "— the property a 100 TB pipeline actually needs (a re-run task must "
    "sample the same rows) — and it pushes down as an ordinary filter.",
    tags=("sample",),
)
def tablesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    keep = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        < 429496729  # floor(0.1 * 2^32)
    )
    return t.events.filter(keep).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
    )


@register(
    "window_groups_frame",
    f"""
    {EVENTS_NS}
    SELECT event_id,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER (
             PARTITION BY user_id ORDER BY grp
             RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE)
           AS grp_sum
    FROM (SELECT event_id, user_id, value,
                 dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS grp
          FROM events_ns) ranked
    """,
    doc="GROUPS window frame (reference GroupsFraming.java; grammar "
    "WindowFrame.java:28-31) — missing in Spark (and DuckDB 1.0), rewritten "
    "as dense_rank + RANGE frame (operators/window_ext.py); the oracle runs "
    "the same rewrite on DuckDB's independent window engine.",
    tags=("window", "frame", "groups"),
)
def window_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.operators.window_ext import groups_frame_sum

    t = Tables(spark, sf_dir)
    out = groups_frame_sum(
        t.events,
        partition_by=["user_id"],
        order_by="event_type",
        value=F.col("value").cast(DEC),
        preceding=1,
        following=1,
        alias="grp_sum_dec",
    )
    return out.select(
        "event_id", F.col("grp_sum_dec").cast("double").alias("grp_sum")
    )


@register(
    "time_of_day_rollup",
    f"""
    {EVENTS_NS}
    SELECT CAST(ts_ns % 86400000000000 // 3600000000000 AS INT) AS hour_of_day,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total
    FROM events_ns
    GROUP BY 1, 2
    """,
    doc="time(p) handling (SURVEY §1.2: Trino time(9) has no Spark "
    "equivalent; encoded as nanos-of-day BIGINT = ts_ns % 86400e9): "
    "hour-of-day rollup over exact nanosecond arithmetic.",
    tags=("timetype", "aggregate"),
)
def time_of_day_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    nanos_of_day = F.col("ts_ns") % F.lit(86_400_000_000_000)
    return (
        t.events.withColumn(
            "hour_of_day", F.floor(nanos_of_day / F.lit(3_600_000_000_000)).cast("int")
        )
        .groupBy("hour_of_day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", "total"),
        )
    )


@register(
    "ptf_sequence_join",
    """
    SELECT t.n AS bucket_start,
           COUNT(p.p_partkey) AS n_parts
    FROM generate_series(1, 50, 10) AS t(n)
    LEFT JOIN part p ON p.p_size >= t.n AND p.p_size < t.n + 10
    GROUP BY t.n
    """,
    doc="Polymorphic table function `sequence` (reference "
    "ptf/ConnectorTableFunction.java + SequenceFunction; invoked as "
    "TABLE(sequence(...))): spark.range as a parallel generated source, "
    "range-joined against part sizes — the generated side broadcasts.",
    tags=("ptf", "join"),
)
def ptf_sequence_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.operators.table_functions import sequence_table

    t = Tables(spark, sf_dir)
    seq = sequence_table(spark, 1, 50, 10).select(
        F.col("sequential_number").alias("bucket_start")
    )
    return (
        F.broadcast(seq)
        .join(
            t.part,
            (F.col("p_size") >= F.col("bucket_start"))
            & (F.col("p_size") < F.col("bucket_start") + 10),
            "left",
        )
        .groupBy("bucket_start")
        .agg(F.count("p_partkey").alias("n_parts"))
    )


@register(
    "ptf_sql_table_spelling",
    """
    SELECT s.range AS n, x.n_name
    FROM range(0, 25, 2) s
    JOIN (SELECT n_nationkey, n_name FROM nation) x
      ON x.n_nationkey = s.range
    ORDER BY n
    """,
    doc="The SQL-text spelling of the polymorphic table functions — "
    "FROM TABLE(sequence(start => .., stop => .., step => ..)) and "
    "TABLE(exclude_columns(input => TABLE(t), columns => "
    "DESCRIPTOR(..))) — through Engine.sql (reference SPI "
    "ConnectorTableFunction; plans/dialect.py::rewrite_table_ptfs: "
    "sequence lowers to Spark's parallel range TVF with inclusive "
    "stop, exclude_columns resolves the remaining columns via a "
    "LIMIT-0 schema probe, the analog of the reference analyzer "
    "asking the PTF for its returned-type descriptor).",
    tags=("ptf", "dialect", "join"),
)
def ptf_sql_table_spelling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=sf_dir)
    return eng.sql(
        """
        SELECT t.sequential_number AS n, x.n_name
        FROM TABLE(sequence(start => 0, stop => 24, step => 2)) t
        JOIN TABLE(exclude_columns(input => TABLE(nation),
                                   columns => DESCRIPTOR(n_regionkey))) x
          ON x.n_nationkey = t.sequential_number
        ORDER BY n
        """
    )


@register(
    "sessionize_events",
    f"""
    {EVENTS_NS},
    gaps AS (
      SELECT user_id, event_id, ts_ns,
             CASE WHEN ts_ns - lag(ts_ns) OVER w > 1800000000000
                  OR lag(ts_ns) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
      FROM events_ns
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, ts_ns,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM gaps
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           COUNT(*) AS n_events,
           MIN(event_id) AS first_event,
           CAST((MAX(ts_ns) - MIN(ts_ns)) // 1000000000 AS BIGINT)
             AS duration_s
    FROM sess
    GROUP BY user_id, session_no
    """,
    doc="Sessionization (30-min inactivity gap): lag + running-sum session "
    "ids — the batch twin of Structured Streaming session windows "
    "(streaming/ops.py covers the streaming side). One window shuffle on "
    "user_id; exact nanosecond arithmetic keeps both engines identical.",
    tags=("analytics", "window", "sessionize"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    gap_ns = 1_800_000_000_000  # 30 min
    is_start = F.when(
        F.lag("ts_ns").over(w).isNull()
        | ((F.col("ts_ns") - F.lag("ts_ns").over(w)) > gap_ns),
        1,
    ).otherwise(0)
    sess = (
        t.events.withColumn("is_start", is_start)
        .withColumn(
            "session_no",
            F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.expr("(max(ts_ns) - min(ts_ns)) div 1000000000").alias("duration_s"),
    )


@register(
    "yoy_revenue",
    f"""
    WITH yr AS (
      SELECT CAST(year(o_orderdate) AS INT) AS y,
             {sql_sum('o_totalprice', 'rev')}
      FROM orders GROUP BY 1
    )
    SELECT cur.y AS year, cur.rev AS rev,
           round(cur.rev / prev.rev, 6) AS yoy_ratio
    FROM yr cur JOIN yr prev ON prev.y = cur.y - 1
    """,
    doc="Year-over-year comparison (TPC-DS q74-style pattern from the "
    "reference's 99-query DS corpus, adapted): per-year decimal-exact "
    "revenue, self-joined on adjacent years. The yearly aggregate is tiny "
    "after the groupBy, so the self-join broadcasts.",
    tags=("analytics", "tpcds"),
)
def yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    yr = t.orders.groupBy(
        F.year("o_orderdate").cast("int").alias("y")
    ).agg(dsum("o_totalprice", "rev"))
    cur = yr.select(F.col("y").alias("year"), F.col("rev"))
    prev = yr.select((F.col("y") + 1).alias("py"), F.col("rev").alias("prev_rev"))
    return (
        cur.join(F.broadcast(prev), F.col("year") == F.col("py"))
        .select(
            "year",
            "rev",
            F.round(F.col("rev") / F.col("prev_rev"), 6).alias("yoy_ratio"),
        )
    )


@register(
    "category_share",
    f"""
    WITH cat AS (
      SELECT p_type,
             {sql_sum('l_extendedprice * (1 - l_discount)', 'rev')}
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY p_type
    )
    SELECT p_type, rev,
           round(rev / SUM(rev) OVER (), 6) AS share,
           CAST(rank() OVER (ORDER BY rev DESC, p_type) AS INT) AS rnk
    FROM cat
    """,
    doc="Share-of-total report (TPC-DS ratio_to_report pattern): category "
    "revenue over a global window sum — the empty OVER () is a single-"
    "partition window over the already-tiny aggregate, not over the fact "
    "table; rank tie-broken by name for determinism.",
    tags=("analytics", "tpcds", "window"),
)
def category_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cat = (
        t.lineitem.join(t.part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_type")
        .agg(dsum(disc, "rev"))
    )
    wall = Window.partitionBy()
    wrank = Window.orderBy(F.col("rev").desc(), "p_type")
    return cat.select(
        "p_type",
        "rev",
        F.round(F.col("rev") / F.sum("rev").over(wall), 6).alias("share"),
        F.rank().over(wrank).cast("int").alias("rnk"),
    )


@register(
    "session_window_native",
    f"""
    {EVENTS_NS},
    us AS (
      SELECT user_id, event_id, ts_ns // 1000 AS ts_us FROM events_ns
    ),
    gaps AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                  OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0
             END AS is_start
      FROM us
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
      SELECT user_id, ts_us,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM gaps
    )
    SELECT user_id, CAST(MIN(ts_us) AS BIGINT) AS session_start_us,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_no
    """,
    doc="Native session_window (Spark's streaming-capable session operator, "
    "usable identically under readStream + watermark): events merge while "
    "consecutive gaps stay under 30 min — i.e. a new session starts when "
    "the gap is >= the timeout, which is exactly the gaps-and-islands "
    "oracle. Timestamps compared at microsecond precision on both sides "
    "(session_window takes a TIMESTAMP; ts_ns is floor-divided to micros).",
    tags=("analytics", "window", "sessionize", "streaming"),
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ev = t.events.withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            "n_events",
        )
    )


@register(
    "moving_avg_deviation",
    f"""
    WITH monthly AS (
      SELECT o_orderpriority AS prio,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS ym,
             {sql_sum('o_totalprice', 'rev')}
      FROM orders GROUP BY 1, 2
    )
    SELECT prio, ym, rev,
           round(AVG(rev) OVER (PARTITION BY prio ORDER BY ym
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
             AS avg3,
           round(rev - AVG(rev) OVER (PARTITION BY prio ORDER BY ym
                                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
             AS deviation
    FROM monthly
    """,
    doc="Moving average + deviation (TPC-DS q47-style pattern): monthly "
    "decimal-exact revenue per priority, 3-month trailing window. The "
    "window AVG runs over the tiny monthly aggregate (months x priorities "
    "rows), and its operands are already engine-identical doubles, so "
    "round(6) of the 3-element mean matches exactly.",
    tags=("analytics", "tpcds", "window"),
)
def moving_avg_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    monthly = t.orders.groupBy(
        F.col("o_orderpriority").alias("prio"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("int")
        .alias("ym"),
    ).agg(dsum("o_totalprice", "rev"))
    w = Window.partitionBy("prio").orderBy("ym").rowsBetween(-2, 0)
    return monthly.select(
        "prio",
        "ym",
        "rev",
        F.round(F.avg("rev").over(w), 6).alias("avg3"),
        F.round(F.col("rev") - F.avg("rev").over(w), 6).alias("deviation"),
    )


@register(
    "window_ignore_nulls",
    f"""
    {EVENTS_NS},
    v AS (
      SELECT event_id, user_id, ts_ns,
             CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS ok_type
      FROM events_ns
    )
    SELECT event_id,
           last_value(ok_type IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_ns, event_id
             ROWS UNBOUNDED PRECEDING) AS last_ok_type,
           lag(ok_type IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_ns, event_id) AS prev_ok_type
    FROM v
    """,
    doc="IGNORE NULLS value windows (reference FirstValueFunction.java:25/"
    "LagFunction.java:29 support ignore-nulls): last-known-good carry-"
    "forward — the gap-fill idiom — and nulls-skipping lag, both native in "
    "Spark and DuckDB.",
    tags=("window", "ignorenulls"),
)
def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    ok = F.when(F.col("event_type") != "error", F.col("event_type"))
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    # F.lag has no ignorenulls parameter; the SQL form does
    lag_ign = F.expr(
        "lag(ok_type) IGNORE NULLS OVER ("
        "PARTITION BY user_id ORDER BY ts_ns, event_id)"
    )
    return t.events.withColumn("ok_type", ok).select(
        "event_id",
        F.last("ok_type", ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("last_ok_type"),
        lag_ign.alias("prev_ok_type"),
    )


@register(
    "limit_with_ties",
    """
    SELECT o_orderkey, o_orderdate FROM (
      SELECT o_orderkey, o_orderdate,
             rank() OVER (ORDER BY o_orderdate) AS rk
      FROM orders) r
    WHERE rk <= 20
    """,
    doc="FETCH FIRST n ROWS WITH TIES (reference grammar SqlBase.g4 "
    "limitRowCount / ImplementLimitWithTies.java:65): the dialect rewrite "
    "turns the clause into a rank() window filter, which Spark's optimizer "
    "lowers to WindowGroupLimit (partial top-n per partition before the "
    "final sort). DuckDB lacks WITH TIES, so the oracle spells out the "
    "identical rank() form on its independent engine.",
    tags=("limit", "ties", "dialect"),
)
def limit_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.plans import transpile

    Tables(spark, sf_dir).register_views(["orders"])
    return spark.sql(
        transpile(
            "SELECT o_orderkey, o_orderdate FROM orders"
            " ORDER BY o_orderdate FETCH FIRST 20 ROWS WITH TIES"
        )
    )


@register(
    "quantified_comparison",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice >= ALL (SELECT o_totalprice FROM orders
                               WHERE o_orderpriority = '1-URGENT')
       OR o_orderkey = ANY (SELECT o_orderkey FROM orders
                            WHERE o_totalprice < 1000)
    """,
    doc="Quantified comparisons (reference grammar SqlBase.g4 "
    "comparisonQuantifier; planner QuantifiedComparisonRewriter): "
    ">= ALL lowers to the NULL-aware max() CASE, = ANY lowers to IN. "
    "DuckDB evaluates the quantifiers natively as the oracle.",
    tags=("subquery", "quantified", "dialect"),
)
def quantified_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.plans import transpile

    Tables(spark, sf_dir).register_views(["orders"])
    return spark.sql(
        transpile(
            "SELECT o_orderkey, o_totalprice FROM orders"
            " WHERE o_totalprice >= ALL (SELECT o_totalprice FROM orders"
            " WHERE o_orderpriority = '1-URGENT')"
            " OR o_orderkey = ANY (SELECT o_orderkey FROM orders"
            " WHERE o_totalprice < 1000)"
        )
    )


@register(
    "recursive_factorial",
    """
    WITH RECURSIVE t(n, f) AS (
      SELECT CAST(1 AS INT) AS n, CAST(1 AS BIGINT) AS f
      UNION ALL
      SELECT n + 1, f * (n + 1) FROM t WHERE n < 20
    )
    SELECT n, f FROM t
    """,
    doc="WITH RECURSIVE, UNION ALL form (reference SqlBase.g4:190, "
    "StatementAnalyzer recursive handling): Spark has no recursive CTE, "
    "so plans/recursive.py runs the iterative fixpoint — anchor, then "
    "bind-the-name/evaluate-step rounds with localCheckpoint lineage "
    "truncation until the frontier empties. DuckDB runs the identical "
    "recursive SQL natively as the oracle.",
    tags=("recursive", "cte", "dialect"),
)
def recursive_factorial(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.engine import Engine

    eng = Engine(spark)
    return eng.sql(
        """
        WITH RECURSIVE t(n, f) AS (
          SELECT CAST(1 AS INT) AS n, CAST(1 AS BIGINT) AS f
          UNION ALL
          SELECT n + 1, f * (n + 1) FROM t WHERE n < 20
        )
        SELECT n, f FROM t
        """
    )


@register(
    "recursive_reachability",
    """
    WITH RECURSIVE reach(node) AS (
      SELECT CAST(0 AS BIGINT) AS node
      UNION
      SELECT CAST((n.n_nationkey * 7 + 3) % 25 AS BIGINT)
      FROM reach r JOIN nation n ON n.n_nationkey = r.node
    )
    SELECT COUNT(*) AS n_reach, CAST(SUM(node) AS BIGINT) AS sum_nodes
    FROM reach
    """,
    doc="WITH RECURSIVE, UNION (distinct) form: transitive closure over a "
    "CYCLIC functional graph on nation keys — the distinct mode's global "
    "subtract is what reaches a fixpoint despite the cycle (UNION ALL "
    "would loop forever; the reference analyzer imposes the same "
    "bounded-recursion rule). One subtract shuffle per round, the "
    "GraphX/Pregel iteration shape.",
    tags=("recursive", "cte", "dialect", "graph"),
)
def recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.engine import Engine

    eng = Engine(spark)
    t = Tables(spark, sf_dir)
    t.nation.createOrReplaceTempView("nation")
    return eng.sql(
        """
        WITH RECURSIVE reach(node) AS (
          SELECT CAST(0 AS BIGINT) AS node
          UNION
          SELECT CAST((n.n_nationkey * 7 + 3) % 25 AS BIGINT)
          FROM reach r JOIN nation n ON n.n_nationkey = r.node
        )
        SELECT COUNT(*) AS n_reach, CAST(SUM(node) AS BIGINT) AS sum_nodes
        FROM reach
        """
    )


@register(
    "groupby_grouping_operation",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS g_mask,
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="GROUPING operation (reference SqlBase.g4:539 #groupingOperation, "
    "GroupingOperationRewriter): per-column grouping bit and the "
    "multi-column bitmask (2*g(a)+g(b)) over ROLLUP — Spark's grouping()/"
    "grouping_id() implement the identical standard formula, so all three "
    "engines agree bit-for-bit.",
    tags=("groupingsets", "sql"),
)
def groupby_grouping_operation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS g_mask,
               COUNT(*) AS n
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """
    )


_MULTICOUNT_SQL = f"""
    SELECT COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT'
                              AND o_totalprice > 150000) AS urgent_big,
           COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT'
                              AND o_totalprice <= 150000) AS urgent_small,
           COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH'
                              AND o_orderstatus = 'F') AS high_done,
           COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH'
                              AND o_orderstatus <> 'F') AS high_open,
           COUNT(*) FILTER (WHERE o_orderpriority NOT IN
                              ('1-URGENT', '2-HIGH')) AS rest,
           {sql_sum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END",
                    'rev_done')},
           {sql_sum("CASE WHEN o_orderstatus <> 'F' THEN o_totalprice END",
                    'rev_open')}
    FROM orders
"""


@register(
    "tpcds_multicount_scan",
    _MULTICOUNT_SQL,
    doc="Single-scan bucketed counts (TPC-DS q88-style pattern from the "
    "reference's 99-query DS corpus, adapted to the schema): many "
    "COUNT(*) FILTER buckets plus conditional decimal-exact sums computed "
    "in ONE pass over orders — the reference plans this as one "
    "ScanFilterAndProject feeding a single AggregationOperator, and Spark "
    "likewise keeps one scan with no re-reads (identical SQL runs on "
    "both engines).",
    tags=("analytics", "tpcds", "aggregate"),
)
def tpcds_multicount_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("orders")
    return spark.sql(_MULTICOUNT_SQL)


_ROLLUP_RANK_SQL = f"""
    SELECT n_name, o_orderstatus,
           {sql_sum('o_totalprice', 'rev')},
           CAST(grouping(n_name) + grouping(o_orderstatus) AS INT)
             AS lochierarchy,
           CAST(rank() OVER (
             PARTITION BY grouping(n_name) + grouping(o_orderstatus),
                          CASE WHEN grouping(o_orderstatus) = 0
                               THEN n_name END
             ORDER BY CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
                           AS DOUBLE) DESC,
                      coalesce(n_name, ''), coalesce(o_orderstatus, '')
           ) AS INT) AS rnk
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY ROLLUP (n_name, o_orderstatus)
"""


@register(
    "tpcds_rollup_rank",
    _ROLLUP_RANK_SQL,
    doc="Rollup with rank-within-grouping-level (TPC-DS q36's signature "
    "shape): revenue ROLLUP over (nation, status), lochierarchy from "
    "GROUPING bits, and rank() partitioned by hierarchy level windowed "
    "OVER the aggregate — GroupIdOperator + WindowOperator stacked "
    "(reference GroupIdOperator.java:32, WindowOperator.java:70). "
    "Tie-breaks coalesce the NULL rollup keys so ASC null ordering "
    "differences between engines can't flip ranks; identical SQL runs "
    "on both.",
    tags=("analytics", "tpcds", "groupingsets", "window"),
)
def tpcds_rollup_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("orders")
    t.customer.createOrReplaceTempView("customer")
    t.nation.createOrReplaceTempView("nation")
    return spark.sql(_ROLLUP_RANK_SQL)


@register(
    "merge_upsert_result",
    """
    WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                 FROM orders WHERE o_orderkey % 3 = 0),
    src AS (SELECT o_orderkey, o_orderstatus,
                   o_totalprice + 1000.0 AS o_totalprice
            FROM orders WHERE o_orderkey % 2 = 0),
    merged AS (
      SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
             CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                  THEN 'U'
                  WHEN t.o_orderkey IS NULL THEN s.o_orderstatus
                  ELSE t.o_orderstatus END AS o_orderstatus,
             CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                  THEN s.o_totalprice
                  WHEN t.o_orderkey IS NULL THEN s.o_totalprice
                  ELSE t.o_totalprice END AS o_totalprice
      FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS total
    FROM merged GROUP BY o_orderstatus
    """,
    doc="SQL MERGE as an ORACLED query (reference MergeWriterOperator.java"
    ":46 + DeleteAndInsertMergeProcessor): MERGE INTO a third of orders "
    "USING half of orders ON the key — WHEN MATCHED THEN UPDATE (status "
    "-> 'U', price from source), WHEN NOT MATCHED THEN INSERT. The "
    "post-merge snapshot is summarized per status with decimal-exact "
    "totals; the oracle replays the merge as the FULL OUTER JOIN it "
    "plans to (one shuffle on the merge keys).",
    tags=("merge", "dml"),
)
def merge_upsert_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.sources.merge import merge_into

    t = Tables(spark, sf_dir)
    orders = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    target = orders.where(F.col("o_orderkey") % 3 == 0)
    source = orders.where(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    merged = merge_into(
        target,
        source,
        on=["o_orderkey"],
        when_matched_update={
            "o_orderstatus": F.lit("U"),
            "o_totalprice": F.col("src.o_totalprice"),
        },
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "total"),
    )


@register(
    "delete_update_snapshot",
    """
    WITH after_delete AS (
      SELECT * FROM customer
      WHERE NOT (coalesce(c_acctbal, 0.0) < 0.0)),
    after_update AS (
      SELECT c_custkey, c_nationkey,
             CASE WHEN c_mktsegment = 'BUILDING'
                  THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
      FROM after_delete)
    SELECT c_nationkey AS nation, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS bal
    FROM after_update GROUP BY c_nationkey
    """,
    doc="DELETE + UPDATE as ORACLED snapshots (reference "
    "TableDeleteOperator.java:33 / merge update path): DELETE customers "
    "with negative balances (anti-filter; NULL predicate keeps the row, "
    "SQL DELETE semantics), then UPDATE the BUILDING segment's balance "
    "(+100, conditional projection). The post-DML snapshot is summarized "
    "per nation with decimal-exact totals; the oracle replays both "
    "statements as the filters/projections they plan to.",
    tags=("dml",),
)
def delete_update_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.sources.merge import delete_where, update_where

    t = Tables(spark, sf_dir)
    cust = t.customer
    deleted = delete_where(cust, F.col("c_acctbal") < 0.0)
    updated = update_where(
        deleted,
        F.col("c_mktsegment") == "BUILDING",
        {"c_acctbal": F.col("c_acctbal") + F.lit(100.0)},
    )
    return updated.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("c_acctbal", "bal"),
    )


def _build_delta_fixture(sf_dir: str) -> str:
    """Author a small Delta table from the region parquet using the
    PUBLIC log protocol (github.com/delta-io/delta PROTOCOL.md): two
    data files in commit 0, then commit 1 compacts one away (remove +
    re-add of identical rows) — so a correct snapshot equals region
    exactly and a reader that misses the remove double-counts."""
    import json as _json
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(os.path.join(sf_dir, "region.parquet"))
    ids = src.column("r_regionkey").to_pylist()
    names = src.column("r_name").to_pylist()
    root = os.path.join(
        tempfile.gettempdir(),
        f"witdb_delta_fixture_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)

    def wf(name, lo, hi):
        tbl = pa.table(
            {
                "r_regionkey": pa.array(
                    [int(i) for i in ids[lo:hi]], pa.int64()
                ),
                "r_name": pa.array(names[lo:hi], pa.string()),
            }
        )
        pq.write_table(tbl, os.path.join(root, name))
        return os.path.getsize(os.path.join(root, name))

    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "r_regionkey", "type": "long",
                 "nullable": True, "metadata": {}},
                {"name": "r_name", "type": "string",
                 "nullable": True, "metadata": {}},
            ],
        }
    )

    def add(path, size):
        return {
            "add": {
                "path": path, "partitionValues": {}, "size": size,
                "modificationTime": 1700000000000, "dataChange": True,
            }
        }

    k = max(1, len(ids) // 2)
    s1, s2 = wf("f1.parquet", 0, k), wf("f2.parquet", k, len(ids))
    actions0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "witdb-delta-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": [],
                "configuration": {},
            }
        },
        add("f1.parquet", s1),
        add("f2.parquet", s2),
    ]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write("\n".join(_json.dumps(a) for a in actions0) + "\n")
    s3 = wf("f3.parquet", 0, k)
    actions1 = [
        {"remove": {"path": "f1.parquet", "dataChange": False}},
        add("f3.parquet", s3),
    ]
    with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
        f.write("\n".join(_json.dumps(a) for a in actions1) + "\n")
    return root


@register(
    "delta_log_reader_snapshot",
    """
    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
    FROM region
    """,
    doc="The no-jar Delta Lake read path (sources/delta_log.py): the "
    "reference's delta connector (plugin/trino-delta-lake "
    "TransactionLogAccess.java) implements the PUBLIC transaction-log "
    "protocol itself rather than linking Delta, and so does this "
    "engine. The query authors a two-commit Delta table from region "
    "(commit 1 compacts a file: remove + re-add of identical rows), "
    "folds the log into the active add-file set, and scans the "
    "surviving files as distributed parquet — a reader that missed "
    "the remove action would double-count and hash-mismatch.",
    tags=("source", "lakehouse"),
)
def delta_log_reader_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.sources.delta_log import read_delta_snapshot

    return read_delta_snapshot(spark, _build_delta_fixture(sf_dir))




def _build_iceberg_fixture(sf_dir: str) -> str:
    """Author a small Iceberg table from the region parquet per the
    PUBLIC table spec (iceberg.apache.org/spec): snapshot 100 carries
    two data files; snapshot 200's manifest marks one DELETED and adds
    a rewrite with identical rows — so a correct current-snapshot read
    equals region exactly, and a reader that ignores entry status
    double-counts."""
    import json as _json
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from witdb_spark.sources.avro_codec import write_avro_file

    src = pq.read_table(os.path.join(sf_dir, "region.parquet"))
    ids = src.column("r_regionkey").to_pylist()
    names = src.column("r_name").to_pylist()
    root = os.path.join(
        tempfile.gettempdir(),
        f"witdb_iceberg_fixture_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))

    def wf(name, lo, hi):
        full = os.path.join(root, name)
        pq.write_table(
            pa.table({
                "r_regionkey": pa.array(
                    [int(i) for i in ids[lo:hi]], pa.int64()),
                "r_name": pa.array(names[lo:hi], pa.string()),
            }),
            full,
        )
        return os.path.getsize(full)

    entry_schema = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            }},
        ],
    }
    list_schema = {
        "type": "record", "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "content", "type": "int"},
            {"name": "added_snapshot_id", "type": ["null", "long"]},
        ],
    }

    def entry(status, path, size):
        return {"status": status, "snapshot_id": 200,
                "data_file": {"content": 0, "file_path": path,
                              "file_format": "PARQUET",
                              "record_count": 1,
                              "file_size_in_bytes": size}}

    k = max(1, len(ids) // 2)
    s1 = wf("data/f1.parquet", 0, k)
    s2 = wf("data/f2.parquet", k, len(ids))
    s3 = wf("data/f3.parquet", 0, k)
    m2 = os.path.join(root, "metadata", "m2.avro")
    write_avro_file(m2, entry_schema, [
        entry(2, "data/f1.parquet", s1),
        entry(0, "data/f2.parquet", s2),
        entry(1, "data/f3.parquet", s3),
    ])
    ml2 = os.path.join(root, "metadata", "snap-200.avro")
    write_avro_file(ml2, list_schema, [{
        "manifest_path": m2, "manifest_length": os.path.getsize(m2),
        "partition_spec_id": 0, "content": 0, "added_snapshot_id": None,
    }])
    meta = {
        "format-version": 2, "table-uuid": "witdb-iceberg-fixture",
        "location": root, "current-snapshot-id": 200,
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "r_regionkey", "type": "long",
             "required": False},
            {"id": 2, "name": "r_name", "type": "string",
             "required": False},
        ]}],
        "snapshots": [{"snapshot-id": 200,
                       "timestamp-ms": 1700000002000,
                       "manifest-list": ml2}],
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as f:
        _json.dump(meta, f)
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    return root


@register(
    "iceberg_meta_reader_snapshot",
    """
    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
    FROM region
    """,
    doc="The jar-free Iceberg read path (sources/iceberg_meta.py over "
    "sources/avro_codec.py; reference plugin/trino-iceberg reads the "
    "same public metadata chain): the query authors an Iceberg table "
    "from region whose current manifest marks one file DELETED and "
    "adds a rewrite of identical rows, walks metadata.json -> "
    "manifest-list avro -> manifest avro, and scans the active data "
    "files as distributed parquet — a reader that ignored entry "
    "status would double-count and hash-mismatch.",
    tags=("source", "lakehouse"),
)
def iceberg_meta_reader_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.sources.iceberg_meta import read_iceberg_snapshot

    return read_iceberg_snapshot(spark, _build_iceberg_fixture(sf_dir))



def _build_hudi_fixture(sf_dir: str) -> str:
    """Author a small Hudi COW table from the region parquet per the
    public .hoodie timeline layout: commit 1 writes two file groups;
    commit 2 upserts one group with identical rows (a newer base file)
    — so a correct read-optimized snapshot equals region exactly, and a
    reader that kept both base-file versions would double-count."""
    import json as _json
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(os.path.join(sf_dir, "region.parquet"))
    ids = src.column("r_regionkey").to_pylist()
    names = src.column("r_name").to_pylist()
    root = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_fixture_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, ".hoodie"))
    with open(os.path.join(root, ".hoodie", "hoodie.properties"), "w") as f:
        f.write(
            "hoodie.table.name=witdb_hudi_fixture\n"
            "hoodie.table.type=COPY_ON_WRITE\n"
        )

    def wf(name, lo, hi):
        pq.write_table(
            pa.table({
                "r_regionkey": pa.array(
                    [int(i) for i in ids[lo:hi]], pa.int64()),
                "r_name": pa.array(names[lo:hi], pa.string()),
            }),
            os.path.join(root, name),
        )

    def commit(instant, stats):
        with open(
            os.path.join(root, ".hoodie", f"{instant}.commit"), "w"
        ) as f:
            _json.dump({"partitionToWriteStats": {"": stats}}, f)

    k = max(1, len(ids) // 2)
    wf("A_0_20240101000000.parquet", 0, k)
    wf("B_0_20240101000000.parquet", k, len(ids))
    commit("20240101000000", [
        {"fileId": "A", "path": "A_0_20240101000000.parquet"},
        {"fileId": "B", "path": "B_0_20240101000000.parquet"},
    ])
    wf("A_0_20240102000000.parquet", 0, k)
    commit("20240102000000", [
        {"fileId": "A", "path": "A_0_20240102000000.parquet"},
    ])
    return root


@register(
    "hudi_timeline_reader_snapshot",
    """
    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
    FROM region
    """,
    doc="The jar-free Hudi copy-on-write read path "
    "(sources/hudi_meta.py; reference plugin/trino-hudi "
    "HudiReadOptimizedDirectoryLister serves the same read-optimized "
    "snapshot): the query authors a two-commit COW table from region "
    "where commit 2 upserts a file group with identical rows, folds "
    "the timeline into the newest base file per file group, and scans "
    "them as distributed parquet — keeping both base-file versions "
    "would double-count and hash-mismatch.",
    tags=("source", "lakehouse"),
)
def hudi_timeline_reader_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.sources.hudi_meta import read_hudi_snapshot

    return read_hudi_snapshot(spark, _build_hudi_fixture(sf_dir))



@register(
    "delta_writer_roundtrip",
    """
    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
    FROM region
    """,
    doc="The jar-free Delta WRITE path (sources/delta_log.py write "
    "half; reference delta connector CTAS/DELETE/INSERT): CTAS region "
    "into a fresh Delta table (version 0), copy-on-write DELETE half "
    "the keys (only files containing matches are rewritten), then "
    "append the deleted rows back — three commits through the "
    "put-if-absent rule. A correct final snapshot equals region "
    "exactly; a writer that mislaid a remove or re-add would show "
    "missing or duplicated rows and hash-mismatch.",
    tags=("source", "lakehouse", "writer", "dml"),
)
def delta_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.delta_log import (
        delta_delete_where,
        read_delta_snapshot,
        write_delta,
    )

    t = Tables(spark, sf_dir)
    src = t.region.selectExpr(
        "CAST(r_regionkey AS BIGINT) AS r_regionkey", "r_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_delta_writer_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_delta(spark, src, path, mode="create")
    delta_delete_where(spark, path, "r_regionkey % 2 = 0")
    write_delta(
        spark, src.filter("r_regionkey % 2 = 0"), path, mode="append"
    )
    return read_delta_snapshot(spark, path)


@register(
    "iceberg_posdelete_roundtrip",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
    FROM nation WHERE n_nationkey % 3 <> 1
    """,
    doc="Jar-free Iceberg v2 POSITION-delete merge-on-read "
    "(sources/iceberg_meta.py iceberg_write_position_deletes + "
    "_apply_position_deletes; reference plugin/trino-iceberg/.../delete/"
    "PositionDeleteFilter.java): CTAS nation into a fresh v2 table "
    "across two data files, commit a spec-shaped position-delete "
    "snapshot targeting the n_nationkey%3=1 rows by their physical "
    "(file, row ordinal), then read. The scan tags rows with the "
    "parquet _metadata (file_path, row_index) and LEFT ANTI joins the "
    "sequence-scoped delete rows — a misapplied sequence bound or an "
    "off-by-one row ordinal hash-mismatches.",
    tags=("source", "lakehouse", "writer", "dml"),
)
def iceberg_posdelete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.iceberg_meta import (
        _iceberg_scan,
        iceberg_write_position_deletes,
        read_iceberg_snapshot,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    src = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_iceberg_posdel_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(
        spark, src.filter("n_nationkey < 12").coalesce(1), path,
        mode="create",
    )
    write_iceberg(
        spark, src.filter("n_nationkey >= 12").coalesce(1), path,
        mode="append",
    )
    files = [p for p, _ in _iceberg_scan(path)[0]]
    tagged = spark.read.parquet(*files).select(
        F.col("_metadata.file_path").alias("f"),
        F.col("_metadata.row_index").alias("p"),
        "n_nationkey",
    )
    targets = [
        (r.f, r.p)
        for r in tagged.where("n_nationkey % 3 = 1").collect()
    ]
    iceberg_write_position_deletes(spark, path, targets)
    return read_iceberg_snapshot(spark, path)


@register(
    "iceberg_dml_roundtrip",
    """
    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
           CASE WHEN r_regionkey = 0 THEN 'REDACTED' ELSE r_name END
             AS r_name
    FROM region
    """,
    doc="Jar-free Iceberg copy-on-write DML (sources/iceberg_meta.py "
    "iceberg_delete_where/iceberg_update_where; reference iceberg "
    "connector COW write mode): CTAS region into a fresh Iceberg "
    "table, DELETE the odd keys (only matched files rewritten, old "
    "files retained for time travel), UPDATE key 0's name, then append "
    "the deleted rows back. The final snapshot must equal region with "
    "one name redacted; a mislaid kept-file entry or a post-update "
    "predicate re-evaluation would hash-mismatch.",
    tags=("source", "lakehouse", "writer", "dml"),
)
def iceberg_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.iceberg_meta import (
        iceberg_delete_where,
        iceberg_update_where,
        read_iceberg_snapshot,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    src = t.region.selectExpr(
        "CAST(r_regionkey AS BIGINT) AS r_regionkey", "r_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_iceberg_dml_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(spark, src, path, mode="create")
    iceberg_delete_where(spark, path, "r_regionkey % 2 = 1")
    iceberg_update_where(
        spark, path, "r_regionkey = 0", {"r_name": "'REDACTED'"}
    )
    write_iceberg(
        spark, src.filter("r_regionkey % 2 = 1"), path, mode="append"
    )
    return read_iceberg_snapshot(spark, path)


@register(
    "iceberg_partitioned_roundtrip",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey = 0 THEN 'HQ' ELSE n_name END AS n_name,
           CAST(n_regionkey AS INT) AS n_regionkey
    FROM nation WHERE n_nationkey % 5 <> 2
    """,
    doc="Jar-free IDENTITY-PARTITIONED Iceberg writes (r10, "
    "sources/iceberg_meta.py _stage_iceberg_data; reference "
    "plugin/trino-iceberg/.../IcebergMetadata.java append path + "
    "PartitionData.java): CTAS nation partitioned by n_regionkey "
    "(identity transform, partition structs in the manifest, data "
    "files under data/<col>=<val>/ keeping every column physically), "
    "append the tail, COW DELETE a key stripe (kept entries re-emit "
    "their partition structs; survivors re-stage partitioned), UPDATE "
    "one name. Hash must equal the filtered+redacted nation.",
    tags=("source", "lakehouse", "writer", "dml", "partitioned"),
)
def iceberg_partitioned_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.iceberg_meta import (
        iceberg_delete_where,
        iceberg_update_where,
        read_iceberg_snapshot,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    src = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey",
        "n_name",
        "CAST(n_regionkey AS INT) AS n_regionkey",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_iceberg_part_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(
        spark, src.filter("n_nationkey < 15"), path,
        mode="create", partition_by=["n_regionkey"],
    )
    write_iceberg(
        spark, src.filter("n_nationkey >= 15"), path, mode="append"
    )
    iceberg_delete_where(spark, path, "n_nationkey % 5 = 2")
    iceberg_update_where(
        spark, path, "n_nationkey = 0", {"n_name": "'HQ'"}
    )
    return read_iceberg_snapshot(spark, path)


@register(
    "hudi_dml_roundtrip",
    """
    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
           CASE WHEN r_regionkey = 0 THEN 'REDACTED' ELSE r_name END
             AS r_name
    FROM region
    """,
    doc="Jar-free Hudi copy-on-write DML (sources/hudi_meta.py "
    "hudi_delete_where/hudi_update_where): CTAS region into a fresh "
    "Hudi table, DELETE the odd keys (matched file groups retired by a "
    "replacecommit, survivors republished as fresh groups), UPDATE key "
    "0's name, append the deleted rows back. The final snapshot must "
    "hash-equal region with one name redacted.",
    tags=("source", "lakehouse", "writer", "dml"),
)
def hudi_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_meta import (
        hudi_delete_where,
        hudi_update_where,
        read_hudi_snapshot,
        write_hudi,
    )

    t = Tables(spark, sf_dir)
    src = t.region.selectExpr(
        "CAST(r_regionkey AS BIGINT) AS r_regionkey", "r_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_dml_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi(spark, src, path, mode="create")
    hudi_delete_where(spark, path, "r_regionkey % 2 = 1")
    hudi_update_where(
        spark, path, "r_regionkey = 0", {"r_name": "'REDACTED'"}
    )
    write_hudi(
        spark, src.filter("r_regionkey % 2 = 1"), path, mode="append"
    )
    return read_hudi_snapshot(spark, path).select("r_regionkey", "r_name")


@register(
    "lakehouse_merge_roundtrip",
    """
    SELECT fmt, CAST(r_regionkey AS BIGINT) AS r_regionkey,
           'M:' || r_name AS r_name
    FROM (SELECT 'delta' AS fmt UNION ALL SELECT 'hudi'
          UNION ALL SELECT 'iceberg') f
    CROSS JOIN region
    """,
    doc="MERGE INTO across all three jar-free lakehouse formats "
    "(sources/delta_log.py delta_merge_into, iceberg_meta.py "
    "iceberg_merge_into, hudi_meta.py hudi_merge_into): each format "
    "CTASes the even region keys, then merges the full region with "
    "'M:'-prefixed names — matched rows update, unmatched insert — so "
    "every final snapshot must equal region with every name prefixed. "
    "A mislaid kept file, a dropped insert, or post-update predicate "
    "bleed in ANY of the three paths hash-mismatches its fmt slice.",
    tags=("source", "lakehouse", "writer", "dml", "merge"),
)
def lakehouse_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from witdb_spark.sources.delta_log import (
        delta_merge_into,
        read_delta_snapshot,
        write_delta,
    )
    from witdb_spark.sources.hudi_meta import (
        hudi_merge_into,
        read_hudi_snapshot,
        write_hudi,
    )
    from witdb_spark.sources.iceberg_meta import (
        iceberg_merge_into,
        read_iceberg_snapshot,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    src_all = t.region.selectExpr(
        "CAST(r_regionkey AS BIGINT) AS r_regionkey",
        "'M:' || r_name AS r_name",
    )
    base = src_all.selectExpr(
        "r_regionkey", "substring(r_name, 3) AS r_name"
    ).filter("r_regionkey % 2 = 0")
    kwargs = dict(
        when_matched_update={"r_name": F.col("src.r_name")},
        insert_not_matched=True,
    )
    outs = []
    tag = os.path.basename(sf_dir.rstrip("/"))
    for fmt, write, merge, read in [
        ("delta", write_delta, delta_merge_into, read_delta_snapshot),
        ("hudi", write_hudi, hudi_merge_into, read_hudi_snapshot),
        (
            "iceberg",
            write_iceberg,
            iceberg_merge_into,
            read_iceberg_snapshot,
        ),
    ]:
        path = os.path.join(
            tempfile.gettempdir(), f"witdb_{fmt}_merge_{tag}"
        )
        shutil.rmtree(path, ignore_errors=True)
        write(spark, base, path, mode="create")
        merge(spark, path, src_all, ["r_regionkey"], **kwargs)
        outs.append(
            read(spark, path)
            .select("r_regionkey", "r_name")
            .withColumn("fmt", F.lit(fmt))
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("fmt", "r_regionkey", "r_name")


@register(
    "lakehouse_merge_conditional",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey % 2 = 0 AND n_nationkey >= 10
                THEN 'U-' || (SELECT n2.n_name FROM nation n2
                              WHERE n2.n_nationkey * 2 = n.n_nationkey)
                ELSE n_name END AS n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation n
    UNION ALL
    SELECT CAST(n_nationkey * 2 AS BIGINT) AS n_nationkey,
           'NEW' AS n_name, CAST(NULL AS BIGINT) AS n_regionkey
    FROM nation WHERE n_nationkey * 2 > 24 AND n_nationkey * 2 <= 40
    """,
    doc="r9 MERGE clause surface through the SQL front door (reference "
    "core/trino-parser tree/MergeUpdate.java per-clause condition, "
    "tree/MergeInsert.java column list): CTAS nation into a Delta path "
    "table, MERGE a doubled-key source with WHEN MATCHED AND s.k >= 10 "
    "THEN UPDATE (prefixes the name) and WHEN NOT MATCHED AND "
    "s.k <= 40 THEN INSERT (k, name) VALUES (s.k, 'NEW') — the "
    "projected insert leaves n_regionkey NULL. A condition applied to "
    "the wrong clause, an insert past the gate, or a non-NULL "
    "unlisted column hash-mismatches.",
    tags=("source", "lakehouse", "writer", "dml", "merge"),
)
def lakehouse_merge_conditional(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import (
        read_delta_snapshot,
        write_delta,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey",
        "n_name",
        "CAST(n_regionkey AS BIGINT) AS n_regionkey",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_delta_condmerge_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_delta(spark, base, path, mode="create")
    base.selectExpr(
        "n_nationkey * 2 AS n_nationkey", "n_name"
    ).createOrReplaceTempView("cond_merge_src")
    eng = Engine(spark, sf_dir=sf_dir)
    eng.sql(
        f"MERGE INTO delta.'{path}' t USING cond_merge_src s"
        " ON t.n_nationkey = s.n_nationkey"
        " WHEN MATCHED AND s.n_nationkey >= 10 THEN UPDATE SET"
        "   n_name = 'U-' || s.n_name"
        " WHEN NOT MATCHED AND s.n_nationkey <= 40 THEN INSERT"
        "   (n_nationkey, n_name) VALUES (s.n_nationkey, 'NEW')"
    )
    return read_delta_snapshot(spark, path)


@register(
    "hudi_mor_upsert_roundtrip",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey % 3 = 1 THEN 'LOGGED' ELSE n_name END
             AS n_name
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey + 200 AS BIGINT) AS n_nationkey,
           'NEWROW' AS n_name
    FROM nation WHERE n_nationkey < 2
    """,
    doc="r9 jar-free Hudi MERGE_ON_READ (sources/hudi_meta.py "
    "write_hudi_mor_create + hudi_log_upsert + _read_mor_snapshot; "
    "log format sources/hudi_log.py, validated byte-for-byte against "
    "a real hudi-library log file in the reference's trino-hudi test "
    "resources): CTAS nation as a MOR table, upsert the %3==1 names "
    "as AVRO_DATA log blocks (no base rewrite) plus two new keys as a "
    "fresh base group, then read with snapshot semantics — base "
    "merged with log records, latest commit wins per record key. A "
    "mis-framed block, wrong merge ordering, or leaked pre-update row "
    "hash-mismatches.",
    tags=("source", "lakehouse", "writer", "dml", "merge"),
)
def hudi_mor_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_meta import (
        hudi_log_upsert,
        read_hudi_snapshot,
        write_hudi_mor_create,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_mor_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi_mor_create(
        spark, base.coalesce(2), path, record_key="n_nationkey"
    )
    src = base.filter("n_nationkey % 3 = 1").selectExpr(
        "n_nationkey", "'LOGGED' AS n_name"
    ).unionByName(
        base.filter("n_nationkey < 2").selectExpr(
            "n_nationkey + 200 AS n_nationkey", "'NEWROW' AS n_name"
        )
    )
    hudi_log_upsert(spark, path, src)
    return read_hudi_snapshot(spark, path).select(
        "n_nationkey", "n_name"
    )


@register(
    "delta_dv_roundtrip",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
    FROM nation WHERE n_nationkey % 4 <> 3
    """,
    doc="r9 jar-free Delta deletion vectors (sources/delta_log.py "
    "delta_write_deletion_vectors + the MOR anti join in "
    "read_delta_snapshot; sources/roaring.py portable roaring + Z85 "
    "per PROTOCOL.md 'Deletion Vector Format'; reference "
    "plugin/trino-delta-lake reads the same frames): CTAS nation "
    "across two files, commit DVs for the %4==3 rows by physical "
    "(file, row_index) — 'u' storage, CRC-framed, protocol bumped to "
    "readerFeatures=[deletionVectors]. A roaring container "
    "mis-decode, off-by-one row index, or unapplied vector "
    "hash-mismatches.",
    tags=("source", "lakehouse", "writer", "dml"),
)
def delta_dv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.delta_log import (
        delta_write_deletion_vectors,
        read_delta_snapshot,
        write_delta,
    )

    t = Tables(spark, sf_dir)
    src = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_delta_dv_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_delta(
        spark, src.filter("n_nationkey < 12").coalesce(1), path,
        mode="create",
    )
    write_delta(
        spark, src.filter("n_nationkey >= 12").coalesce(1), path,
        mode="append",
    )
    tagged = read_delta_snapshot(spark, path).select(
        F.col("_metadata.file_path").alias("f"),
        F.col("_metadata.row_index").alias("p"),
        "n_nationkey",
    )
    targets = [
        (r.f, r.p) for r in tagged.where("n_nationkey % 4 = 3").collect()
    ]
    delta_write_deletion_vectors(spark, path, targets)
    return read_delta_snapshot(spark, path)


@register(
    "iceberg_eqdelete_roundtrip",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
    FROM nation WHERE n_nationkey % 5 <> 0
    UNION ALL
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           'REBORN' AS n_name
    FROM nation WHERE n_nationkey = 0
    """,
    doc="r9 jar-free Iceberg v2 EQUALITY deletes (sources/"
    "iceberg_meta.py iceberg_write_equality_deletes + "
    "_apply_row_deletes; reference plugin/trino-iceberg/.../delete/"
    "EqualityDeleteFilter.java): CTAS nation, commit an equality-delete "
    "snapshot on n_nationkey for the %5==0 keys, then append key 0 "
    "back. Sequence strictness is what the hash checks: the delete "
    "(seq 2) hides only rows from seq-1 data files, so the seq-3 "
    "re-insert survives; a <=-instead-of-< comparison or a missed "
    "null-safe column compare hash-mismatches.",
    tags=("source", "lakehouse", "writer", "dml"),
)
def iceberg_eqdelete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.iceberg_meta import (
        iceberg_write_equality_deletes,
        read_iceberg_snapshot,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    src = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_iceberg_eqdel_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(spark, src.coalesce(1), path, mode="create")
    keys = [
        r.n_nationkey
        for r in src.where("n_nationkey % 5 = 0").collect()
    ]
    iceberg_write_equality_deletes(
        spark, path, [{"n_nationkey": int(k)} for k in keys]
    )
    write_iceberg(
        spark,
        local_frame(spark, [(0, "REBORN")],
                 "n_nationkey bigint, n_name string"),
        path,
        mode="append",
    )
    return read_iceberg_snapshot(spark, path)


@register(
    "hudi_keyed_upsert_roundtrip",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey % 4 = 2 THEN 'UPSERTED' ELSE n_name END
             AS n_name
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey + 100 AS BIGINT) AS n_nationkey,
           'INSERTED' AS n_name
    FROM nation WHERE n_nationkey < 3
    """,
    doc="r9 keyed Hudi UPSERT (sources/hudi_meta.py hudi_upsert; "
    "reference plugin/trino-hudi + the Hudi upsert contract): CTAS "
    "nation into a COW table with record key n_nationkey split across "
    "two key-ranged file groups, then upsert a source that rewrites "
    "the %4==2 names and inserts three new keys. Routing reads parquet "
    "FOOTER min/max per group (the jar-free stand-in for the bundle's "
    "record index) so only touched groups are retired by the "
    "replacecommit. A wrong-range prune, dropped insert, or key "
    "collision duplicates/misses rows and hash-mismatches.",
    tags=("source", "lakehouse", "writer", "dml", "merge"),
)
def hudi_keyed_upsert_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_meta import (
        hudi_upsert,
        read_hudi_snapshot,
        write_hudi,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_upsert_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi(
        spark, base.filter("n_nationkey < 13").coalesce(1), path,
        mode="create", record_key="n_nationkey",
    )
    write_hudi(
        spark, base.filter("n_nationkey >= 13").coalesce(1), path,
        mode="append",
    )
    src = base.filter("n_nationkey % 4 = 2").selectExpr(
        "n_nationkey", "'UPSERTED' AS n_name"
    ).unionByName(
        base.filter("n_nationkey < 3").selectExpr(
            "n_nationkey + 100 AS n_nationkey", "'INSERTED' AS n_name"
        )
    )
    hudi_upsert(spark, path, src)
    return read_hudi_snapshot(spark, path)


@register(
    "ctas_writer_roundtrip",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    doc="TableWriter + TableFinish as an ORACLED query (reference "
    "TableWriterOperator.java / TableFinishOperator.java / "
    "CreateTableTask): CTAS the filtered orders into a parquet snapshot "
    "(sorted-within-partitions so row-group min-max stats are useful), "
    "re-read the committed files, and aggregate THE RE-READ DATA. The "
    "oracle computes the same aggregate from the source directly — so "
    "the write path must round-trip every row and value exactly.",
    tags=("writer", "dml"),
)
def ctas_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from witdb_spark.sources.io import ctas

    t = Tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("orders")
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_ctas_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    out = ctas(
        spark,
        "SELECT * FROM orders WHERE o_orderstatus = 'F'",
        path,
        sort_by=["o_orderkey"],
    )
    return out.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "total"),
    )


def _build_cm_id_fixture(sf_dir: str) -> str:
    """Author a column-mapping mode=id Delta table from nation per
    PROTOCOL.md 'Column Mapping': parquet files carry UNRELATED
    physical column names stamped with PARQUET:field_id metadata, the
    logical schema resolves them by delta.columnMapping.id alone, and
    partitionValues are keyed by physicalName. A reader matching by
    name would project all-NULL columns and hash-mismatch."""
    import json as _json
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
    keys = [int(v) for v in src.column("n_nationkey").to_pylist()]
    names = src.column("n_name").to_pylist()
    regs = [int(v) for v in src.column("n_regionkey").to_pylist()]
    root = os.path.join(
        tempfile.gettempdir(),
        f"witdb_delta_cm_id_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "_delta_log"))
    fields = pa.schema([
        pa.field("phys-k", pa.int64(),
                 metadata={b"PARQUET:field_id": b"1"}),
        pa.field("phys-n", pa.string(),
                 metadata={b"PARQUET:field_id": b"2"}),
    ])
    adds = []
    for pv in sorted(set(regs)):
        rel = f"r={pv}/part.parquet"
        os.makedirs(os.path.join(root, f"r={pv}"), exist_ok=True)
        rows = [i for i, r in enumerate(regs) if r == pv]
        pq.write_table(
            pa.table({
                "phys-k": pa.array([keys[i] for i in rows], pa.int64()),
                "phys-n": pa.array([names[i] for i in rows], pa.string()),
            }).cast(fields),
            os.path.join(root, rel),
        )
        adds.append({"add": {
            "path": rel,
            "partitionValues": {"phys-r": str(pv)},
            "size": os.path.getsize(os.path.join(root, rel)),
            "modificationTime": 0, "dataChange": True,
        }})
    schema_string = _json.dumps({"type": "struct", "fields": [
        {"name": "n_nationkey", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "phys-k"}},
        {"name": "n_name", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "phys-n"}},
        {"name": "n_regionkey", "type": "integer", "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "phys-r"}},
    ]})
    actions = [
        {"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"],
            "writerFeatures": ["columnMapping"],
        }},
        {"metaData": {
            "id": "witdb-cm-id-fixture",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": ["n_regionkey"],
            "configuration": {
                "delta.columnMapping.mode": "id",
                "delta.columnMapping.maxColumnId": "3",
            },
        }},
    ] + adds
    with open(os.path.join(root, "_delta_log", "%020d.json" % 0), "w") as f:
        f.write("\n".join(_json.dumps(a) for a in actions) + "\n")
    return root


@register(
    "delta_cm_id_reader",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS INT) AS n_regionkey
    FROM nation
    """,
    doc="Delta column-mapping mode=id reads jar-free (r10, "
    "sources/delta_log.py _cm_read_with_field_ids; reference "
    "plugin/trino-delta-lake/.../DeltaLakeSchemaSupport.java): the "
    "fixture's parquet files carry physical names unrelated to the "
    "logical schema, resolvable only through parquet field-id "
    "metadata stamped from delta.columnMapping.id, with "
    "partitionValues keyed by physicalName. Result must hash-equal "
    "nation exactly.",
    tags=("source", "lakehouse"),
)
def delta_cm_id_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.sources.delta_log import read_delta_snapshot

    return read_delta_snapshot(spark, _build_cm_id_fixture(sf_dir)).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "avro_container_scan",
    """
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS total
    FROM orders
    GROUP BY order_year
    """,
    doc="The jar-free Avro container read path end-to-end (r10; "
    "sources/avro_codec.py + io.py _read_avro_fallback; reference "
    "lib/trino-hive-formats avro support is always-on): orders is "
    "re-encoded as a snappy-compressed Avro object container file "
    "(pure-Python raw-snappy + big-endian CRC32 frame, date and "
    "decimal logical types), decoded DISTRIBUTED on executors via "
    "binaryFiles+flatMap, then aggregated by order year. A codec or "
    "logical-type bug shifts every value and hash-mismatches.",
    tags=("source", "format"),
)
def avro_container_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime
    import shutil
    import tempfile
    from decimal import Decimal as _Dec

    import pyarrow.parquet as pq

    from witdb_spark.sources.avro_codec import write_avro_file
    from witdb_spark.sources.io import read_any

    src = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_orderdate", "o_totalprice"],
    )
    root = os.path.join(
        tempfile.gettempdir(),
        f"witdb_avro_scan_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    epoch = datetime.date(1970, 1, 1)
    schema = {"type": "record", "name": "orders", "fields": [
        {"name": "o_orderkey", "type": "long"},
        {"name": "o_orderdate",
         "type": {"type": "int", "logicalType": "date"}},
        {"name": "o_totalprice",
         "type": {"type": "bytes", "logicalType": "decimal",
                  "precision": 12, "scale": 2}},
    ]}
    keys = src.column("o_orderkey").to_pylist()
    dates = [
        d.date() if isinstance(d, datetime.datetime) else d
        for d in src.column("o_orderdate").to_pylist()
    ]
    prices = src.column("o_totalprice").to_pylist()
    # two container files so the distributed decode actually fans out
    half = len(keys) // 2
    for fi, (lo, hi) in enumerate(((0, half), (half, len(keys)))):
        recs = [
            {"o_orderkey": int(keys[i]),
             "o_orderdate": (dates[i] - epoch).days,
             "o_totalprice": int(
                 _Dec(repr(prices[i])).scaleb(2).to_integral_value()
             ).to_bytes(8, "big", signed=True)}
            for i in range(lo, hi)
        ]
        write_avro_file(
            os.path.join(root, f"part-{fi}.avro"), schema, recs,
            codec="snappy",
        )
    df = read_any(spark, root, fmt="avro")
    return df.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "total"),
    )


@register(
    "iceberg_transform_partitioned_roundtrip",
    """
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM orders
    WHERE o_orderkey <= 2000 AND o_orderkey % 7 <> 3
    """,
    doc="Jar-free NON-IDENTITY partition transforms (r10, "
    "sources/iceberg_transforms.py; reference plugin/trino-iceberg/"
    ".../PartitionTransforms.java + spec Appendix B): CTAS an orders "
    "slice partitioned by bucket(8, o_orderkey) + months(o_orderdate) "
    "— the bucket compiles to pure-JVM murmur3 arithmetic at staging "
    "— append the tail, COW DELETE a key stripe (survivors re-stage "
    "with transforms recomputed; kept entries re-emit their "
    "result-typed partition structs). Hash must equal the filtered "
    "orders slice.",
    tags=("source", "lakehouse", "writer", "dml", "partitioned"),
)
def iceberg_transform_partitioned_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.iceberg_meta import (
        iceberg_delete_where,
        read_iceberg_snapshot,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    src = t.orders.filter("o_orderkey <= 2000").selectExpr(
        "CAST(o_orderkey AS BIGINT) AS o_orderkey",
        "CAST(o_orderdate AS DATE) AS o_orderdate",
        "o_orderpriority",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_iceberg_transform_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(
        spark, src.filter("o_orderkey <= 1000"), path, mode="create",
        partition_by=["bucket(8, o_orderkey)", "months(o_orderdate)"],
    )
    write_iceberg(
        spark, src.filter("o_orderkey > 1000"), path, mode="append"
    )
    iceberg_delete_where(spark, path, "o_orderkey % 7 = 3")
    return read_iceberg_snapshot(spark, path).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        "o_orderpriority",
    )


@register(
    "iceberg_mor_partitioned_dml",
    """
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CASE WHEN o_orderkey % 11 = 5 THEN 'RUSH'
                ELSE o_orderpriority END AS o_orderpriority,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders
    WHERE o_orderkey <= 2000 AND o_orderkey % 7 <> 3
    """,
    doc="Merge-on-read DML on a PARTITIONED Iceberg table (r11, "
    "iceberg_meta.py _iceberg_posdelete_commit_df; reference "
    "plugin/trino-iceberg merge-on-read delete/update sinks): orders "
    "lands partitioned by months(o_orderdate) + bucket(4, o_orderkey) "
    "with write.delete/update.mode=merge-on-read; DELETE shadows a "
    "key stripe with FILE-SCOPED position-delete files (one sorted "
    "parquet per target, each manifest entry carrying the target's "
    "partition struct — written by executors), UPDATE stages "
    "post-update images through the partition-aware staging in the "
    "same snapshot. The read applies the v2 deletes as anti joins; "
    "result must hash-equal the oracle.",
    tags=("source", "lakehouse", "writer", "dml", "partitioned"),
)
def iceberg_mor_partitioned_dml(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.iceberg_meta import (
        iceberg_delete_where,
        iceberg_update_where,
        read_iceberg_snapshot,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    src = t.orders.filter("o_orderkey <= 2000").selectExpr(
        "o_orderkey", "o_orderpriority",
        "CAST(o_orderdate AS DATE) AS o_orderdate",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_ice_morp_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(
        spark, src, path, mode="create",
        partition_by=["months(o_orderdate)", "bucket(4, o_orderkey)"],
        properties={
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
        },
    )
    iceberg_delete_where(spark, path, "o_orderkey % 7 = 3")
    iceberg_update_where(
        spark, path, "o_orderkey % 11 = 5",
        {
            "o_orderkey": "o_orderkey",
            "o_orderpriority": "'RUSH'",
            "o_orderdate": "o_orderdate",
        },
    )
    return read_iceberg_snapshot(spark, path).select(
        "o_orderkey",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
    )


@register(
    "delta_skipping_scan",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderstatus = 'F' AND o_orderdate >= DATE '1994-01-01'
      AND o_orderdate < DATE '1996-01-01'
    GROUP BY o_orderpriority
    """,
    doc="Delta data skipping end-to-end (r10, sources/skipping.py + "
    "read_delta_snapshot(where=); reference TupleDomain pruning over "
    "AddFileEntry stats in plugin/trino-delta-lake): orders lands in "
    "a Delta table partitioned by o_orderstatus with per-file "
    "min/max/nullCount stats from the parquet footers; the read "
    "prunes add entries by partition value AND o_orderdate stats "
    "range before the scan is built, then re-applies the predicate. "
    "The aggregate must hash-equal the oracle over the unpruned "
    "source — a skipping bug that drops a matching file shifts "
    "every group.",
    tags=("source", "lakehouse", "skipping"),
)
def delta_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.delta_log import (
        read_delta_snapshot,
        write_delta,
    )

    t = Tables(spark, sf_dir)
    src = t.orders.selectExpr(
        "o_orderkey", "o_orderstatus", "o_orderpriority",
        "CAST(o_orderdate AS DATE) AS o_orderdate", "o_totalprice",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_delta_skip_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_delta(
        spark, src.repartition(8, "o_orderkey"), path, mode="create",
        partition_by=["o_orderstatus"],
    )
    pruned = read_delta_snapshot(
        spark, path,
        where="o_orderstatus = 'F' AND o_orderdate >= DATE '1994-01-01'"
              " AND o_orderdate < DATE '1996-01-01'",
    )
    return pruned.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "total"),
    )


@register(
    "iceberg_pruned_scan",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_custkey = 371 AND o_orderdate >= DATE '1993-01-01'
    """,
    doc="Iceberg manifest-level partition pruning (r10, transform "
    "projection per the spec — sources/iceberg_transforms.py "
    "partition_struct_can_match; reference "
    "plugin/trino-iceberg/.../IcebergSplitSource residuals): orders "
    "lands partitioned by bucket(8, o_custkey) + months(o_orderdate); "
    "the read prunes manifest entries by bucket equality AND month "
    "range projection before listing any file, then re-applies the "
    "predicate. Result must hash-equal the unpruned oracle.",
    tags=("source", "lakehouse", "skipping", "partitioned"),
)
def iceberg_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.iceberg_meta import (
        read_iceberg_snapshot,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    src = t.orders.selectExpr(
        "o_orderkey", "o_custkey",
        "CAST(o_orderdate AS DATE) AS o_orderdate", "o_totalprice",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_ice_prune_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(
        spark, src, path, mode="create",
        partition_by=["bucket(8, o_custkey)", "months(o_orderdate)"],
    )
    pruned = read_iceberg_snapshot(
        spark, path,
        where="o_custkey = 371 AND o_orderdate >= DATE '1993-01-01'",
    )
    return pruned.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "total"),
    )


@register(
    "delta_cm_writer_roundtrip",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey = 0 THEN 'HQ' ELSE n_name END AS n_name,
           CAST(n_regionkey AS INT) AS n_regionkey
    FROM nation WHERE n_nationkey % 6 <> 4
    """,
    doc="Writer-side Delta column mapping (r10, delta_log.py "
    "_stage_physical/_cm_create_schema; reference "
    "plugin/trino-delta-lake/.../DeltaLakeSchemaSupport.java + "
    "DeltaLakeMergeSink physical-name emission): CTAS nation with "
    "delta.columnMapping.mode=name — files carry col-<uuid> physical "
    "names with parquet field ids, partitionValues and stats keyed "
    "physically — append the tail, COW DELETE a stripe, UPDATE one "
    "name. Reading back through the id/name resolution must "
    "hash-equal the filtered+redacted nation.",
    tags=("source", "lakehouse", "writer", "dml"),
)
def delta_cm_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.delta_log import (
        delta_delete_where,
        delta_update_where,
        read_delta_snapshot,
        write_delta,
    )

    t = Tables(spark, sf_dir)
    src = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey",
        "n_name",
        "CAST(n_regionkey AS INT) AS n_regionkey",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_delta_cmw_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_delta(
        spark, src.filter("n_nationkey < 15"), path, mode="create",
        partition_by=["n_regionkey"],
        configuration={"delta.columnMapping.mode": "name"},
    )
    write_delta(
        spark, src.filter("n_nationkey >= 15"), path, mode="append"
    )
    delta_delete_where(spark, path, "n_nationkey % 6 = 4")
    delta_update_where(spark, path, "n_nationkey = 0", {"n_name": "'HQ'"})
    return read_delta_snapshot(spark, path)


@register(
    "hudi_partitioned_roundtrip",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey = 0 THEN 'HQ' ELSE n_name END AS n_name,
           CAST(n_regionkey AS INT) AS n_regionkey
    FROM nation WHERE n_nationkey % 5 <> 3
    """,
    doc="Partitioned Hudi COW jar-free (late r10, hudi_meta.py "
    "_file_groups; reference plugin/trino-hudi partition-aware "
    "file listing): CTAS nation partitioned by n_regionkey "
    "(hive-style dirs, write stats + replace bookkeeping keyed by "
    "partition path), append the tail, COW DELETE a stripe (matched "
    "groups retired per-partition, survivors re-staged partitioned), "
    "UPDATE one name, read back with a no-op where that exercises "
    "the partition-dir pruner. Hash must equal the filtered+redacted "
    "nation.",
    tags=("source", "lakehouse", "writer", "dml", "partitioned"),
)
def hudi_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_meta import (
        hudi_delete_where,
        hudi_update_where,
        read_hudi_snapshot,
        write_hudi,
    )

    t = Tables(spark, sf_dir)
    src = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey",
        "n_name",
        "CAST(n_regionkey AS INT) AS n_regionkey",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_part_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi(
        spark, src.filter("n_nationkey < 15").coalesce(1), path,
        mode="create", partition_by=["n_regionkey"],
    )
    write_hudi(
        spark, src.filter("n_nationkey >= 15").coalesce(1), path,
        mode="append",
    )
    hudi_delete_where(spark, path, "n_nationkey % 5 = 3")
    hudi_update_where(spark, path, "n_nationkey = 0", {"n_name": "'HQ'"})
    return read_hudi_snapshot(
        spark, path, where="n_regionkey >= 0"
    ).select("n_nationkey", "n_name", "n_regionkey")


@register(
    "hudi_mor_partitioned_roundtrip",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey % 4 = 2 THEN 'UPSERTED'
                ELSE n_name END AS n_name,
           CAST(n_regionkey AS INT) AS n_regionkey
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey + 100 AS BIGINT), 'INSERTED',
           CAST(n_regionkey AS INT)
    FROM nation WHERE n_nationkey < 3
    """,
    doc="Partitioned MERGE_ON_READ roundtrip (late r10, hudi_meta.py "
    "_mor_groups + hudi_log_upsert partition routing; reference "
    "plugin/trino-hudi stock_ticks_mor layout): CTAS nation as a MOR "
    "table partitioned by n_regionkey (hive dirs, "
    "_hoodie_partition_path stamped to match), log-upsert a key "
    "stripe (AVRO_DATA blocks under each owning group's partition "
    "dir) plus fresh inserts, and read the merged snapshot — base "
    "rows overridden by executor-decoded log records, latest commit "
    "wins per key.",
    tags=("source", "lakehouse", "writer", "dml", "partitioned"),
)
def hudi_mor_partitioned_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_meta import (
        hudi_log_upsert,
        read_hudi_snapshot,
        write_hudi_mor_create,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey",
        "n_name",
        "CAST(n_regionkey AS INT) AS n_regionkey",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_morp_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi_mor_create(
        spark, base.coalesce(1), path,
        record_key="n_nationkey", partition_by=["n_regionkey"],
    )
    src = base.filter("n_nationkey % 4 = 2").selectExpr(
        "n_nationkey", "'UPSERTED' AS n_name", "n_regionkey"
    ).unionByName(
        base.filter("n_nationkey < 3").selectExpr(
            "n_nationkey + 100 AS n_nationkey",
            "'INSERTED' AS n_name", "n_regionkey",
        )
    )
    hudi_log_upsert(spark, path, src)
    return read_hudi_snapshot(spark, path).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "hudi_mor_logonly_roundtrip",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey % 4 = 1 THEN 'UPSERTED'
                ELSE n_name END AS n_name,
           CAST(n_regionkey AS INT) AS n_regionkey
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey + 200 AS BIGINT), 'INSERTED',
           CAST(n_regionkey AS INT)
    FROM nation WHERE n_nationkey < 2
    """,
    doc="LOG-ONLY MERGE_ON_READ roundtrip (r11, hudi_meta.py "
    "hudi_log_insert + the log-only read/upsert paths; reference "
    "plugin/trino-hudi realtime read of compaction-lagged slices): "
    "the table starts EMPTY, every nation row arrives as AVRO_DATA "
    "log blocks in fresh base-less file groups (no parquet data file "
    "exists at all — the schema derives from the log SCHEMA header), "
    "then an upsert routes matched keys INTO the log-only slices' "
    "logs and inserts as new base groups. Log files are written by "
    "executors; the merged snapshot must equal the oracle exactly "
    "(a mis-routed key would duplicate).",
    tags=("source", "lakehouse", "writer", "dml"),
)
def hudi_mor_logonly_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_meta import (
        hudi_log_insert,
        hudi_log_upsert,
        read_hudi_snapshot,
        write_hudi_mor_create,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey",
        "n_name",
        "CAST(n_regionkey AS INT) AS n_regionkey",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_morlo_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi_mor_create(
        spark, base.limit(0), path, record_key="n_nationkey"
    )
    hudi_log_insert(spark, path, base)
    src = base.filter("n_nationkey % 4 = 1").selectExpr(
        "n_nationkey", "'UPSERTED' AS n_name", "n_regionkey"
    ).unionByName(
        base.filter("n_nationkey < 2").selectExpr(
            "n_nationkey + 200 AS n_nationkey",
            "'INSERTED' AS n_name", "n_regionkey",
        )
    )
    hudi_log_upsert(spark, path, src)
    return read_hudi_snapshot(spark, path).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "hudi_incremental_read",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           'TOUCHED' AS n_name
    FROM nation WHERE n_nationkey % 3 = 1
    UNION ALL
    SELECT CAST(n_nationkey + 300 AS BIGINT), 'FRESH'
    FROM nation WHERE n_nationkey < 2
    """,
    doc="Hudi incremental query on MERGE_ON_READ (r11, hudi_meta.py "
    "hudi_incremental_read; hoodie.datasource.query.type=incremental "
    "— THE consumption pattern MOR exists for): nation lands as a MOR "
    "table, an upsert touches a key stripe and inserts fresh keys, "
    "and the incremental read from the create instant returns exactly "
    "the latest state of the touched + fresh records — nothing from "
    "the untouched base.",
    tags=("source", "lakehouse", "cdc"),
)
def hudi_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_meta import (
        hudi_incremental_read as inc_read,
    )
    from witdb_spark.sources.hudi_meta import (
        hudi_log_upsert,
        write_hudi_mor_create,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_inc_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    c0 = write_hudi_mor_create(
        spark, base.coalesce(2), path, record_key="n_nationkey"
    )
    src = base.filter("n_nationkey % 3 = 1").selectExpr(
        "n_nationkey", "'TOUCHED' AS n_name"
    ).unionByName(
        base.filter("n_nationkey < 2").selectExpr(
            "n_nationkey + 300 AS n_nationkey", "'FRESH' AS n_name"
        )
    )
    hudi_log_upsert(spark, path, src)
    return inc_read(spark, path, c0).select("n_nationkey", "n_name")


@register(
    "iceberg_incremental_scan",
    """
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderpriority,
           CAST(2 AS BIGINT) AS snapshot_id
    FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000
    UNION ALL
    SELECT CAST(o_orderkey AS BIGINT), o_orderpriority, CAST(3 AS BIGINT)
    FROM orders WHERE o_orderkey > 2000 AND o_orderkey <= 3000
    """,
    doc="Iceberg incremental APPEND scan (r11, iceberg_meta.py "
    "iceberg_incremental_scan; the spec's 'Incremental processing' "
    "read — Spark's start/end-snapshot-id options): orders lands in "
    "three append snapshots; the scan from the FIRST snapshot yields "
    "exactly the second and third appends' rows, each stamped with "
    "its committing _snapshot_id (deterministic ids: the writer "
    "numbers snapshots max+1). Exclusive start / inclusive end — the "
    "chaining contract an incremental consumer needs.",
    tags=("source", "lakehouse", "cdc"),
)
def iceberg_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.iceberg_meta import (
        iceberg_incremental_scan as inc_scan,
    )
    from witdb_spark.sources.iceberg_meta import (
        iceberg_snapshots,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    src = t.orders.selectExpr(
        "CAST(o_orderkey AS BIGINT) AS o_orderkey", "o_orderpriority"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_ice_inc_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(
        spark, src.filter("o_orderkey <= 1000"), path, mode="create"
    )
    write_iceberg(
        spark,
        src.filter("o_orderkey > 1000 AND o_orderkey <= 2000"),
        path, mode="append",
    )
    write_iceberg(
        spark,
        src.filter("o_orderkey > 2000 AND o_orderkey <= 3000"),
        path, mode="append",
    )
    first = iceberg_snapshots(path)[0]["snapshot_id"]
    return inc_scan(spark, path, first).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("_snapshot_id").alias("snapshot_id"),
    )


@register(
    "delta_table_changes_cdf",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey AS BIGINT), n_name, 'delete', 1
    FROM nation WHERE n_nationkey % 5 = 2
    UNION ALL
    SELECT CAST(n_nationkey AS BIGINT), n_name, 'update_preimage', 2
    FROM nation WHERE n_nationkey = 4
    UNION ALL
    SELECT CAST(n_nationkey AS BIGINT), 'RENAMED', 'update_postimage', 2
    FROM nation WHERE n_nationkey = 4
    """,
    doc="Delta Change Data Feed (r11; r12 gates on "
    "delta.enableChangeDataFeed and the DML writes real Change Data "
    "Files — Delta PROTOCOL.md 'Change Data Files'; beyond-reference: "
    "Trino 411 has no table_changes): nation lands in a CDF+DV Delta "
    "table, a DV DELETE shadows a key stripe and a DV UPDATE rewrites "
    "one name — both commits carry cdc parquet under _change_data/ "
    "(authoritative), the create replays as synthesized inserts "
    "(add-only commits are exact without cdc) — and the stream must "
    "hash-equal the hand-replayed oracle.",
    tags=("source", "lakehouse", "cdc"),
)
def delta_table_changes_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.delta_log import (
        delta_delete_where,
        delta_table_changes,
        delta_update_where,
        write_delta,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_delta_cdf_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_delta(
        spark, base.coalesce(2), path, mode="create",
        configuration={
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    delta_delete_where(spark, path, "n_nationkey % 5 = 2")
    delta_update_where(
        spark, path, "n_nationkey = 4",
        {"n_name": "'RENAMED'", "n_nationkey": "n_nationkey"},
    )
    return delta_table_changes(spark, path).select(
        "n_nationkey",
        "n_name",
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").alias("commit_version"),
    )


@register(
    "hudi_mor_log_delete_dml",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey % 6 = 1 THEN 'PATCHED'
                ELSE n_name END AS n_name
    FROM nation WHERE n_nationkey % 4 <> 2
    """,
    doc="Row-targeted DML on MERGE_ON_READ Hudi (r11, hudi_meta.py "
    "hudi_log_delete / hudi_update_where MOR routing — the hudi "
    "analog of Delta DVs and Iceberg position deletes; real hudi "
    "appends HoodieDeleteBlock tombstones): DELETE appends "
    "SCHEMA-headered tombstone DELETE log blocks on each owning "
    "slice's log (executor-written, no base rewrite), UPDATE appends "
    "post-update images via the log upsert, and the merge reader "
    "drops keys whose latest record is a tombstone. Result must "
    "hash-equal the oracle.",
    tags=("source", "lakehouse", "writer", "dml"),
)
def hudi_mor_log_delete_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_meta import (
        hudi_delete_where,
        hudi_update_where,
        read_hudi_snapshot,
        write_hudi_mor_create,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_mordel_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi_mor_create(
        spark, base.coalesce(2), path, record_key="n_nationkey"
    )
    hudi_delete_where(spark, path, "n_nationkey % 4 = 2")
    hudi_update_where(
        spark, path, "n_nationkey % 6 = 1", {"n_name": "'PATCHED'"}
    )
    return read_hudi_snapshot(spark, path).select(
        "n_nationkey", "n_name"
    )


@register(
    "delta_skipping_or_scan",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderstatus = 'P'
       OR (o_orderstatus = 'F' AND o_orderdate < DATE '1993-01-01')
    GROUP BY o_orderpriority
    """,
    doc="OR-predicate file skipping (r11, sources/skipping.py "
    "parse_predicate/predicate_can_match; reference "
    "TupleDomain.columnWiseUnion in core/trino-spi): the same Delta "
    "layout as delta_skipping_scan read under a disjunctive WHERE — "
    "a file survives if ANY disjunct can match its partition value / "
    "stats range, so the rare 'P' partition plus the early-'F' date "
    "range scan without listing the rest. The aggregate must "
    "hash-equal the unpruned oracle.",
    tags=("source", "lakehouse", "skipping"),
)
def delta_skipping_or_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.delta_log import (
        read_delta_snapshot,
        write_delta,
    )

    t = Tables(spark, sf_dir)
    src = t.orders.selectExpr(
        "o_orderkey", "o_orderstatus", "o_orderpriority",
        "CAST(o_orderdate AS DATE) AS o_orderdate", "o_totalprice",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_delta_skipor_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_delta(
        spark, src.repartition(8, "o_orderkey"), path, mode="create",
        partition_by=["o_orderstatus"],
    )
    pruned = read_delta_snapshot(
        spark, path,
        where="o_orderstatus = 'P' OR (o_orderstatus = 'F'"
              " AND o_orderdate < DATE '1993-01-01')",
    )
    return pruned.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "total"),
    )


@register(
    "sql_lakehouse_select",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    WHERE o_orderstatus = 'F' AND o_orderkey <= 5000
    GROUP BY o_orderpriority
    """,
    doc="The SQL front door over fmt.'/path' table spellings (late "
    "r10, engine.py _rewrite_lakehouse_refs; reference catalog-"
    "qualified table access via the delta connector): orders lands in "
    "a Delta table, then Engine.sql runs a Trino-dialect GROUP BY "
    "over delta.'<path>' with the WHERE pushed into the jar-free "
    "reader's file skipping (partition value + stats pruning before "
    "the scan is built; the reader re-applies the predicate, so "
    "pruning can never change the hash).",
    tags=("source", "lakehouse", "sql", "skipping"),
)
def sql_lakehouse_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import write_delta

    t = Tables(spark, sf_dir)
    src = t.orders.select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_sql_lake_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_delta(
        spark, src.repartition(8, "o_orderkey"), path, mode="create",
        partition_by=["o_orderstatus"],
    )
    return Engine(spark).sql(
        f"SELECT o_orderpriority, count(*) AS n FROM delta.'{path}'"
        " WHERE o_orderstatus = 'F' AND o_orderkey <= 5000"
        " GROUP BY o_orderpriority"
    )


@register(
    "iceberg_spec_evolution_scan",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation WHERE n_regionkey = 2
    """,
    doc="Partition-spec EVOLUTION reads (r12, iceberg_meta.py "
    "iceberg_evolve_spec + spec-routed pruning in "
    "read_iceberg_snapshot; Iceberg spec 'Partition Evolution', "
    "reference plugin/trino-iceberg manifest handling): nation lands "
    "unpartitioned (spec 0), the spec evolves to identity on "
    "n_regionkey (metadata-only commit), a second append lands under "
    "spec 1, and a pruned read on n_regionkey resolves each "
    "manifest's partition structs against ITS OWN spec — the spec-1 "
    "manifest prunes by partition, the spec-0 one conservatively "
    "scans and re-filters. Result must hash-equal the plain filtered "
    "oracle (pruning never changes results).",
    tags=("source", "lakehouse", "writer"),
)
def iceberg_spec_evolution_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.iceberg_meta import (
        iceberg_evolve_spec,
        read_iceberg_snapshot,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    src = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey",
        "n_name",
        "CAST(n_regionkey AS BIGINT) AS n_regionkey",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_ice_evolve_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(
        spark, src.filter("n_nationkey < 12").coalesce(1),
        path, mode="create",
    )
    iceberg_evolve_spec(spark, path, ["n_regionkey"])
    write_iceberg(
        spark, src.filter("n_nationkey >= 12").coalesce(1),
        path, mode="append",
    )
    return read_iceberg_snapshot(spark, path, where="n_regionkey = 2")


@register(
    "hudi_virtual_key_upsert",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey % 7 = 3 THEN 'VPATCH'
                ELSE n_name END AS n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey + 1000 AS BIGINT), 'VNEW',
           CAST(n_regionkey AS BIGINT)
    FROM nation WHERE n_nationkey < 3
    """,
    doc="VIRTUAL-KEY MOR write lifecycle (r12, hudi_meta.py — "
    "hoodie.populate.meta.fields=false; hudi's virtual-key mode, "
    "which plugin/trino-hudi reads via the library's key generator): "
    "nation lands as a meta-column-free MERGE_ON_READ base, one "
    "upsert appends DATA-ONLY log records for every n%7=3 key and "
    "inserts three fresh keys as new base groups; the virtual merge "
    "reader derives keys from the declared column and commit times "
    "from file names/log headers. Result must hash-equal the "
    "hand-applied oracle.",
    tags=("source", "lakehouse", "writer", "dml"),
)
def hudi_virtual_key_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_meta import (
        hudi_log_upsert,
        read_hudi_snapshot,
        write_hudi_mor_create,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey",
        "n_name",
        "CAST(n_regionkey AS BIGINT) AS n_regionkey",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_vkey_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi_mor_create(
        spark, base.coalesce(2), path,
        record_key="n_nationkey", populate_meta_fields=False,
    )
    updates = base.filter("n_nationkey % 7 = 3").selectExpr(
        "n_nationkey", "'VPATCH' AS n_name", "n_regionkey"
    )
    inserts = base.filter("n_nationkey < 3").selectExpr(
        "n_nationkey + 1000 AS n_nationkey",
        "'VNEW' AS n_name",
        "n_regionkey",
    )
    hudi_log_upsert(spark, path, updates.unionByName(inserts))
    return read_hudi_snapshot(spark, path).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "hudi_library_delete_block_scan",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
    FROM nation WHERE n_nationkey % 4 <> 1
    """,
    doc="Library-serialized DELETE log blocks (r12, hudi_log.py "
    "decode_delete_block; hudi-common HoodieDeleteBlock v3 — int32 "
    "version, int32 length, binary-avro HoodieDeleteRecordList): "
    "nation lands as a MOR base + one upsert log, then a HEADER-LESS "
    "DELETE block in the library's avro-list serialization (encoded "
    "here byte-for-byte as the library frames it) tombstones every "
    "n%4=1 key; the merge reader must decode it jar-free and drop "
    "exactly those keys. Result must hash-equal the oracle.",
    tags=("source", "lakehouse", "cdc"),
)
def hudi_library_delete_block_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob
    import shutil
    import struct
    import tempfile

    from witdb_spark.sources.avro_codec import _encode, _register
    from witdb_spark.sources.hudi_log import (
        BLOCK_DELETE,
        HEADER_INSTANT_TIME,
        _delete_record_list_schema,
        append_log_block,
        log_entries,
    )
    from witdb_spark.sources.hudi_meta import (
        hudi_log_upsert,
        read_hudi_snapshot,
        write_hudi_mor_create,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_libdel_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi_mor_create(
        spark, base.coalesce(1), path, record_key="n_nationkey"
    )
    # an ordinary upsert opens the slice's log file
    hudi_log_upsert(
        spark, path, base.filter("n_nationkey = 0").limit(1)
    )
    log = glob.glob(os.path.join(path, ".*.log.*"))[0]
    instant = log_entries(log)[0][1]
    victims = [
        str(r.n_nationkey)
        for r in base.filter("n_nationkey % 4 = 1")
        .select("n_nationkey").collect()
    ]
    schema = _delete_record_list_schema(wrappers=False)
    names: dict = {}
    _register(schema, names)
    payload = bytearray()
    _encode(
        schema,
        {
            "deleteRecordList": [
                {"recordKey": k, "partitionPath": "", "orderingVal": None}
                for k in victims
            ]
        },
        names,
        payload,
    )
    append_log_block(
        log,
        BLOCK_DELETE,
        {HEADER_INSTANT_TIME: instant},
        struct.pack(">ii", 3, len(payload)) + bytes(payload),
    )
    return read_hudi_snapshot(spark, path).select(
        "n_nationkey", "n_name"
    )


@register(
    "hudi_kryo_delete_scan",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
    FROM nation WHERE n_nationkey % 5 <> 2
    """,
    doc="Kryo-serialized DELETE log blocks (r13, hudi_log.py "
    "_kryo_delete_payload; hudi-common HoodieDeleteBlock v1/v2 — "
    "int32 version, int32 length, then a Kryo 4 writeClassAndObject "
    "stream of HoodieKey[]/DeleteRecord[], the serialization every "
    "pre-0.14 hudi release used): nation lands as a MOR base + one "
    "upsert log, then a kryo v2 DELETE block tombstones every n%5=2 "
    "key; the merge reader decodes the kryo graph jar-free (strict — "
    "unknown classes refuse) and drops exactly those keys. The "
    "decoder is conformance-tested against hand-assembled bytes; "
    "this query exercises the end-to-end MOR merge path.",
    tags=("source", "lakehouse", "cdc"),
)
def hudi_kryo_delete_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob
    import shutil
    import struct
    import tempfile

    from witdb_spark.sources.hudi_log import (
        BLOCK_DELETE,
        HEADER_INSTANT_TIME,
        append_log_block,
        encode_kryo_delete_payload,
        log_entries,
    )
    from witdb_spark.sources.hudi_meta import (
        hudi_log_upsert,
        read_hudi_snapshot,
        write_hudi_mor_create,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_kryodel_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi_mor_create(
        spark, base.coalesce(1), path, record_key="n_nationkey"
    )
    # an ordinary upsert opens the slice's log file
    hudi_log_upsert(
        spark, path, base.filter("n_nationkey = 0").limit(1)
    )
    log = glob.glob(os.path.join(path, ".*.log.*"))[0]
    instant = log_entries(log)[0][1]
    victims = [
        {"recordKey": str(r.n_nationkey), "partitionPath": ""}
        for r in base.filter("n_nationkey % 5 = 2")
        .select("n_nationkey").collect()
    ]
    payload = encode_kryo_delete_payload(victims, version=2)
    append_log_block(
        log,
        BLOCK_DELETE,
        {HEADER_INSTANT_TIME: instant},
        struct.pack(">ii", 2, len(payload)) + payload,
    )
    return read_hudi_snapshot(spark, path).select(
        "n_nationkey", "n_name"
    )


@register(
    "iceberg_fast_forward_scan",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey + 2000 AS BIGINT), 'STAGED'
    FROM nation WHERE n_regionkey = 1
    """,
    doc="Branch publish lifecycle (r13, iceberg_meta.py "
    "iceberg_fast_forward; trino-iceberg's own fast_forward "
    "procedure): nation lands as an Iceberg table, a 'staging' "
    "branch is cut, two appends land ON the branch (main stays "
    "untouched — asserted), then CALL system.fast_forward publishes "
    "the branch lineage to main as one metadata commit. Main must "
    "then serve base + staged rows, hash-equal to the oracle.",
    tags=("source", "lakehouse", "versioned"),
)
def iceberg_fast_forward_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.iceberg_meta import (
        iceberg_create_ref,
        iceberg_fast_forward,
        read_iceberg_snapshot,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    staged = t.nation.filter("n_regionkey = 1").selectExpr(
        "CAST(n_nationkey + 2000 AS BIGINT) AS n_nationkey",
        "'STAGED' AS n_name",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_ice_ff_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(spark, base.coalesce(1), path, mode="create")
    iceberg_create_ref(path, "staging", ref_type="branch")
    half = staged.filter("n_nationkey % 2 = 0")
    other = staged.filter("n_nationkey % 2 = 1")
    write_iceberg(spark, half.coalesce(1), path, branch="staging")
    write_iceberg(spark, other.coalesce(1), path, branch="staging")
    if read_iceberg_snapshot(spark, path).count() != base.count():
        raise AssertionError("branch appends leaked into main")
    iceberg_fast_forward(path, "main", "staging")
    return read_iceberg_snapshot(spark, path).select(
        "n_nationkey", "n_name"
    )


@register(
    "hudi_cdc_block_read",
    """
    SELECT 'u' AS op, CAST(n_nationkey AS BIGINT) AS key,
           'PATCHED' AS name
    FROM nation WHERE n_nationkey % 6 = 2
    UNION ALL
    SELECT 'd', CAST(n_nationkey AS BIGINT), NULL
    FROM nation WHERE n_nationkey % 6 = 5
    """,
    doc="CDC_DATA log blocks (r13, hudi_log.py log_cdc_entries + "
    "hudi_meta.hudi_cdc_changes; hudi RFC-51 'Change-Data-Capture', "
    "block type 6): a MOR table's log gains cdc blocks in BOTH "
    "supplemental logging modes — data_before_after (JSON-string row "
    "images) for every n%6=2 update and op_key_only for every n%6=5 "
    "delete — framed exactly as the library writes them. "
    "hudi_cdc_changes decodes them executor-side, the after-images "
    "parse via from_json, and snapshot reads skip the blocks "
    "(asserted inside). Hash-equal to the oracle's change set.",
    tags=("source", "lakehouse", "cdc"),
)
def hudi_cdc_block_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import json
    import shutil
    import struct
    import tempfile

    from pyspark.sql import functions as F

    from witdb_spark.sources.avro_codec import _encode, _register
    from witdb_spark.sources.hudi_log import (
        BLOCK_CDC_DATA,
        HEADER_INSTANT_TIME,
        HEADER_SCHEMA,
        append_log_block,
        log_entries,
    )
    from witdb_spark.sources.hudi_meta import (
        hudi_cdc_changes,
        hudi_log_upsert,
        read_hudi_snapshot,
        write_hudi_mor_create,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_cdc_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi_mor_create(
        spark, base.coalesce(1), path, record_key="n_nationkey"
    )
    hudi_log_upsert(
        spark, path,
        base.filter("n_nationkey % 6 = 2").selectExpr(
            "n_nationkey", "'PATCHED' AS n_name"
        ),
    )
    log = glob.glob(os.path.join(path, ".*.log.*"))[0]
    instant = log_entries(log)[0][1]
    n_before = read_hudi_snapshot(spark, path).count()
    full_schema = {
        "type": "record", "name": "Record",
        "fields": [
            {"name": "op", "type": ["null", "string"], "default": None},
            {"name": "ts_ms", "type": ["null", "string"],
             "default": None},
            {"name": "before", "type": ["null", "string"],
             "default": None},
            {"name": "after", "type": ["null", "string"],
             "default": None},
        ],
    }
    key_schema = {
        "type": "record", "name": "Record",
        "fields": [
            {"name": "op", "type": ["null", "string"], "default": None},
            {"name": "record_key", "type": ["null", "string"],
             "default": None},
        ],
    }

    def block(schema, recs):
        names: dict = {}
        _register(schema, names)
        content = bytearray(struct.pack(">ii", 1, len(recs)))
        for rec in recs:
            datum = bytearray()
            _encode(schema, rec, names, datum)
            content += struct.pack(">i", len(datum)) + bytes(datum)
        append_log_block(
            log, BLOCK_CDC_DATA,
            {HEADER_INSTANT_TIME: instant,
             HEADER_SCHEMA: json.dumps(schema)},
            bytes(content),
        )

    updates = base.filter("n_nationkey % 6 = 2").collect()
    block(full_schema, [
        {
            "op": "u", "ts_ms": "1700000000000",
            "before": json.dumps(
                {"key": r.n_nationkey, "name": r.n_name}
            ),
            "after": json.dumps(
                {"key": r.n_nationkey, "name": "PATCHED"}
            ),
        }
        for r in updates
    ])
    deletes = base.filter("n_nationkey % 6 = 5").collect()
    block(key_schema, [
        {"op": "d", "record_key": str(r.n_nationkey)}
        for r in deletes
    ])
    # snapshot reads must skip cdc blocks (supplemental info)
    if read_hudi_snapshot(spark, path).count() != n_before:
        raise AssertionError("cdc blocks leaked into the snapshot")
    ch = hudi_cdc_changes(spark, path)
    parsed = ch.select(
        "op",
        F.coalesce(
            F.from_json(
                "after", "key bigint, name string"
            )["key"],
            F.col("record_key").cast("bigint"),
        ).alias("key"),
        F.from_json("after", "key bigint, name string")["name"].alias(
            "name"
        ),
    )
    return parsed


@register(
    "delta_cdf_stream_sink_loop",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           'insert' AS _change_type
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey AS BIGINT), n_name, 'delete'
    FROM nation WHERE n_nationkey % 9 = 4
    """,
    doc="The full jar-free streaming LOOP (r13, streaming/"
    "delta_sink.py + cdf_source.py): nation lands as a CDF-enabled "
    "Delta table, a DELETE commits change rows, the CDF STREAM "
    "(witdb_delta_cdf, Arrow-batch decode) drains via availableNow "
    "into a SECOND Delta table through delta_stream_writer — "
    "foreachBatch appends stamped with SetTransaction identifiers "
    "(PROTOCOL.md 'Transaction Identifiers'), so a replayed batch "
    "commits nothing (exactly-once). The sink table's rows must "
    "hash-equal the oracle's change set.",
    tags=("streaming", "lakehouse", "cdc", "writer"),
)
def delta_cdf_stream_sink_loop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.delta_log import (
        delta_delete_where,
        read_delta_snapshot,
        write_delta,
    )
    from witdb_spark.streaming.cdf_source import DeltaCDFDataSource
    from witdb_spark.streaming.delta_sink import delta_stream_writer

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    src = os.path.join(tempfile.gettempdir(), f"witdb_cdfloop_src_{tag}")
    dst = os.path.join(tempfile.gettempdir(), f"witdb_cdfloop_dst_{tag}")
    ckpt = os.path.join(
        tempfile.gettempdir(), f"witdb_cdfloop_ckpt_{tag}"
    )
    for p in (src, dst, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    write_delta(
        spark, base.coalesce(1), src, mode="create",
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delta_delete_where(spark, src, "n_nationkey % 9 = 4")
    spark.dataSource.register(DeltaCDFDataSource)
    q = (
        delta_stream_writer(
            spark.readStream.format("witdb_delta_cdf")
            .option("path", src).load(),
            dst, ckpt,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return read_delta_snapshot(spark, dst).select(
        "n_nationkey", "n_name", "_change_type"
    )


@register(
    "iceberg_appends_stream_sink_loop",
    """
    SELECT CAST(n_nationkey + 3000 AS BIGINT) AS n_nationkey,
           'APPENDED' AS n_name
    FROM nation WHERE n_regionkey IN (0, 2)
    """,
    doc="The Iceberg streaming LOOP (r13, streaming/iceberg_sink.py "
    "+ iceberg_source.py): nation lands as an Iceberg table, two "
    "further appends land, the incremental-appends STREAM "
    "(witdb_iceberg_appends, Arrow-batch decode, offsets = "
    "main-lineage snapshot ids) drains everything after the first "
    "snapshot via availableNow into a SECOND iceberg table through "
    "iceberg_stream_writer — appends stamped with "
    "streaming-app-id/epoch-id snapshot-summary markers (the "
    "library's own Spark-sink idempotence convention), so replayed "
    "batches commit nothing. The sink table must hash-equal the "
    "appended subset.",
    tags=("streaming", "lakehouse", "writer"),
)
def iceberg_appends_stream_sink_loop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.iceberg_meta import (
        _current_metadata,
        read_iceberg_snapshot,
        write_iceberg,
    )
    from witdb_spark.streaming.iceberg_sink import iceberg_stream_writer
    from witdb_spark.streaming.iceberg_source import (
        IcebergAppendsDataSource,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    appended = t.nation.filter("n_regionkey IN (0, 2)").selectExpr(
        "CAST(n_nationkey + 3000 AS BIGINT) AS n_nationkey",
        "'APPENDED' AS n_name",
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    src = os.path.join(tempfile.gettempdir(), f"witdb_iceloop_src_{tag}")
    dst = os.path.join(tempfile.gettempdir(), f"witdb_iceloop_dst_{tag}")
    ckpt = os.path.join(
        tempfile.gettempdir(), f"witdb_iceloop_ckpt_{tag}"
    )
    for p in (src, dst, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    write_iceberg(spark, base.coalesce(1), src, mode="create")
    first = _current_metadata(src)["current-snapshot-id"]
    write_iceberg(
        spark,
        appended.filter("n_nationkey % 2 = 0").coalesce(1),
        src, mode="append",
    )
    write_iceberg(
        spark,
        appended.filter("n_nationkey % 2 = 1").coalesce(1),
        src, mode="append",
    )
    spark.dataSource.register(IcebergAppendsDataSource)
    q = (
        iceberg_stream_writer(
            spark.readStream.format("witdb_iceberg_appends")
            .option("path", src)
            .option("starting_snapshot", first)
            .load(),
            dst, ckpt,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return read_iceberg_snapshot(spark, dst).select(
        "n_nationkey", "n_name"
    )


@register(
    "hudi_cdf_stream_sink_loop",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           'insert' AS _change_type
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey AS BIGINT), n_name, 'delete'
    FROM nation WHERE n_nationkey % 8 = 5
    """,
    doc="The Hudi streaming sink loop (r13, streaming/hudi_sink.py): "
    "the CDF STREAM of a Delta table drains via availableNow into a "
    "COPY_ON_WRITE Hudi table through hudi_stream_writer — each "
    "batch publishes one bulk-insert commit whose extraMetadata "
    "carries streaming-app-id/epoch-id markers (hudi's own "
    "deltastreamer-checkpoint channel), so a replayed batch commits "
    "nothing. One drain = one batch; the sink table must hash-equal "
    "the oracle's change set. (A MERGE_ON_READ sink target instead "
    "UPSERTS by record key — tested in test_streaming.)",
    tags=("streaming", "lakehouse", "cdc", "writer"),
)
def hudi_cdf_stream_sink_loop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.delta_log import (
        delta_delete_where,
        write_delta,
    )
    from witdb_spark.sources.hudi_meta import read_hudi_snapshot
    from witdb_spark.streaming.cdf_source import DeltaCDFDataSource
    from witdb_spark.streaming.hudi_sink import hudi_stream_writer

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    src = os.path.join(
        tempfile.gettempdir(), f"witdb_hudiloop_src_{tag}"
    )
    dst = os.path.join(
        tempfile.gettempdir(), f"witdb_hudiloop_dst_{tag}"
    )
    ckpt = os.path.join(
        tempfile.gettempdir(), f"witdb_hudiloop_ckpt_{tag}"
    )
    for p in (src, dst, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    write_delta(
        spark, base.coalesce(1), src, mode="create",
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delta_delete_where(spark, src, "n_nationkey % 8 = 5")
    spark.dataSource.register(DeltaCDFDataSource)
    q = (
        hudi_stream_writer(
            spark.readStream.format("witdb_delta_cdf")
            .option("path", src).load()
            .select("n_nationkey", "n_name", "_change_type"),
            dst, ckpt,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return read_hudi_snapshot(spark, dst).select(
        "n_nationkey", "n_name", "_change_type"
    )


@register(
    "sql_lakehouse_ctas_insert",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
    FROM nation WHERE n_regionkey <> 3
    UNION ALL
    SELECT CAST(n_nationkey + 500 AS BIGINT), 'INSERTED'
    FROM nation WHERE n_regionkey = 0
    """,
    doc="CTAS + INSERT through the SQL front door (r12, engine.py —"
    " reference CreateTableTask / io.trino.sql.tree.Insert executed by"
    " the delta connector): CREATE TABLE delta.'<path>' AS SELECT"
    " filters nation into a fresh jar-free Delta table, INSERT INTO"
    " ... SELECT appends a second commit (positional alignment casts"
    " to the target schema), and the final front-door read must"
    " hash-equal the hand-unioned oracle. Late-r12 registration —"
    " leads r13's driver window.",
    tags=("writer", "dml", "lakehouse"),
)
def sql_lakehouse_ctas_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.engine import Engine

    eng = Engine(spark)
    t = Tables(spark, sf_dir)
    t.nation.createOrReplaceTempView("nation")
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_sql_ctas_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    eng.sql(
        f"CREATE TABLE delta.'{path}' AS SELECT"
        " CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name"
        " FROM nation WHERE n_regionkey <> 3"
    )
    eng.sql(
        f"INSERT INTO delta.'{path}' SELECT"
        " CAST(n_nationkey + 500 AS BIGINT), 'INSERTED'"
        " FROM nation WHERE n_regionkey = 0"
    )
    return eng.sql(
        f"SELECT n_nationkey, n_name FROM delta.'{path}'"
    )


@register(
    "iceberg_mor_evolved_dml",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey % 9 = 4 THEN 'EPATCH'
                ELSE n_name END AS n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation WHERE n_nationkey % 6 <> 2
    """,
    doc="Row-targeted MOR DML across EVOLVED partition specs (r12,"
    " iceberg_meta.py _iceberg_posdelete_commit_df per-spec delete"
    " manifests; Iceberg spec 'Partition Evolution' + 'Position Delete"
    " Files'): nation lands unpartitioned (spec 0), the spec evolves"
    " to identity on n_regionkey, a second slice appends under spec 1,"
    " then one merge-on-read DELETE and one UPDATE each match rows in"
    " BOTH specs' files — delete entries group by their target's"
    " manifest spec-id (one spec-shaped delete manifest per spec,"
    " single snapshot), post-images stage under the current default"
    " spec. Result must hash-equal the hand-applied oracle.",
    tags=("source", "lakehouse", "writer", "dml"),
)
def iceberg_mor_evolved_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.iceberg_meta import (
        iceberg_delete_where,
        iceberg_evolve_spec,
        iceberg_update_where,
        read_iceberg_snapshot,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    src = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey",
        "n_name",
        "CAST(n_regionkey AS BIGINT) AS n_regionkey",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_ice_evodml_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(
        spark, src.filter("n_nationkey < 12").coalesce(1),
        path, mode="create",
        properties={
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
        },
    )
    iceberg_evolve_spec(spark, path, ["n_regionkey"])
    write_iceberg(
        spark, src.filter("n_nationkey >= 12").coalesce(1),
        path, mode="append",
    )
    iceberg_delete_where(spark, path, "n_nationkey % 6 = 2")
    iceberg_update_where(
        spark, path, "n_nationkey % 9 = 4", {"n_name": "'EPATCH'"}
    )
    return read_iceberg_snapshot(spark, path).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "hudi_mor_logical_types",
    """
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           strftime(CASE WHEN o_orderkey % 10 = 7
                         THEN DATE '1999-12-31' ELSE o_orderdate END,
                    '%Y-%m-%d') AS o_orderdate,
           CAST(CASE WHEN o_orderkey % 10 = 7 THEN -1.00
                     ELSE o_totalprice END AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey <= 800
    """,
    doc="DATE/DECIMAL columns through MOR log records (r12,"
    " hudi_meta.py _avro_schema_for logical encodings — epoch-day"
    " dates, unscaled-bytes decimals, the same avro logical types"
    " hudi's writers emit): orders lands as a MOR base, one upsert"
    " rewrites every o%10=7 row's date and price THROUGH THE LOG, and"
    " the merged snapshot must hash-equal the hand-patched oracle"
    " (dates compared as strings — the engine-neutral form).",
    tags=("source", "lakehouse", "writer"),
)
def hudi_mor_logical_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_meta import (
        hudi_log_upsert,
        read_hudi_snapshot,
        write_hudi_mor_create,
    )

    t = Tables(spark, sf_dir)
    src = t.orders.selectExpr(
        "CAST(o_orderkey AS BIGINT) AS o_orderkey",
        "CAST(o_orderdate AS DATE) AS o_orderdate",
        "CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice",
    ).filter("o_orderkey <= 800")
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_logical_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi_mor_create(
        spark, src.coalesce(2), path, record_key="o_orderkey"
    )
    hudi_log_upsert(
        spark, path,
        src.filter("o_orderkey % 10 = 7").selectExpr(
            "o_orderkey",
            "DATE '1999-12-31' AS o_orderdate",
            "CAST(-1.00 AS DECIMAL(12,2)) AS o_totalprice",
        ),
    )
    return read_hudi_snapshot(spark, path).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


@register(
    "delta_cdf_stream_drain",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey AS BIGINT), 'delete', 1
    FROM nation WHERE n_nationkey % 3 = 1
    """,
    doc="The Change Data Feed as a STRUCTURED STREAMING source (r12,"
    " streaming/cdf_source.py — a Spark 4 python DataSource; offsets"
    " are commit versions, rows decode on executors with pyarrow + the"
    " pure-python DV reader; beyond-reference: Trino has neither"
    " table_changes nor streaming): nation lands in a CDF+DV table,"
    " one DV DELETE shadows n%3=1, and an availableNow drain of the"
    " stream into parquet must hash-equal the hand-replayed oracle —"
    " the STREAMING path, not the batch reader, produces the rows.",
    tags=("streaming", "lakehouse", "cdc"),
)
def delta_cdf_stream_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.delta_log import (
        delta_delete_where,
        write_delta,
    )
    from witdb_spark.streaming.cdf_source import DeltaCDFDataSource

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr("CAST(n_nationkey AS BIGINT) AS n_nationkey")
    root = os.path.join(
        tempfile.gettempdir(),
        f"witdb_cdf_stream_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    path = os.path.join(root, "tbl")
    write_delta(
        spark, base.coalesce(2), path, mode="create",
        configuration={
            "delta.enableChangeDataFeed": "true",
            "delta.enableDeletionVectors": "true",
        },
    )
    delta_delete_where(spark, path, "n_nationkey % 3 = 1")
    spark.dataSource.register(DeltaCDFDataSource)
    out = os.path.join(root, "out")
    q = (
        spark.readStream.format("witdb_delta_cdf")
        .option("path", path)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(out).select(
        "n_nationkey",
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").alias("commit_version"),
    )


@register(
    "hudi_hfile_block_read",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey % 7 = 3 THEN 'HFILED'
                ELSE n_name END AS n_name
    FROM nation
    """,
    doc="HFILE log blocks (r14, hudi_log.decode_hfile_block over "
    "sources/hfile.py — the public HBase HFile v2/v3 layout, jar-"
    "free; reference plugin/trino-hudi reads them via the hudi "
    "library's HBase reader): nation lands as a MOR base, an upsert "
    "opens the file group's log, then an HFILE_DATA block — a "
    "complete inlined HFile whose cells are (record key, avro datum) "
    "under the block's SCHEMA header, GZ-compressed, CRC32C-checked "
    "— patches every n%7=3 name. The MOR merge reader decodes it "
    "like any data block; hash-equal to the CASE oracle.",
    tags=("source", "lakehouse"),
)
def hudi_hfile_block_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import json
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_log import (
        BLOCK_HFILE_DATA,
        HEADER_INSTANT_TIME,
        HEADER_SCHEMA,
        append_log_block,
        encode_hfile_block_content,
        log_entries,
        read_log_blocks,
    )
    from witdb_spark.sources.hudi_meta import (
        hudi_log_upsert,
        read_hudi_snapshot,
        write_hudi_mor_create,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_hfile_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi_mor_create(
        spark, base.coalesce(1), path, record_key="n_nationkey"
    )
    # an ordinary upsert opens the slice's log and fixes the record
    # schema this table's log blocks carry
    hudi_log_upsert(
        spark, path, base.filter("n_nationkey = 0").limit(1)
    )
    log = glob.glob(os.path.join(path, ".*.log.*"))[0]
    blk = read_log_blocks(log)[0]
    schema_json = blk["headers"][HEADER_SCHEMA]
    instant = blk["headers"][HEADER_INSTANT_TIME]
    template, _, _ = log_entries(log)[0]
    records = []
    for r in base.filter("n_nationkey % 7 = 3").collect():
        rec = dict(template)
        rec["_hoodie_record_key"] = str(r.n_nationkey)
        rec["n_nationkey"] = int(r.n_nationkey)
        rec["n_name"] = "HFILED"
        records.append(rec)
    append_log_block(
        log,
        BLOCK_HFILE_DATA,
        {HEADER_INSTANT_TIME: instant, HEADER_SCHEMA: schema_json},
        encode_hfile_block_content(
            records, json.loads(schema_json)
        ),
    )
    return read_hudi_snapshot(spark, path).select(
        "n_nationkey", "n_name"
    )


@register(
    "iceberg_analyze_puffin_stats",
    """
    SELECT 'k2000' AS column_name,
           CAST(COUNT(DISTINCT c_custkey % 2000) AS DOUBLE) AS ndv
    FROM customer
    UNION ALL
    SELECT 'segment',
           CAST(COUNT(DISTINCT c_mktsegment) AS DOUBLE)
    FROM customer
    ORDER BY column_name
    """,
    doc="Puffin statistics end-to-end (r14, sources/puffin.py + "
    "iceberg_meta.iceberg_analyze; reference trino-iceberg "
    "TableStatisticsWriter/Reader + AnalyzeTask): customer-derived "
    "columns land as an Iceberg table, ANALYZE iceberg.'<path>' "
    "builds apache-datasketches-theta-v1 sketches (murmur3_x64_128, "
    "exact mode under k=4096) into a Puffin file registered in "
    "metadata.statistics, and SHOW STATS serves each blob's ndv "
    "property — compared hash-exact against COUNT(DISTINCT). The "
    "k+1-smallest-hash collection is a JVM TakeOrderedAndProject "
    "over executor-side Arrow-batched hashing: O(k) driver memory "
    "at any scale.",
    tags=("source", "lakehouse", "stats"),
)
def iceberg_analyze_puffin_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from witdb_spark.engine import Engine
    from witdb_spark.sources.iceberg_meta import write_iceberg

    t = Tables(spark, sf_dir)
    src = t.customer.selectExpr(
        "CAST(c_custkey % 2000 AS BIGINT) AS k2000",
        "c_mktsegment AS segment",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_ice_puffin_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(spark, src.coalesce(2), path, mode="create")
    eng = Engine(spark)
    eng.sql(f"ANALYZE iceberg.'{path}'")
    return (
        eng.sql(f"SHOW STATS FOR iceberg.'{path}'")
        .where("column_name IS NOT NULL")
        .select(
            "column_name",
            F.col("distinct_values_count").alias("ndv"),
        )
        .orderBy("column_name")
    )


@register(
    "iceberg_cherry_pick_scan",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey + 1000 AS BIGINT), 'MAINLINE'
    FROM nation WHERE n_regionkey = 0
    UNION ALL
    SELECT CAST(n_nationkey + 3000 AS BIGINT), 'CHERRY'
    FROM nation WHERE n_regionkey = 2
    """,
    doc="Diverged-branch publish (r14, iceberg_meta.py "
    "iceberg_cherry_pick; the iceberg library's SnapshotManager"
    ".cherrypick / Spark CherrypickSnapshotProcedure — the shape r13's"
    " fast_forward refuses): a WAP branch stages an append while main "
    "itself advances (true divergence), then CALL "
    "system.cherrypick_snapshot re-applies the branch's append "
    "snapshot onto main's head as a new commit with a fresh sequence "
    "number. Main serves base + mainline + cherry rows, hash-equal "
    "to the three-way UNION oracle.",
    tags=("source", "lakehouse", "versioned"),
)
def iceberg_cherry_pick_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.engine import Engine
    from witdb_spark.sources.iceberg_meta import (
        _current_metadata,
        iceberg_create_ref,
        read_iceberg_snapshot,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_ice_cherry_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(spark, base.coalesce(1), path, mode="create")
    iceberg_create_ref(path, "wap", ref_type="branch")
    write_iceberg(
        spark,
        t.nation.filter("n_regionkey = 2").selectExpr(
            "CAST(n_nationkey + 3000 AS BIGINT) AS n_nationkey",
            "'CHERRY' AS n_name",
        ).coalesce(1),
        path,
        branch="wap",
    )
    # main advances independently -> the branch is now DIVERGED
    write_iceberg(
        spark,
        t.nation.filter("n_regionkey = 0").selectExpr(
            "CAST(n_nationkey + 1000 AS BIGINT) AS n_nationkey",
            "'MAINLINE' AS n_name",
        ).coalesce(1),
        path,
        mode="append",
    )
    wap_head = _current_metadata(path)["refs"]["wap"]["snapshot-id"]
    Engine(spark).sql(
        f"CALL system.cherrypick_snapshot('{path}', {wap_head})"
    )
    return read_iceberg_snapshot(spark, path).select(
        "n_nationkey", "n_name"
    )


@register(
    "cbo_broadcast_from_stats",
    """
    SELECT n.n_name, COUNT(*) AS n_cust
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_regionkey <> 1
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    doc="Persisted-ANALYZE statistics feeding join distribution (r15, "
    "engine.py _cbo_broadcast_size + the _rewrite_lakehouse_refs "
    "broadcast hint — the reference CBO's AUTOMATIC join-distribution "
    "mode consuming connector statistics): nation lands as a "
    "DV-enabled delta table, a deletion-vector DELETE drops region 1 "
    "(file bytes unchanged — Spark's own estimate cannot see it), "
    "ANALYZE persists the post-delete rowCount/tableSizeBytes into "
    "the sidecar, and the engine's JOIN against customer broadcasts "
    "the dim off those numbers. The companion plan gate "
    "(test_plans.py::test_cbo_stats_flip_broadcast) pins the actual "
    "sort-merge -> broadcast flip; this query value-checks the "
    "stats-hinted path against the plain-SQL oracle.",
    tags=("engine", "cbo", "lakehouse"),
)
def cbo_broadcast_from_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import (
        delta_delete_where,
        write_delta,
    )

    t = Tables(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_cbo_nat_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_delta(
        spark,
        t.nation.selectExpr(
            "CAST(n_nationkey AS BIGINT) AS n_nationkey",
            "n_name",
            "CAST(n_regionkey AS BIGINT) AS n_regionkey",
        ).coalesce(1),
        path,
        mode="create",
        configuration={"delta.enableDeletionVectors": "true"},
    )
    delta_delete_where(spark, path, "n_regionkey = 1")
    eng = Engine(spark, sf_dir=sf_dir)
    eng.sql(f"ANALYZE delta.'{path}'")
    return eng.sql(
        "SELECT d.n_name, COUNT(*) AS n_cust FROM customer c"
        f" JOIN delta.'{path}' d ON c.c_nationkey = d.n_nationkey"
        " GROUP BY d.n_name ORDER BY d.n_name"
    )


def _cherry_dyn_fixture(spark: SparkSession, sf_dir: str, name: str):
    """Shared fixture for the dynamic-overwrite cherry-pick pair: a
    nation table partitioned by n_regionkey, a dynamic overwrite of
    region 2 (REPLACED rows), then a rollback so the overwrite is OFF
    main's ancestry — the diverged-commit shape cherrypick_snapshot
    re-applies. Returns (path, overwrite_snapshot_id)."""
    import shutil
    import tempfile

    from witdb_spark.sources.iceberg_meta import (
        iceberg_dynamic_overwrite,
        iceberg_rollback_to_snapshot,
        write_iceberg,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey",
        "CAST(n_regionkey AS BIGINT) AS n_regionkey",
        "n_name",
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_ice_{name}_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(
        spark, base.coalesce(1), path, mode="create",
        partition_by=["n_regionkey"],
    )
    from witdb_spark.sources.iceberg_meta import _current_metadata

    s1 = _current_metadata(path)["current-snapshot-id"]
    replaced = t.nation.filter("n_regionkey = 2").selectExpr(
        "CAST(n_nationkey + 2000 AS BIGINT) AS n_nationkey",
        "CAST(n_regionkey AS BIGINT) AS n_regionkey",
        "'REPLACED' AS n_name",
    )
    s2 = iceberg_dynamic_overwrite(spark, replaced.coalesce(1), path)
    iceberg_rollback_to_snapshot(path, s1)
    return path, s2


@register(
    "iceberg_cherry_pick_dynamic",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CAST(n_regionkey AS BIGINT) AS n_regionkey, n_name
    FROM nation WHERE n_regionkey <> 2
    UNION ALL
    SELECT CAST(n_nationkey + 2000 AS BIGINT),
           CAST(n_regionkey AS BIGINT), 'REPLACED'
    FROM nation WHERE n_regionkey = 2
    UNION ALL
    SELECT CAST(n_nationkey + 1000 AS BIGINT),
           CAST(n_regionkey AS BIGINT), 'MAINLINE'
    FROM nation WHERE n_regionkey = 4
    """,
    doc="Dynamic-overwrite cherry-pick, CLEAN case (r15, "
    "iceberg_meta.py iceberg_dynamic_overwrite + _cherry_pick_dynamic"
    " — the iceberg library's ReplacePartitions replay inside "
    "CherryPickOperation, closing the r14 'appends only' partial): a "
    "replace-partitions snapshot (region 2 rewritten) falls off main "
    "via rollback, main advances in a DIFFERENT partition (region 4 "
    "append), then CALL system.cherrypick_snapshot re-applies the "
    "overwrite — the conflict validation passes because the replaced "
    "partition is untouched since the fork, untouched partitions' "
    "manifests carry through unrewritten. Final table hash-equals "
    "the three-way oracle.",
    tags=("source", "lakehouse", "versioned"),
)
def iceberg_cherry_pick_dynamic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from witdb_spark.engine import Engine
    from witdb_spark.sources.iceberg_meta import (
        read_iceberg_snapshot,
        write_iceberg,
    )

    path, s2 = _cherry_dyn_fixture(spark, sf_dir, "cherry_dyn")
    t = Tables(spark, sf_dir)
    # main advances in a partition the overwrite never touched
    write_iceberg(
        spark,
        t.nation.filter("n_regionkey = 4").selectExpr(
            "CAST(n_nationkey + 1000 AS BIGINT) AS n_nationkey",
            "CAST(n_regionkey AS BIGINT) AS n_regionkey",
            "'MAINLINE' AS n_name",
        ).coalesce(1),
        path,
        mode="append",
    )
    Engine(spark).sql(
        f"CALL system.cherrypick_snapshot('{path}', {s2})"
    )
    return read_iceberg_snapshot(spark, path).select(
        "n_nationkey", "n_regionkey", "n_name"
    )


@register(
    "iceberg_cherry_pick_conflict",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           'refused: changed partition' AS pick_status
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey + 5000 AS BIGINT), 'CLASH',
           'refused: changed partition'
    FROM nation WHERE n_regionkey = 2
    """,
    doc="Dynamic-overwrite cherry-pick, CONFLICT case (r15, "
    "iceberg_meta.py _cherry_pick_dynamic — the library "
    "CherryPickOperation's validateReplacedPartitions refusal): after "
    "the replace-partitions snapshot forks off, main appends INTO the "
    "replaced partition (region 2), so replaying the overwrite would "
    "clobber a commit it never saw — cherrypick_snapshot refuses with "
    "the changed partition named and the table stays EXACTLY as main "
    "left it (13 base + clash rows, no partial apply). The query "
    "returns the post-refusal table + the refusal status, hash-equal "
    "to the untouched-state oracle.",
    tags=("source", "lakehouse", "versioned"),
)
def iceberg_cherry_pick_conflict(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from witdb_spark.sources.iceberg_meta import (
        IcebergProtocolError,
        read_iceberg_snapshot,
        write_iceberg,
    )

    path, s2 = _cherry_dyn_fixture(spark, sf_dir, "cherry_conf")
    t = Tables(spark, sf_dir)
    # main advances INSIDE the replaced partition -> replay must refuse
    write_iceberg(
        spark,
        t.nation.filter("n_regionkey = 2").selectExpr(
            "CAST(n_nationkey + 5000 AS BIGINT) AS n_nationkey",
            "CAST(n_regionkey AS BIGINT) AS n_regionkey",
            "'CLASH' AS n_name",
        ).coalesce(1),
        path,
        mode="append",
    )
    from witdb_spark.sources.iceberg_meta import iceberg_cherry_pick

    try:
        iceberg_cherry_pick(path, s2)
        raise AssertionError(
            "cherrypick_snapshot applied a conflicting dynamic"
            " overwrite — the conflict validation is broken"
        )
    except IcebergProtocolError as e:
        if "changed partition" not in str(e):
            raise
        status = "refused: changed partition"
    return read_iceberg_snapshot(spark, path).select(
        "n_nationkey",
        "n_name",
        F.lit(status).alias("pick_status"),
    )


@register(
    "hudi_changes_stream_drain",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           'PATCHED' AS n_name
    FROM nation WHERE n_nationkey % 6 = 2
    UNION ALL
    SELECT CAST(n_nationkey + 4000 AS BIGINT), 'FRESH'
    FROM nation WHERE n_regionkey = 3
    """,
    doc="The Hudi incremental change STREAM (r14, streaming/"
    "hudi_source.py — completes the 3x3 lakehouse source/sink "
    "matrix; streaming twin of hudi_incremental_read, hudi's "
    "query.type=incremental): nation lands as a MOR table, one log "
    "upsert patches every n%6=2 name and another inserts fresh keys, "
    "then witdb_hudi_changes drains from the create instant via "
    "availableNow — offsets are completed timeline instants, log "
    "records decode executor-side as Arrow batches with a per-block "
    "instant filter. The drained change images hash-equal the "
    "patch+insert oracle.",
    tags=("streaming", "lakehouse", "cdc"),
)
def hudi_changes_stream_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_meta import (
        _completed_instants,
        hudi_log_upsert,
        write_hudi_mor_create,
    )
    from witdb_spark.streaming import HudiChangesDataSource

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    root = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_stream_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    path = os.path.join(root, "src")
    write_hudi_mor_create(
        spark, base.coalesce(1), path, record_key="n_nationkey"
    )
    first = _completed_instants(path)[-1][0]
    hudi_log_upsert(
        spark, path,
        base.filter("n_nationkey % 6 = 2").selectExpr(
            "n_nationkey", "'PATCHED' AS n_name"
        ),
    )
    hudi_log_upsert(
        spark, path,
        t.nation.filter("n_regionkey = 3").selectExpr(
            "CAST(n_nationkey + 4000 AS BIGINT) AS n_nationkey",
            "'FRESH' AS n_name",
        ),
    )
    spark.dataSource.register(HudiChangesDataSource)
    out = os.path.join(root, "out")
    q = (
        spark.readStream.format("witdb_hudi_changes")
        .option("path", path)
        .option("starting_instant", first)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(out).select("n_nationkey", "n_name")


@register(
    "hudi_rewrite_stream_drain",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           'PATCHED' AS n_name
    FROM nation WHERE n_nationkey % 5 = 1
    UNION ALL
    SELECT CAST(n_nationkey + 4000 AS BIGINT), 'FRESH'
    FROM nation WHERE n_regionkey = 3
    """,
    doc="COW-rewrite streaming attribution (r15, streaming/"
    "hudi_source.py — narrows the r14 gate that refused meta-less COW"
    " rewrites outright): nation lands as a COPY_ON_WRITE table, an "
    "append adds fresh keys, then a keyed UPSERT rewrites the base "
    "file group (a replacecommit retiring it). The drain serves the "
    "append whole AND attributes the rewrite by the executor-side "
    "anti-diff against the retired group's base file: only the "
    "patched rows emit, the carried-over base rows are suppressed, "
    "and the untouched appended group never re-emits. Hash-equal to "
    "the patch+insert oracle.",
    tags=("streaming", "lakehouse", "cdc"),
)
def hudi_rewrite_stream_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_meta import (
        _completed_instants,
        hudi_upsert,
        write_hudi,
    )
    from witdb_spark.streaming import HudiChangesDataSource

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    root = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_rwstream_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)
    path = os.path.join(root, "src")
    write_hudi(
        spark, base.coalesce(1), path, mode="create",
        record_key="n_nationkey",
    )
    first = _completed_instants(path)[-1][0]
    write_hudi(
        spark,
        t.nation.filter("n_regionkey = 3").selectExpr(
            "CAST(n_nationkey + 4000 AS BIGINT) AS n_nationkey",
            "'FRESH' AS n_name",
        ).coalesce(1),
        path,
        mode="append",
    )
    hudi_upsert(
        spark, path,
        base.filter("n_nationkey % 5 = 1").selectExpr(
            "n_nationkey", "'PATCHED' AS n_name"
        ),
    )
    spark.dataSource.register(HudiChangesDataSource)
    out = os.path.join(root, "out")
    q = (
        spark.readStream.format("witdb_hudi_changes")
        .option("path", path)
        .option("starting_instant", first)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(out).select("n_nationkey", "n_name")


@register(
    "hudi_cow_incremental_read",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           'PATCHED' AS n_name
    FROM nation WHERE n_nationkey % 5 = 1 AND n_nationkey <> 11
    UNION ALL
    SELECT CAST(n_nationkey + 4000 AS BIGINT), 'FRESH'
    FROM nation WHERE n_regionkey = 3
    """,
    doc="COW BATCH incremental query (r15, hudi_meta.py "
    "_hudi_cow_incremental — the batch twin of the streaming rewrite "
    "attribution, retiring the MOR-only gate): nation lands as a "
    "COPY_ON_WRITE table, an append adds FRESH keys, a keyed upsert "
    "patches n%5=1, and a DELETE removes one patched key. "
    "hudi_incremental_read serves the latest image per record key "
    "across the range via the witdb_hudi_changes batch reader "
    "(rewrites anti-diffed executor-side), semi-joined against the "
    "end snapshot so the deleted key drops — hudi's own incremental "
    "semantics (no tombstone images). Hash-equal to the "
    "patch+insert-minus-delete oracle.",
    tags=("source", "lakehouse", "cdc"),
)
def hudi_cow_incremental_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from witdb_spark.sources.hudi_meta import (
        _completed_instants,
        hudi_delete_where,
        hudi_upsert,
        hudi_incremental_read,
        write_hudi,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_hudi_cowincr_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_hudi(
        spark, base.coalesce(1), path, mode="create",
        record_key="n_nationkey",
    )
    first = _completed_instants(path)[-1][0]
    write_hudi(
        spark,
        t.nation.filter("n_regionkey = 3").selectExpr(
            "CAST(n_nationkey + 4000 AS BIGINT) AS n_nationkey",
            "'FRESH' AS n_name",
        ).coalesce(1),
        path,
        mode="append",
    )
    hudi_upsert(
        spark, path,
        base.filter("n_nationkey % 5 = 1").selectExpr(
            "n_nationkey", "'PATCHED' AS n_name"
        ),
    )
    hudi_delete_where(spark, path, "n_nationkey = 11")
    return hudi_incremental_read(spark, path, first).select(
        "n_nationkey", "n_name"
    )


@register(
    "delta_v2_checkpoint_roundtrip",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
    FROM nation WHERE n_nationkey % 9 <> 4
    """,
    doc="V2 checkpoint WRITE + bootstrap (r14, delta_log.py "
    "delta_checkpoint(v2=True); PROTOCOL.md 'V2 Spec' — the form "
    "delta-spark writes under v2Checkpoint, read jar-free here since "
    "r12): nation lands as a Delta table, a DELETE prunes n%9=4, "
    "CALL system.checkpoint(path, 'v2') compacts the log into a "
    "uuid-named manifest + _sidecars add batches, every commit JSON "
    "is removed, and the snapshot re-reads from the checkpoint alone "
    "through the distributed files plan — hash-equal to the "
    "filter oracle.",
    tags=("source", "lakehouse", "versioned"),
)
def delta_v2_checkpoint_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob
    import shutil
    import tempfile

    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import (
        delta_delete_where,
        read_delta_snapshot,
        write_delta,
    )

    t = Tables(spark, sf_dir)
    base = t.nation.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"witdb_delta_v2cp_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_delta(spark, base.coalesce(2), path, mode="create")
    delta_delete_where(spark, path, "n_nationkey % 9 = 4")
    Engine(spark).sql(f"CALL system.checkpoint('{path}', 'v2')")
    for c in glob.glob(os.path.join(path, "_delta_log", "*.json")):
        os.remove(c)
    return read_delta_snapshot(spark, path).select(
        "n_nationkey", "n_name"
    )
