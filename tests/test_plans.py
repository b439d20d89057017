"""Physical-plan quality gates: correctness tests prove the answers match;
these prove the *plans* are the ones that survive a 1000-executor, 100 TB
scale-up. Each assertion pins an optimizer behavior the reference engine
also guarantees (citations in each test).

If a Spark upgrade or query edit regresses one of these (filter stops
pushing, a dim join stops broadcasting, a top-k becomes a full sort), this
file fails before any benchmark notices.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_DIR
from witdb_spark.queries import QUERIES


def plan_of(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q6_filter_pushdown_and_pruning(spark):
    """Q6 predicates must reach the parquet scan (reference
    PushPredicateIntoTableScan.java:83 / TupleDomain pushdown) and the scan
    must read only the 4 referenced columns (PruneTableScanColumns.java:49)."""
    plan = plan_of(spark, "tpch_q6")
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read_schema
    assert "l_orderkey" not in read_schema  # pruned


def test_q5_broadcasts_dims_no_cartesian(spark):
    """Constant-cardinality dims broadcast (reference
    DetermineJoinDistributionType.java:59); no cross product appears
    (EliminateCrossJoins.java:54)."""
    plan = plan_of(spark, "tpch_q5")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q1_partial_final_aggregation(spark):
    """Aggregation splits map-side partial / final (reference
    AggregationNode.Step PARTIAL/FINAL, PushPartialAggregationThroughExchange
    .java:60) and runs inside whole-stage codegen."""
    plan = plan_of(spark, "tpch_q1")
    assert "HashAggregate" in plan
    assert "partial_" in plan.lower() or "Partial" in plan
    # codegen spans only materialize in codegen explain mode under AQE
    df = QUERIES["tpch_q1"].fn(spark, SF_DIR)
    codegen = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    )
    assert "WholeStageCodegen" in codegen


def test_topn_uses_take_ordered(spark):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (reference
    TopNOperator.java:35 heap top-n), never a global sort."""
    plan = plan_of(spark, "tpch_q3")
    assert "TakeOrderedAndProject" in plan


def test_window_rank_filter_uses_group_limit(spark):
    """rank<=k filters plan as WindowGroupLimit — top-k per partition
    without a full sort (reference TopNRankingOperator.java:42)."""
    plan = plan_of(spark, "window_rank_topn")
    assert "WindowGroupLimit" in plan


def test_semi_join_for_exists(spark):
    """EXISTS subqueries become semi joins, not inner+distinct (reference
    TransformExistsApplyToCorrelatedJoin.java)."""
    plan = plan_of(spark, "tpch_q4")
    assert "LeftSemi" in plan


def test_similarity_broadcasts_queries(spark):
    """The query-vector side of brute-force top-k broadcasts; the corpus
    side stays partitioned (the property that lets it scale to 100 TB)."""
    plan = plan_of(spark, "similarity_topk")
    assert "Broadcast" in plan


def test_no_python_udf_in_relational_queries(spark):
    """Every TPC-H/analytics query stays fully JVM-side — BatchEvalPython /
    ArrowEvalPython in a plan means a Python row loop crept into the hot
    path (SURVEY.md: UDFs are the slow path; mapInPandas is allowed only in
    the multimodal queries by design)."""
    for name in ("tpch_q1", "tpch_q9", "tpch_q18", "agg_stats_moments",
                 "dedup_minhash", "similarity_topk", "window_running_sum"):
        plan = plan_of(spark, name)
        assert "EvalPython" not in plan, f"{name} has Python in the hot path"


@pytest.mark.parametrize("name", ["tpch_q5", "tpch_q8", "tpch_q9"])
def test_multiway_joins_shuffle_on_keys(spark, name):
    """Fact-fact joins are hash-partitioned on join keys (reference
    AddExchanges.java:131 partitioned-join planning): plans contain
    hashpartitioning exchanges, and AQE is free to coalesce them."""
    plan = plan_of(spark, name)
    assert "hashpartitioning" in plan


def test_sequence_table_bounds(spark):
    from witdb_spark.operators.table_functions import exclude_columns, sequence_table

    assert [r.sequential_number for r in sequence_table(spark, 1, 10, 3).collect()] == [1, 4, 7, 10]
    assert [r.sequential_number for r in sequence_table(spark, 5, 1, -2).collect()] == [5, 3, 1]
    df = spark.createDataFrame([(1, "a", True)], "x int, y string, z boolean")
    assert exclude_columns(df, "y").columns == ["x", "z"]


def test_at_timezone(spark):
    from witdb_spark.functions import register_all

    register_all(spark)
    got = spark.sql(
        "SELECT date_format(at_timezone(TIMESTAMP_NTZ '2020-06-01 12:00:00',"
        " 'America/New_York'), 'yyyy-MM-dd HH:mm') AS v"
    ).collect()[0].v
    assert got == "2020-06-01 08:00"  # EDT = UTC-4
    rt = spark.sql(
        "SELECT with_timezone(at_timezone(TIMESTAMP_NTZ '2020-06-01 12:00:00',"
        " 'Asia/Tokyo'), 'Asia/Tokyo') AS v"
    ).collect()[0].v
    assert str(rt) == "2020-06-01 12:00:00"


def test_q2_q11_broadcast_dims(spark):
    """The partsupp-derived q2/q11 still broadcast the nation/region dims
    (reference DetermineJoinDistributionType.java:59) and avoid cross
    products."""
    for name in ("tpch_q2", "tpch_q11"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_minhash_no_cartesian_and_pruned_scan(spark):
    """LSH candidate generation must be a band-key equi join, never a
    pairwise cross product, and the documents scan must not read the lang/
    source columns the pipeline ignores."""
    plan = plan_of(spark, "dedup_minhash")
    assert "CartesianProduct" not in plan
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas and all("lang" not in l for l in read_schemas)


def test_ivf_broadcasts_centroids(spark):
    """IVF cell assignment broadcasts the centroid relation; the corpus
    side never becomes the build side of a cross product."""
    plan = plan_of(spark, "similarity_ivf_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_match_recognize_single_shuffle(spark):
    """The pattern operator adds exactly one exchange for its partition
    keys (reference PatternRecognitionNode requires the same
    distribution). r9: mr_funnel's shape compiles to the pure-JVM runs
    plan — no Python operator at all (gated separately in
    test_mr_runs_fast_path_plan); VM-path shapes (mr_price_slide,
    PREV navigation) still carry the single Python scan."""
    plan = plan_of(spark, "mr_funnel")
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "Sort" in plan
    vm_plan = plan_of(spark, "mr_price_slide")
    assert "MapInPandas" in vm_plan


def test_match_recognize_navigation_single_shuffle(spark):
    """PREV/NEXT navigation computes lag/lead via a window whose required
    distribution+sort is exactly what the pattern scan needs — the plan
    must show ONE Exchange feeding Window -> (mask Project) -> MapInPandas
    with no second repartition before the Python stage."""
    plan = plan_of(spark, "mr_price_slide")
    # formatted-mode tree section: nodes listed top-down; everything after
    # the MapInPandas line is upstream of the Python stage
    tree = plan.split("\n\n")[0]
    mp = next(i for i, l in enumerate(tree.splitlines()) if "MapInPandas" in l)
    below = "\n".join(tree.splitlines()[mp:])
    assert "Window" in below
    assert below.count("Exchange") == 1


def test_q9_broadcast_and_partial_agg(spark):
    """The heaviest join+agg query: dims broadcast, no cartesian product,
    aggregation splits partial/final (reference
    PushPartialAggregationThroughExchange.java:60)."""
    plan = plan_of(spark, "tpch_q9")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan.lower()


def test_session_property_controls_join_distribution(spark):
    """SET SESSION join_distribution_type (reference
    DetermineJoinDistributionType.java:59 / SystemSessionProperties): the
    Engine property layer must actually flip Spark's physical join choice."""
    from witdb_spark.engine import Engine

    eng = Engine(spark)
    try:
        eng.set_session("join_distribution_type", "PARTITIONED")
        plan = plan_of(spark, "tpch_q13")  # customer⋈orders, no manual broadcast()
        assert "BroadcastHashJoin" not in plan
    finally:
        eng.set_session("join_distribution_type", "AUTOMATIC")
    plan = plan_of(spark, "tpch_q13")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling (the runtime analog of the reference's
    cost-based distribution choice + FTE partition sizing,
    DeterminePartitionCount.java): a hot key must be split across tasks at
    runtime — executed plan shows SortMergeJoin(skew=true). Thresholds are
    lowered only for this test; production sizes come from defaults."""
    from pyspark.sql import functions as F

    conf = spark.conf
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    ]
    saved = {k: conf.get(k) for k in keys}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
        left = spark.range(400000).select(
            (F.col("id") % 50 * (F.col("id") % 50 > 0).cast("int")).alias("k"),
            F.col("id").alias("v"),
        )  # ~2/3 of rows land on key 0 -> one hot partition
        right = spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        j = left.join(right, "k")
        j.collect()
        executed = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_topn_ranking_uses_window_group_limit(spark):
    """rank() <= k filters must become WindowGroupLimit (Spark's analog of
    the reference's TopNRankingOperator.java:42 / GroupedTopNRankBuilder —
    top-k per partition without a full sort)."""
    assert "WindowGroupLimit" in plan_of(spark, "window_rank_topn")


def test_offset_limit_nodes(spark):
    """OFFSET/LIMIT lower to limit nodes, not full materialization
    (reference LimitOperator.java:23 / ImplementOffset.java)."""
    plan = plan_of(spark, "distinct_order_offset")
    assert "GlobalLimit" in plan or "TakeOrdered" in plan


def test_lsh_buckets_pure_map_stage(spark):
    """LSH bucketing must be a zero-shuffle map stage: per-row folds against
    inlined plane literals — no posexplode row amplification, no plane join,
    no exchange (round-1 VERDICT flagged the explode-join shape as the one
    scale-killer)."""
    plan = plan_of(spark, "similarity_lsh_buckets")
    assert "Exchange" not in plan
    assert "Generate" not in plan  # posexplode
    assert "Join" not in plan


def test_ivf_corpus_assignment_pure_map_stage(spark):
    """IVF nearest-centroid assignment of the CORPUS side must be a
    zero-shuffle map stage: centroids inlined as literals, per-row argmax
    fold (round-2 VERDICT flagged the broadcast-join +
    Window.partitionBy(match_id) shape as an n_centroids-fold full-corpus
    shuffle). The probe>1 query side may still join+window — it is small
    by construction."""
    from pyspark.sql import functions as F

    from witdb_spark.catalog import Tables
    from witdb_spark.pipeline import similarity

    emb = Tables(spark, SF_DIR).embeddings
    cents = (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
        .orderBy("cid")
        .collect()
    )
    lits = [(r.cid, similarity._vec_literal(r.cv)) for r in cents]
    plan = similarity.ivf_corpus_cells(emb, lits)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_limit_with_ties_uses_window_group_limit(spark):
    """FETCH FIRST WITH TIES lowers to a rank() filter that Spark's
    optimizer turns into WindowGroupLimit — partial top-n on every
    partition before the final sort, the scale-equivalent of LIMIT
    (reference ImplementLimitWithTies.java rank rewrite)."""
    plan = plan_of(spark, "limit_with_ties")
    assert "WindowGroupLimit" in plan


def test_match_recognize_parallelism_pinned(spark):
    """The pattern scan's exchange must carry an explicit partition count:
    AQE coalesces small-by-bytes shuffles to ONE partition, serializing the
    CPU-bound Python stage (round-3 mr_funnel regression root cause). The
    executed plan keeps exactly one shuffle and the mapInPandas stage runs
    at cluster width, not at AQE's byte-derived width."""
    from witdb_spark.catalog import Tables
    from witdb_spark.operators.match_recognize import match_recognize

    # r9: the V+ P shape compiles to the JVM runs plan (where AQE's
    # byte-based coalescing is the RIGHT width policy); the pin matters
    # for the Python VM path, which PREV navigation still exercises
    ev = Tables(spark, SF_DIR).events.selectExpr(
        "user_id", "event_id", "CAST(value AS DOUBLE) AS v"
    )
    mr = match_recognize(
        ev, ["user_id"], "event_id",
        {"D": "v < PREV(v)", "U": "v > PREV(v)"},
        "D+ U",
    )
    mr.count()  # materialize so AQE finalizes the plan
    assert (
        mr.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_jdbc_pushdown_reaches_remote_scan(spark, tmp_path):
    """JDBC predicate + projection pushdown (reference BaseJdbcClient
    builds per-split SELECTs with pushed filters): the starred
    PushedFilters are evaluated by the remote database, and ReadSchema
    shows only the projected column crosses the wire."""
    from pyspark.sql import functions as F

    from witdb_spark.sources import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/plandb;create=true"
    write_jdbc(
        spark.range(100).selectExpr("id", "id % 5 AS g"),
        url, "tp", driver="org.apache.derby.jdbc.EmbeddedDriver",
        num_writers=1,
    )
    df = (
        read_jdbc(
            spark, f"jdbc:derby:{tmp_path}/plandb", "tp",
            driver="org.apache.derby.jdbc.EmbeddedDriver",
        )
        .filter(F.col("g") == 1)
        .select("id")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [*IsNotNull(g), *EqualTo(g,1)]" in plan
    assert "ReadSchema: struct<id:bigint>" in plan
    assert df.count() == 20


def test_setdigest_bottomk_partial_limits(spark):
    """SetDigest sketch build (reference type/setdigest/SetDigest.java):
    the keyed bottom-k minhash must plan as WindowGroupLimit (partial
    per-partition top-k before the shuffle) and the global variant as
    TakeOrderedAndProject — both cap exchange rows at O(k) per group."""
    from witdb_spark.catalog import Tables
    from witdb_spark.operators.setdigest import minhash_bottom_k

    ev = Tables(spark, SF_DIR).events
    keyed = minhash_bottom_k(ev, ["event_type"], "user_id")
    kp = keyed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "WindowGroupLimit" in kp
    globl = minhash_bottom_k(ev, [], "user_id")
    gp = globl._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "TakeOrderedAndProject" in gp


def test_spatial_joins_never_cartesian(spark):
    """Spatial joins must band on grid cells (reference ExtractSpatialJoins
    .java:151 rewrites ST_Contains/ST_Distance joins away from nested
    loops): both registered spatial queries must plan equi hash joins on
    the cell key — no CartesianProduct, no BroadcastNestedLoopJoin."""
    for q in ("spatial_join_contains", "spatial_join_distance"):
        plan = plan_of(spark, q)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_curation_plans(spark):
    """Curation tier scale shapes: chunking and PII scrub must be map-only
    (zero Exchange); decontamination must plan hash/broadcast semi+anti
    joins on the shingle hash, never a cartesian."""
    for q in ("curation_chunks", "curation_pii_scrub"):
        plan = plan_of(spark, q)
        assert "Exchange" not in plan, q
        assert "CartesianProduct" not in plan, q
    plan = plan_of(spark, "curation_decontaminated")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spatial_contains_broadcasts_polygon_side(spark):
    """The polygon-cells side must be the broadcast build side — at scale
    the points side is the fact table (reference builds its R-tree over
    the small side, SpatialJoinOperator.java:42)."""
    plan = plan_of(spark, "spatial_join_contains")
    import re as _re

    m = _re.search(r"BroadcastHashJoin.*?Build(Left|Right)", plan, _re.S)
    assert m is not None
    # the broadcast subtree must be the polygon side — since r10 a
    # LocalRelation (local_frame; createDataFrame(<list>) would schedule
    # 32 python-worker tasks per action) — and the points parquet scan
    # must stay on the streamed side, never under an exchange
    bcast = plan.split("BroadcastExchange", 1)[1]
    assert "LocalTableScan" in bcast[:3000]
    head = plan.split("BroadcastExchange", 1)[0]
    assert "Scan parquet" in head  # events stream; polygons build


def test_spatial_contains_unrolled_verify_tier(spark):
    """r10 (VERDICT r9 task 2): with a driver-collectable single-ring
    polygon side, the containment verify compiles to literal boolean
    SQL (CASE-dispatched ray cast) — no higher-order aggregate() fold,
    no Python eval anywhere in the plan. This removed the engine's
    worst CPU-per-byte hotspot (~25% CPU and ~35% wall at sf0.1)."""
    plan = plan_of(spark, "spatial_join_contains")
    assert "aggregate(" not in plan, "HOF fold should be unrolled"
    for node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert node not in plan, node


def test_spatial_contains_tier_differential(spark):
    """Randomized differential across the three verify tiers (same
    pattern as the MATCH_RECOGNIZE fast-path gate): random convex and
    non-convex single-ring polygons on a 0.25 grid × random integer
    lattice points — the unrolled literal tier, the HOF aggregate()
    tier, and the numpy kernel tier must agree row for row. Seeded;
    polygons include a concave ring so even-odd parity (not just
    half-plane sign) is exercised."""
    import random

    import witdb_spark.operators.spatial_join as sj

    rng = random.Random(20251015)
    polys_rows = []
    for pid in range(8):
        n = rng.choice([3, 4, 5, 7])
        cx, cy = rng.uniform(10, 80), rng.uniform(10, 70)
        pts = []
        import math

        for i in range(n):
            ang = 2 * math.pi * i / n
            r = rng.choice([4.0, 7.25, 11.5]) * (
                0.4 if (i % 2 and n >= 5) else 1.0  # star => concave
            )
            pts.append(
                (
                    round((cx + r * math.cos(ang)) * 4) / 4,
                    round((cy + r * math.sin(ang)) * 4) / 4,
                )
            )
        ring = ", ".join(f"{x!r} {y!r}" for x, y in [*pts, pts[0]])
        polys_rows.append((pid, f"POLYGON (({ring}))"))
    polys = spark.createDataFrame(polys_rows, "poly_id int, wkt string")
    pts_rows = [
        (i, float(rng.randint(0, 97)), float(rng.randint(0, 89)))
        for i in range(4000)
    ]
    points = spark.createDataFrame(pts_rows, "pt_id int, x double, y double")

    def run():
        return sorted(
            (r.pt_id, r.poly_id)
            for r in sj.spatial_join_contains(
                points, polys, "x", "y", "wkt", cell_size=16.0
            ).collect()
        )

    unrolled = run()
    saved = (sj._UNROLL_MAX_POLYS, sj._SINGLE_RING)
    try:
        sj._UNROLL_MAX_POLYS = 0  # force tier 2 (HOF fold)
        hof = run()
        sj._SINGLE_RING = r"^NEVER$"  # force tier 3 (numpy kernel)
        numpy_tier = run()
    finally:
        sj._UNROLL_MAX_POLYS, sj._SINGLE_RING = saved
    assert unrolled == hof
    assert unrolled == numpy_tier
    assert len(unrolled) > 50  # the differential actually joined things


def test_self_join_pipelines_reuse_cached_relation(spark):
    """The relations feeding BOTH sides of the LSH/simhash candidate
    self-joins must come from the persisted intermediate (r4: without
    the persist each side re-derives the whole subtree and the join
    planner loses statistics — dedup_minhash ran 4x slower). The
    physical plan shows the cache as InMemoryTableScan on both sides."""
    for name in ("dedup_minhash", "dedup_simhash"):
        plan = plan_of(spark, name)
        assert plan.count("InMemoryTableScan") >= 2, name


def test_semantic_decontamination_pure_map(spark):
    """Embedding decontamination scores against inlined benchmark
    literals: the corpus pass must plan with no Exchange and no Join
    (the same zero-shuffle contract as IVF cell assignment)."""
    plan = plan_of(spark, "curation_semantic_decontaminated")
    assert "Exchange" not in plan and "Join" not in plan


def test_sql_text_tpch_same_plan_quality(spark):
    """The SQL-text TPC-H path must land on the SAME physical plan
    shapes as the DataFrame twins: q9 through Engine.sql still
    broadcasts the nation dim, splits partial/final aggregation, and
    pushes the LIKE filter to the part scan (reference: the planner is
    indifferent to the API the plan came from)."""
    plan = plan_of(spark, "tpch_sql_q9")
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan.lower() or "Partial" in plan
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan and "StringContains(p_name,red)" in plan


def test_tpcds_sql_rollup_rank_no_cartesian(spark):
    """q70 shape: the IN-subquery over a ranked aggregate must lower to
    a semi join (reference TransformUncorrelatedInPredicateSubqueryTo
    SemiJoin), never a cross product, and the ROLLUP runs as Expand +
    partial/final hash aggregation."""
    plan = plan_of(spark, "tpcds_sql_q70")
    assert "CartesianProduct" not in plan
    assert "Expand" in plan
    assert "HashAggregate" in plan


def test_tpcds_sql_rollup_expands_preaggregated_rows(spark):
    """r15 optimization gate: SQL-text ROLLUP blocks whose aggregates are
    all SUM/COUNT(*) pre-aggregate at the finest grouping BEFORE the
    Expand (guide §2.3 — Spark copies every Expand input row once per
    grouping set, so expanding raw fact rows multiplies the dominant
    stage; expanding finest-level partials is the same exact decimal
    arithmetic at a fraction of the rows: measured 2.2x less executor
    CPU on the q67 shape). The physical gate: every Expand node's input
    comes from an aggregation, never straight from the fact scan/join —
    i.e. a HashAggregate appears BELOW the Expand in the operator list."""
    for name in ("tpcds_sql_q67", "tpcds_sql_q36", "tpcds_sql_q5"):
        plan = plan_of(spark, name)
        # formatted explain lists operators leaves-last in the tree header;
        # use the numbered operator ids: Expand's child must be an agg
        header = plan.split("\n\n")[0]
        lines = header.splitlines()
        expand_idx = [i for i, l in enumerate(lines) if "Expand" in l]
        assert expand_idx, f"{name}: no Expand in plan"
        for i in expand_idx:
            below = "\n".join(lines[i + 1 :])
            assert "HashAggregate" in below, (
                f"{name}: Expand feeds on raw rows — the rollup pre-stage "
                "rewrite (plans/dialect.py::_rewrite_rollup_prestage) "
                "did not fire"
            )


def test_rollup_prestage_rewrite_gates():
    """The textual pre-stage rewrite fires only where it is provably
    value-identical: SUM-of-decimal-cast/COUNT(*) blocks rewrite; AVG,
    COUNT(x), SUM(DISTINCT), float-typed SUM arguments (r16 hardening:
    two-level double summation reorders), scalar subqueries, and
    composite grouping elements are left byte-identical."""
    from witdb_spark.plans.dialect import transpile

    DEC = "CAST(x AS DECIMAL(30,6))"
    fired = transpile(
        f"SELECT a, SUM({DEC}), COUNT(*) FROM t GROUP BY ROLLUP (a, b)"
    )
    assert "__roll_pre" in fired and "__roll_cnt" in fired
    for untouched in (
        "SELECT a, AVG(x) FROM t GROUP BY ROLLUP (a, b)",
        "SELECT a, COUNT(x) FROM t GROUP BY ROLLUP (a, b)",
        f"SELECT a, SUM(DISTINCT {DEC}) FROM t GROUP BY ROLLUP (a, b)",
        # r16 (ADVICE r15): SUM over a non-decimal-cast argument could be
        # a float — two-level summation would reorder it, so ineligible
        "SELECT a, SUM(x) FROM t GROUP BY ROLLUP (a, b)",
        f"SELECT a, SUM({DEC}), (SELECT MAX(y) FROM u) AS m FROM t "
        "GROUP BY ROLLUP (a, b)",
        f"SELECT a, SUM({DEC}) FROM t GROUP BY ROLLUP ((a, b), c)",
        f"SELECT DISTINCT a, SUM({DEC}) FROM t GROUP BY ROLLUP (a, b)",
        f"SELECT a, SUM({DEC}) FILTER (WHERE x > 0) FROM t "
        "GROUP BY ROLLUP (a)",
        # r16 (VERDICT r15): an aggregate NAME the rewrite does not know
        # positively (here percentile_cont) makes the block ineligible —
        # the old allowlist check was blind to unknown aggregates
        f"SELECT a, SUM({DEC}), PERCENTILE_CONT(a, 0.5) AS m FROM t "
        "GROUP BY ROLLUP (a, b)",
    ):
        assert "__roll_pre" not in transpile(untouched), untouched
    # HAVING over a decomposable SUM rides along
    hav = transpile(
        f"SELECT a, SUM({DEC}) FROM t GROUP BY ROLLUP (a, b) "
        f"HAVING SUM({DEC}) > 5"
    )
    assert "__roll_pre" in hav and "HAVING SUM(__roll_s0) > 5" in hav


def test_rollup_prestage_rewrites_order_by_tail():
    """ADVICE r15 (medium): the tail after the grouping keys belongs to
    the same block — ORDER BY SUM(...) must be rewritten to the partial
    alias (the spliced block no longer exposes raw columns), and a
    grouping-expression reference in ORDER BY must be renamed to its
    pre-stage alias. Text from a set operation onward is the next block
    and stays verbatim."""
    from witdb_spark.plans.dialect import transpile

    DEC = "CAST(x AS DECIMAL(30,6))"
    out = transpile(
        f"SELECT a, SUM({DEC}) AS s FROM t GROUP BY ROLLUP (a, b) "
        f"ORDER BY SUM({DEC}) DESC LIMIT 5"
    )
    assert "__roll_pre" in out
    assert "ORDER BY SUM(__roll_s0) DESC LIMIT 5" in out
    # grouping-expression reference in the tail renames to the alias
    out2 = transpile(
        f"SELECT year(d) AS yr, SUM({DEC}) AS s FROM t "
        f"GROUP BY ROLLUP (year(d), b) ORDER BY year(d)"
    )
    assert "__roll_pre" in out2 and "ORDER BY __roll_g0" in out2
    # a WINDOW clause in the tail -> whole block left alone
    out3 = transpile(
        f"SELECT a, SUM({DEC}) AS s FROM t GROUP BY ROLLUP (a, b) "
        "WINDOW w AS (PARTITION BY a)"
    )
    assert "__roll_pre" not in out3


def test_year_month_conjunction_rewrite():
    """r16: ``year(col) = Y AND month(col) = M`` collapses to one NTZ
    month range (12x tighter row-group pruning than the year range);
    mixed columns, invalid months and fractional literals are left to
    the year-only rewrite or untouched."""
    from witdb_spark.plans.dialect import (
        _rewrite_year_month_ranges,
        _rewrite_year_ranges,
        transpile,
    )

    out = _rewrite_year_month_ranges(
        "WHERE year(o_orderdate) = 1995 AND month(o_orderdate) = 12"
    )
    assert "TIMESTAMP_NTZ '1995-12-01 00:00:00'" in out
    assert "TIMESTAMP_NTZ '1996-01-01 00:00:00'" in out
    assert "month(" not in out
    # different columns in the two halves: month rewrite must not fire
    mixed = "WHERE year(o_orderdate) = 1995 AND month(l_shipdate) = 12"
    assert _rewrite_year_month_ranges(mixed) == mixed
    # invalid month: left for the year-only rewrite
    bad = "WHERE year(ts) = 1995 AND month(ts) = 13"
    assert _rewrite_year_month_ranges(bad) == bad
    # fractional year literal never matches partially (ADVICE r15)
    frac = "WHERE year(l_shipdate) BETWEEN 1995 AND 1997.5"
    assert _rewrite_year_ranges(frac) == frac
    frac2 = "WHERE year(l_shipdate) = 1996.5"
    assert _rewrite_year_ranges(frac2) == frac2
    # NOT binds tighter than AND: it negates only the year comparison,
    # so the conjunction must not collapse into one negated month range
    neg = "WHERE NOT year(o_orderdate) = 1995 AND month(o_orderdate) = 3"
    assert _rewrite_year_month_ranges(neg) == neg
    out = transpile("SELECT o_orderkey FROM orders " + neg)
    assert (
        "NOT (o_orderdate >= TIMESTAMP_NTZ '1995-01-01 00:00:00'"
        " AND o_orderdate < TIMESTAMP_NTZ '1996-01-01 00:00:00')"
        " AND month(o_orderdate) = 3"
    ) in out


def test_decimal_typed_cols_reach_fixpoint():
    """A name is decimal only if its whole alias chain grounds out in a
    decimal expression: a 7-hop chain rooted at a DOUBLE must be
    removed link by link until none of it is left."""
    from witdb_spark.plans.dialect import _decimal_typed_cols

    hops = ["c0 AS (SELECT CAST(l_quantity AS DOUBLE) AS a0 FROM lineitem)"]
    hops += [f"c{i} AS (SELECT a{i - 1} AS a{i} FROM c{i - 1})" for i in range(1, 8)]
    chain = "WITH " + ", ".join(hops) + " SELECT SUM(a7) AS s FROM c7"
    assert _decimal_typed_cols(chain) == frozenset()
    grounded = chain.replace("AS DOUBLE", "AS DECIMAL(30,6)")
    assert {"a0", "a7"} <= _decimal_typed_cols(grounded)


def test_comments_do_not_flip_quote_tracking():
    """An apostrophe inside a comment is not a string delimiter: the
    rewrites after it still see code."""
    from witdb_spark.plans.dialect import transpile

    out = transpile("SELECT x -- it's\n, ARRAY[1,2][1] FROM t")
    assert "element_at(array(1,2), 1)" in out
    out2 = transpile("SELECT /* don't */ ARRAY[1,2][1], element_at(m, 'k') FROM t")
    assert "element_at(array(1,2), 1)" in out2
    assert "try_element_at(m, 'k')" in out2
    # the comments themselves pass through verbatim
    assert "-- it's\n" in out and "/* don't */" in out2


def test_year_predicate_pushes_date_bounds(spark):
    """r15 optimization gate: sargable year() predicates in SQL texts
    reach the parquet scan as NTZ range bounds (guide §6 — a function
    of the column never pushes, so year(l_shipdate) = 1996 used to scan
    and decode every row group; the range spelling prunes on row-group
    statistics and, at production scale, on date partitions)."""
    plan = plan_of(spark, "tpcds_sql_q62")
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan
    assert "LessThan(l_shipdate,1997-01-01" in plan


def test_year_range_rewrite_gates():
    """The year()->range rewrite fires only where it is provably
    value-identical: catalog NTZ columns compared to integer literal
    years. Non-literal comparisons, other columns, aliased names, and
    string literals are left byte-identical."""
    from witdb_spark.plans.dialect import _rewrite_year_ranges

    out = _rewrite_year_ranges("WHERE year(o_orderdate) = 1996")
    assert "TIMESTAMP_NTZ '1996-01-01 00:00:00'" in out
    assert "TIMESTAMP_NTZ '1997-01-01 00:00:00'" in out
    # contiguous IN collapses to one range; gapped IN keeps per-year ORs
    one = _rewrite_year_ranges("WHERE year(l_shipdate) IN (1996, 1997)")
    assert one.count(">=") == 1 and "1998-01-01" in one
    two = _rewrite_year_ranges("WHERE year(l_shipdate) IN (1995, 1997)")
    assert two.count(" OR ") == 1
    for untouched in (
        "WHERE year(o_orderdate) = (SELECT 1 FROM x)",  # non-literal
        "WHERE year(sr.r_date) = 1998",  # not a catalog NTZ column
        "WHERE year(o_orderdate) NOT IN (1996)",  # NOT form
        "SELECT CAST(year(o_orderdate) AS INTEGER) AS yr FROM o",  # no cmp
        "SELECT 'year(o_orderdate) = 1996' AS s",  # string literal
        # the query re-aliases the name: type no longer guaranteed
        "SELECT x AS o_orderdate, year(o_orderdate) = 1996 FROM t",
    ):
        assert _rewrite_year_ranges(untouched) == untouched, untouched


def test_geometry_union_agg_two_stage(spark):
    """geometry_union_agg: two applyInPandas stages (partial unions per
    salted subgroup below the wide exchange, final merge above) and no
    cartesian — the reference's partial/final accumulator split."""
    import re

    plan = plan_of(spark, "geometry_union_agg_rollup")
    nodes = set(re.findall(r"\((\d+)\) FlatMapGroupsInPandas", plan))
    assert len(nodes) == 2
    assert "CartesianProduct" not in plan


def test_pattern_window_single_operator_pass(spark):
    """Pattern-WINDOW lowering: exactly one vectorized operator pass
    (MapInPandas scan inside the match_recognize operator) and a left
    join hanging the per-start-row measures on the source — no
    cartesian, no second pattern pass."""
    import re

    plan = plan_of(spark, "mr_pattern_window")
    nodes = set(re.findall(r"\((\d+)\) MapInPandas", plan))
    # r9: eligible patterns compile to the JVM runs plan (0 Python
    # operators); either way there is never a SECOND pattern pass
    assert len(nodes) <= 1
    assert "CartesianProduct" not in plan


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketed co-located join (reference plugin/trino-hive
    HiveBucketProperty / bucketed execution): two tables bucketed by the
    same key and count join WITHOUT an Exchange on either side — the
    100 TB fact-fact join strategy. Sorted buckets also drop the
    per-task Sort."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    from witdb_spark.catalog import Tables
    from witdb_spark.sources.io import write_bucketed

    t = Tables(spark, SF_DIR)
    write_bucketed(
        t.orders.select("o_orderkey", "o_totalprice"),
        "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"],
    )
    write_bucketed(
        t.lineitem.select("l_orderkey", "l_quantity"),
        "b_lineitem", ["l_orderkey"], 8, sort_cols=["l_orderkey"],
    )
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_orders").join(
                spark.table("b_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            plan = joined._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            # correctness: bucketed join == plain join
            n_bucketed = joined.count()
            n_plain = (
                t.orders.join(
                    t.lineitem,
                    F.col("o_orderkey") == F.col("l_orderkey"),
                ).count()
            )
            assert n_bucketed == n_plain
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_sketch_sql_names_partial_final_split(spark):
    """The SQL-name build sketches must plan PARTIAL -> FINAL (reference
    sql/planner/plan/AggregationNode.java:347 Step.PARTIAL/FINAL): the
    transpiler splits qdigest_agg/approx_set GROUP BY blocks into a
    salted partial aggregation plus a blob-merge final aggregation
    (plans/dialect.py::_rewrite_sketch_two_level), so a low-cardinality
    GROUP BY at 100 TB never funnels a whole group's raw rows into one
    Python task — only constant-size digest blobs cross the second
    exchange."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    for text, merge_name in [
        (
            "SELECT l_returnflag, qdigest_agg(l_extendedprice) AS d"
            " FROM lineitem GROUP BY l_returnflag",
            "merge_qdigest",
        ),
        (
            "SELECT approx_set(l_orderkey) AS h FROM lineitem",
            "merge_hll",
        ),
    ]:
        df = eng.sql(text)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # two pandas aggregate levels: salted partial, then blob merge
        assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan)) == 2, plan
        assert merge_name in plan, plan
        # the partial level groups by the salt too
        assert "pmod" in plan.lower(), plan


def test_sketch_split_leaves_complex_shapes_alone(spark):
    """Shapes the two-level rewrite cannot prove safe (window functions,
    HAVING, unaliased aggregates) keep the single-level plan — a
    conservative fallback, never an error."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    # unaliased sketch aggregate: output name would change under a
    # rewrite, so the transpiler must leave it single-level
    df = eng.sql(
        "SELECT l_returnflag, qdigest_agg(l_extendedprice)"
        " FROM lineitem GROUP BY l_returnflag"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan)) == 1, plan


def test_sketch_split_filter_and_having_spellings(spark):
    """r7: the two spellings a real user hits first still split
    PARTIAL -> FINAL — FILTER (WHERE p) on the sketch argument (folded
    to CASE WHEN, sketch aggs skip NULLs) and HAVING on a group-key
    column (hoisted into the source WHERE). Reference
    sql/planner/plan/AggregationNode.java:347 plans both PARTIAL/FINAL."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    for text in [
        "SELECT l_returnflag, approx_set(l_orderkey)"
        " FILTER (WHERE l_quantity > 10) AS h"
        " FROM lineitem GROUP BY l_returnflag",
        "SELECT l_returnflag, approx_set(l_orderkey) AS h"
        " FROM lineitem GROUP BY l_returnflag"
        " HAVING l_returnflag IN ('A', 'R')",
    ]:
        df = eng.sql(text)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan)) == 2, plan
        assert "merge_hll" in plan, plan
    # correctness: approx_set merges are exact under any split, so both
    # spellings must agree with the unsplit equivalents
    got = {
        r["l_returnflag"]: r["c"]
        for r in eng.sql(
            "SELECT l_returnflag, hll_cardinality(approx_set(l_orderkey)"
            " FILTER (WHERE l_quantity > 10)) AS c"
            " FROM lineitem GROUP BY l_returnflag"
        ).collect()
    }
    exact = {
        r["l_returnflag"]: r["c"]
        for r in spark.sql(
            "SELECT l_returnflag,"
            " COUNT(DISTINCT CASE WHEN l_quantity > 10"
            " THEN l_orderkey END) AS c"
            " FROM parquet.`%s/lineitem.parquet`"
            " GROUP BY l_returnflag" % SF_DIR
        ).collect()
    }
    assert set(got) == set(exact)
    # per-key values, not just key sets: a wrong CASE-WHEN fold that
    # returned bad counts must fail. approx_set's HLL (4096 buckets,
    # ~1.6% standard error) tracks the exact distinct count closely at
    # this cardinality; 5% + 5 absolute covers it with margin.
    for k, v in exact.items():
        assert abs(got[k] - v) <= max(5, 0.05 * v), (k, got[k], v)
    having = {
        r["l_returnflag"]: r["c"]
        for r in eng.sql(
            "SELECT l_returnflag,"
            " hll_cardinality(approx_set(l_orderkey)) AS c"
            " FROM lineitem GROUP BY l_returnflag"
            " HAVING l_returnflag IN ('A', 'R')"
        ).collect()
    }
    assert set(having) == {"A", "R"}


def test_sketch_split_mixed_aggregates(spark):
    """r8: mixed-aggregate blocks — a sketch build alongside JVM
    aggregates. Spark rejects GROUPED_AGG pandas UDFs mixed with JVM
    aggregates in ONE aggregation (INVALID_PANDAS_UDF_PLACEMENT) at any
    level, so these queries previously could not run at all; the rewrite
    puts the JVM co-aggs in their own native aggregation tree joined back
    on null-safe group keys while the sketch tree still splits
    PARTIAL -> FINAL. The zero-row GLOBAL corner keeps count(*) = 0
    (the JVM tree is a native global aggregation)."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    df = eng.sql(
        "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sq,"
        " min(l_shipdate) AS d0, max(l_shipdate) AS d1,"
        " hll_cardinality(approx_set(l_orderkey)) AS c"
        " FROM lineitem GROUP BY l_returnflag"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan)) == 2, plan
    got = {r["l_returnflag"]: r for r in df.collect()}
    want = {
        r["l_returnflag"]: r
        for r in spark.sql(
            "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sq,"
            " min(l_shipdate) AS d0, max(l_shipdate) AS d1,"
            " COUNT(DISTINCT l_orderkey) AS c"
            " FROM parquet.`%s/lineitem.parquet`"
            " GROUP BY l_returnflag" % SF_DIR
        ).collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert (g["n"], g["sq"], g["d0"], g["d1"]) == (
            w["n"], w["sq"], w["d0"], w["d1"],
        ), (k, g, w)
        assert abs(g["c"] - w["c"]) <= max(5, 0.05 * w["c"]), (k, g, w)
    # zero-row global aggregation: count is 0, not NULL
    row = eng.sql(
        "SELECT count(*) AS n, approx_set(l_orderkey) AS h"
        " FROM lineitem WHERE l_quantity < 0"
    ).collect()
    assert len(row) == 1 and row[0]["n"] == 0 and row[0]["h"] is None
    # non-decomposable JVM aggregates (avg, stddev) ride the JVM tree
    # natively — no textual decomposition needed
    got2 = {
        r["l_returnflag"]: (r["a"], r["s"])
        for r in eng.sql(
            "SELECT l_returnflag, avg(l_quantity) AS a,"
            " stddev(l_quantity) AS s, approx_set(l_orderkey) AS h"
            " FROM lineitem GROUP BY l_returnflag"
        ).collect()
    }
    want2 = {
        r["l_returnflag"]: (r["a"], r["s"])
        for r in spark.sql(
            "SELECT l_returnflag, avg(l_quantity) AS a,"
            " stddev(l_quantity) AS s"
            " FROM parquet.`%s/lineitem.parquet`"
            " GROUP BY l_returnflag" % SF_DIR
        ).collect()
    }
    assert got2 == want2
    # wrapped build with a literal-only trailing arg in a mixed block:
    # the wrapper and its ARRAY argument move to the merge level
    df3 = eng.sql(
        "SELECT l_returnflag, count(*) AS n,"
        " values_at_quantiles(qdigest_agg(l_extendedprice),"
        " ARRAY[0.25, 0.75]) AS q"
        " FROM lineitem GROUP BY l_returnflag"
    )
    plan3 = df3._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan3)) == 2, plan3
    rows3 = df3.collect()
    assert {r["l_returnflag"] for r in rows3} == {"A", "N", "R"}
    for r in rows3:
        assert r["n"] > 0 and len(r["q"]) == 2 and r["q"][0] <= r["q"][1]
    # nondeterministic source: the two-scan mixed split must bail
    # (surfacing Spark's own mixed-placement analysis error), never
    # silently feed the two trees different rows
    import pytest as _pytest

    with _pytest.raises(Exception, match="INVALID_PANDAS_UDF_PLACEMENT"):
        eng.sql(
            "SELECT count(*) AS n, approx_set(l_orderkey) AS h"
            " FROM lineitem WHERE rand() < 0.5"
        ).collect()


def test_sketch_split_order_by_limit_hoist(spark):
    """r8: outer ORDER BY [LIMIT] — the spelling a report writer uses —
    hoists past the two-level split (ordering runs after aggregation);
    an aggregate expression in ORDER BY still bails to single-level."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    df = eng.sql(
        "SELECT l_returnflag, approx_set(l_orderkey) AS h"
        " FROM lineitem GROUP BY l_returnflag"
        " ORDER BY l_returnflag DESC LIMIT 2"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan)) == 2, plan
    # correctness: exact HLL merge -> identical to the unordered split
    rows = df.collect()
    assert [r["l_returnflag"] for r in rows] == ["R", "N"]
    want = {
        r["l_returnflag"]: r["c"]
        for r in eng.sql(
            "SELECT l_returnflag, hll_cardinality(approx_set(l_orderkey))"
            " AS c FROM lineitem GROUP BY l_returnflag"
        ).collect()
    }
    got = {
        r["l_returnflag"]: r["c"]
        for r in eng.sql(
            "SELECT l_returnflag, hll_cardinality(approx_set(l_orderkey))"
            " AS c FROM lineitem GROUP BY l_returnflag"
            " ORDER BY l_returnflag DESC LIMIT 2"
        ).collect()
    }
    assert got == {k: want[k] for k in ("R", "N")}
    # ORDER BY over a non-bare expression bails to single-level (an
    # aggregate expression like count(*) would also bail the hoist,
    # but Spark refuses mixing a pandas UDAF with built-in aggregates
    # in EITHER shape, so probe with a scalar expression)
    df2 = eng.sql(
        "SELECT l_returnflag, approx_set(l_orderkey) AS h"
        " FROM lineitem GROUP BY l_returnflag"
        " ORDER BY upper(l_returnflag)"
    )
    plan2 = df2._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan2)) == 1, plan2
    # ORDER BY a group key that is NOT an output column: the hoist must
    # bail (the key is unresolvable above the rewritten block) and the
    # valid single-level query still runs
    df3 = eng.sql(
        "SELECT approx_set(l_orderkey) AS h"
        " FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    plan3 = df3._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan3)) == 1, plan3
    assert len(df3.collect()) == 3


def test_qdigest_weighted_two_level(spark):
    """r8: the ALIASED weighted build splits PARTIAL->FINAL like the
    unweighted one (plans/dialect.py routes qdigest_agg(x, w) to the
    qdigest_agg_w UDAF; _SKETCH_BUILD_FORMS salts on the VALUE
    argument), and the merged digest's median tracks the exact
    weighted median."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    df = eng.sql(
        "SELECT l_returnflag, qdigest_agg(l_extendedprice, l_quantity)"
        " AS d FROM lineitem GROUP BY l_returnflag"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan)) == 2, plan
    assert "merge_qdigest" in plan and "qdigest_agg_w" in plan, plan
    got = {
        r["l_returnflag"]: r["m"]
        for r in eng.sql(
            "SELECT l_returnflag,"
            " value_at_quantile(qdigest_agg(l_extendedprice, l_quantity),"
            " 0.5) AS m FROM lineitem GROUP BY l_returnflag"
        ).collect()
    }
    # exact weighted median via explode-by-weight (weights are small
    # integer quantities)
    exact = {
        r["l_returnflag"]: r["m"]
        for r in spark.sql(
            "SELECT l_returnflag, percentile(l_extendedprice, 0.5,"
            " CAST(l_quantity AS INT)) AS m"
            " FROM parquet.`%s/lineitem.parquet`"
            " GROUP BY l_returnflag" % SF_DIR
        ).collect()
    }
    for k, v in exact.items():
        assert abs(got[k] - v) / v < 0.05, (k, got[k], v)


def test_tdigest_weighted_two_level(spark):
    """r8: the ALIASED weighted t-digest build splits PARTIAL->FINAL
    (plans/dialect.py routes tdigest_agg(x, w) to the tdigest_agg_w
    UDAF; _SKETCH_BUILD_FORMS salts on the VALUE argument), and the
    merged digest's median tracks the exact weighted median."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    df = eng.sql(
        "SELECT l_returnflag, tdigest_agg(l_extendedprice, l_quantity)"
        " AS d FROM lineitem GROUP BY l_returnflag"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan)) == 2, plan
    assert "merge_tdigest" in plan and "tdigest_agg_w" in plan, plan
    got = {
        r["l_returnflag"]: r["m"]
        for r in eng.sql(
            "SELECT l_returnflag, tdigest_value_at_quantile("
            " tdigest_agg(l_extendedprice, l_quantity), 0.5) AS m"
            " FROM lineitem GROUP BY l_returnflag"
        ).collect()
    }
    exact = {
        r["l_returnflag"]: r["m"]
        for r in spark.sql(
            "SELECT l_returnflag, percentile(l_extendedprice, 0.5,"
            " CAST(l_quantity AS INT)) AS m"
            " FROM parquet.`%s/lineitem.parquet`"
            " GROUP BY l_returnflag" % SF_DIR
        ).collect()
    }
    for k, v in exact.items():
        assert abs(got[k] - v) / v < 0.05, (k, got[k], v)


def test_sketch_distinct_rewrite():
    """qdigest_agg(DISTINCT x) spellings fold to a dedup-first subquery
    (plans/dialect.py::_rewrite_sketch_distinct) — including inside
    reader scalars — and bail (unchanged) whenever the rewrite could
    change semantics. Pure-rewrite test, no Spark session."""
    from witdb_spark.plans.dialect import _rewrite_sketch_distinct as rw

    got = rw(
        "SELECT g, qdigest_agg(DISTINCT x) AS d,"
        " count(DISTINCT x) AS n FROM t WHERE y > 1 GROUP BY g"
    )
    assert "SELECT DISTINCT g, x AS __dx FROM t WHERE y > 1" in got
    assert "qdigest_agg(__dx) AS d" in got and "count(__dx) AS n" in got
    # reader-wrapped build folds too
    got = rw(
        "SELECT g, value_at_quantile(qdigest_agg(DISTINCT x), 0.5) AS m"
        " FROM t GROUP BY g"
    )
    assert "value_at_quantile(qdigest_agg(__dx), 0.5) AS m" in got
    # bails: two different DISTINCT args; dangling raw column in item;
    # mixed plain+distinct builds; plain count co-aggregate
    for sql in (
        "SELECT qdigest_agg(DISTINCT a) AS d, count(DISTINCT b) AS n"
        " FROM t",
        "SELECT g, value_at_quantile(qdigest_agg(DISTINCT x), y) AS p"
        " FROM t GROUP BY g",
        "SELECT qdigest_agg(DISTINCT a) AS d, tdigest_agg(b) AS t2"
        " FROM t GROUP BY g",
        "SELECT g, qdigest_agg(DISTINCT x) AS d, count(*) AS n"
        " FROM t GROUP BY g",
    ):
        assert rw(sql) == sql, sql


def test_qdigest_distinct_two_level(spark):
    """The ALIASED DISTINCT build composes: dedup-first fold, then the
    PARTIAL->FINAL split over the deduped source — and the median
    tracks the exact distinct-value median."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    df = eng.sql(
        "SELECT l_returnflag, qdigest_agg(DISTINCT l_extendedprice)"
        " AS d FROM lineitem GROUP BY l_returnflag"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan)) == 2, plan
    assert "merge_qdigest" in plan, plan
    got = {
        r["l_returnflag"]: r["m"]
        for r in eng.sql(
            "SELECT l_returnflag, value_at_quantile("
            "qdigest_agg(DISTINCT l_extendedprice), 0.5) AS m"
            " FROM lineitem GROUP BY l_returnflag"
        ).collect()
    }
    exact = {
        r["l_returnflag"]: r["m"]
        for r in spark.sql(
            "SELECT l_returnflag, percentile(v, 0.5) AS m FROM"
            " (SELECT DISTINCT l_returnflag, l_extendedprice AS v"
            "  FROM parquet.`%s/lineitem.parquet`) GROUP BY l_returnflag"
            % SF_DIR
        ).collect()
    }
    for k, v in exact.items():
        assert abs(got[k] - v) / v < 0.05, (k, got[k], v)


def test_generic_merge_rewrite():
    """Type-overloaded merge(sketch) resolves from the producing
    build's alias at transpile time (plans/dialect.py::
    _rewrite_generic_merge); untraceable or ambiguous arguments raise
    with the type-suffixed remedy; MERGE INTO statements and string
    literals are untouched. Pure-rewrite test, no Spark session."""
    import pytest

    from witdb_spark.plans.dialect import (
        UnsupportedTrinoSyntax,
        _rewrite_generic_merge,
    )

    got = _rewrite_generic_merge(
        "SELECT value_at_quantile(merge(d), 0.5) FROM"
        " (SELECT qdigest_agg(v) AS d FROM t GROUP BY g) x"
    )
    assert "merge_qdigest(d)" in got and "merge(d)" not in got
    # chained merges resolve through the fixpoint loop
    got = _rewrite_generic_merge(
        "SELECT merge(m) FROM (SELECT merge(d) AS m FROM"
        " (SELECT tdigest_agg(v) AS d FROM t GROUP BY g) a GROUP BY h) b"
    )
    assert got.count("merge_tdigest(") == 2
    # qualified references; hll + setdigest forms
    got = _rewrite_generic_merge(
        "SELECT hll_cardinality(merge(p.h)) AS c, merge(p.sd) AS s FROM"
        " (SELECT approx_set(k) AS h, make_set_digest(k) AS sd FROM t) p"
    )
    assert "merge_hll(p.h)" in got and "merge_set_digest(p.sd)" in got
    # a blob column with no visible producer cannot be typed
    with pytest.raises(UnsupportedTrinoSyntax, match="merge_qdigest"):
        _rewrite_generic_merge("SELECT merge(blob_col) FROM stored")
    # one alias fed by two sketch types is ambiguous
    with pytest.raises(UnsupportedTrinoSyntax):
        _rewrite_generic_merge(
            "SELECT merge(d) FROM (SELECT qdigest_agg(v) AS d FROM a"
            " UNION ALL SELECT tdigest_agg(v) AS d FROM b) u"
        )
    # MERGE INTO and string literals are not merge(sketch) calls
    stmt = (
        "MERGE INTO t USING s ON t.k = s.k"
        " WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    assert _rewrite_generic_merge(stmt) == stmt
    lit = "SELECT 'call merge(x) here' AS note FROM t"
    assert _rewrite_generic_merge(lit) == lit


def test_generic_merge_end_to_end(spark):
    """merge() over an HLL built by approx_set matches the exact
    distinct count within HLL tolerance, through Engine.sql."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    got = eng.sql(
        "SELECT hll_cardinality(merge(h)) AS c FROM"
        " (SELECT l_returnflag, approx_set(l_orderkey) AS h"
        "  FROM lineitem GROUP BY l_returnflag) per_flag"
    ).collect()[0]["c"]
    exact = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    assert abs(got - exact) / exact < 0.1, (got, exact)


def test_sketch_split_comment_guard():
    """A '--' line comment in the source bails the two-level rewrite
    (the reassembly is single-line, so appended WHERE/GROUP BY text
    would land inside the comment); '--' inside a string literal does
    not bail. Pure-rewrite test, no Spark session needed."""
    from witdb_spark.plans.dialect import (
        _rewrite_sketch_filter,
        _rewrite_sketch_two_level,
    )

    commented = (
        "SELECT l_returnflag, qdigest_agg(l_extendedprice) AS d"
        " FROM lineitem WHERE l_quantity = 1 -- note\n"
        "GROUP BY l_returnflag HAVING l_returnflag IN ('A')"
    )
    assert _rewrite_sketch_two_level(commented) == commented
    in_string = (
        "SELECT l_returnflag, qdigest_agg(l_extendedprice) AS d"
        " FROM lineitem WHERE l_comment <> 'a--b' GROUP BY l_returnflag"
    )
    assert "__sk_part" in _rewrite_sketch_two_level(in_string)
    # multi-arg FILTER fold wraps only the value argument
    assert _rewrite_sketch_filter(
        "SELECT qdigest_agg(x, w) FILTER (WHERE p > 1) AS d FROM t"
    ) == "SELECT qdigest_agg(CASE WHEN p > 1 THEN x END, w) AS d FROM t"


def test_late_r8_pipeline_plans(spark):
    """Scale shapes of the late-r8 pipeline tier: the Gopher quality
    flags are a pure map (zero Exchange); concat-chunk packing plans ONE
    window exchange on the packing partition plus the chunk aggregation;
    the bigram LM scorer and temperature mix never plan a cartesian and
    keep broadcast joins on the broadcast-sized sides."""
    plan = plan_of(spark, "text_gopher_quality")
    assert "Exchange" not in plan
    assert "Python" not in plan  # no UDFs — whole-stage JVM

    plan = plan_of(spark, "pipeline_pack_concat")
    import re as _re

    assert len(_re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan and "partial_" in plan

    for q in ("text_bigram_logprob", "curation_temperature_mix"):
        plan = plan_of(spark, q)
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan, q
    # the corpus side of the temperature-mix filter joins BROADCAST
    # (quota table is ~|sources| rows): the corpus itself never shuffles
    plan = plan_of(spark, "curation_temperature_mix")
    assert "BroadcastHashJoin" in plan


def test_sketch_mixed_split_randomized_consistency(spark):
    """Randomized lock on the mixed-aggregate split: for a spread of
    co-aggregate combinations, group keys, and filters, every JVM
    co-aggregate through the rewritten mixed query must equal the plain
    Spark aggregation, and the HLL stays within tolerance of the exact
    distinct count. approx_set merges are exact, so any disagreement is
    a rewrite bug, not sketch noise. Deterministic case list (no RNG —
    resume/replay safe), chosen to cross every co-agg family with
    grouped/global and filtered/unfiltered shapes."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    cases = [
        ("l_returnflag", "count(*) AS a, avg(l_quantity) AS b", ""),
        ("l_linestatus", "sum(l_quantity) AS a, min(l_shipdate) AS b",
         "WHERE l_quantity > 25"),
        ("l_returnflag, l_linestatus",
         "max(l_extendedprice) AS a, stddev_samp(l_discount) AS b", ""),
        ("", "count(l_suppkey) AS a, var_pop(l_tax) AS b",
         "WHERE l_orderkey % 3 = 0"),
        ("l_linenumber", "count_if(l_quantity > 25) AS a, bool_or(l_tax > 0.05) AS b",
         "WHERE l_shipdate >= DATE '1996-01-01'"),
    ]
    for keys, aggs, where in cases:
        group = f" GROUP BY {keys}" if keys else ""
        sel_keys = f"{keys}, " if keys else ""
        mixed = eng.sql(
            f"SELECT {sel_keys}{aggs},"
            " hll_cardinality(approx_set(l_partkey)) AS h"
            f" FROM lineitem {where}{group}"
        ).collect()
        plain = spark.sql(
            f"SELECT {sel_keys}{aggs},"
            " COUNT(DISTINCT l_partkey) AS h"
            f" FROM parquet.`{SF_DIR}/lineitem.parquet` {where}{group}"
        ).collect()
        kn = [k.strip() for k in keys.split(",") if k.strip()]
        # a join fan-out regression would emit duplicate group rows that
        # a dict-collapse alone could not see
        assert len(mixed) == len(plain), (keys, aggs, where)
        gm = {tuple(r[k] for k in kn): r for r in mixed}
        gp = {tuple(r[k] for k in kn): r for r in plain}
        assert set(gm) == set(gp), (keys, aggs, where)
        for key, rp in gp.items():
            rm = gm[key]
            for col in ("a", "b"):
                x, y = rm[col], rp[col]
                if isinstance(x, float):
                    # double aggregation is partition-order sensitive
                    # (stddev/var especially); the two plans sum in
                    # different orders, so equality holds to ~1e-9 rel
                    assert x == y or abs(x - y) <= 1e-9 * max(
                        abs(x), abs(y)
                    ), (keys, aggs, where, key, col, x, y)
                else:
                    assert x == y, (keys, aggs, where, key, col, x, y)
            assert abs(rm["h"] - rp["h"]) <= max(5, 0.05 * rp["h"]), (
                keys, aggs, where, key,
            )


def test_weighted_filter_fold_splits(spark):
    """qdigest_agg(x, w) FILTER (WHERE p): the fold injects
    CASE WHEN p THEN x END into the VALUE argument, whose comparison
    operator must not break the arg-arity parsing (r8: the angle-bracket
    splitter did exactly that) — the weighted build still plans
    PARTIAL -> FINAL and the digest tracks the filtered exact median."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    df = eng.sql(
        "SELECT l_returnflag,"
        " value_at_quantile(qdigest_agg(l_extendedprice, l_quantity)"
        " FILTER (WHERE l_quantity > 10), 0.5) AS med"
        " FROM lineitem GROUP BY l_returnflag"
    )
    got = {r["l_returnflag"]: r["med"] for r in df.collect()}
    assert set(got) == {"A", "N", "R"}
    # sanity: the filtered weighted median is within a loose band of the
    # exact weighted median over the same filtered rows
    rows = spark.sql(
        "SELECT l_returnflag, l_extendedprice, l_quantity"
        f" FROM parquet.`{SF_DIR}/lineitem.parquet`"
        " WHERE l_quantity > 10"
    ).collect()
    from collections import defaultdict

    per = defaultdict(list)
    for r in rows:
        per[r["l_returnflag"]].append(
            (r["l_extendedprice"], r["l_quantity"])
        )
    for flag, pairs in per.items():
        pairs.sort()
        tot = sum(w for _, w in pairs)
        cum, med = 0, pairs[-1][0]
        for v, w in pairs:
            cum += w
            if cum >= tot / 2:
                med = v
                break
        assert abs(got[flag] - med) <= 0.1 * med, (flag, got[flag], med)
    # the unaliased plain split still planning two levels under FILTER
    plan = eng.sql(
        "SELECT l_returnflag, qdigest_agg(l_extendedprice, l_quantity)"
        " FILTER (WHERE l_quantity > 10) AS d"
        " FROM lineitem GROUP BY l_returnflag"
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan)) == 2, plan


def test_sketch_rewrites_bare_offset():
    """r9 (ADVICE): a bare OFFSET n — no LIMIT, no ORDER BY — must not
    leak into the rewritten blocks. The two-level split bails (the
    OFFSET would otherwise strand inside the partial subquery as
    unparseable SQL); the DISTINCT fold hoists it to the outer select
    so it still applies AFTER the aggregation. Pure-rewrite test."""
    from witdb_spark.plans.dialect import (
        _rewrite_sketch_distinct,
        _rewrite_sketch_two_level,
    )

    bare = (
        "SELECT g, qdigest_agg(x) AS d FROM t GROUP BY g OFFSET 2"
    )
    assert _rewrite_sketch_two_level(bare) == bare
    got = _rewrite_sketch_distinct(
        "SELECT qdigest_agg(DISTINCT x) AS d FROM t OFFSET 1"
    )
    assert "qdigest_agg(__dx)" in got
    inner = got[got.index("(") : got.rindex(")")]
    assert "OFFSET" not in inner.upper(), got
    assert got.rstrip().upper().endswith("OFFSET 1"), got
    # LIMIT n OFFSET m (the already-supported spelling) still splits
    lim_off = (
        "SELECT g, qdigest_agg(x) AS d FROM t GROUP BY g"
        " ORDER BY g LIMIT 3 OFFSET 1"
    )
    two = _rewrite_sketch_two_level(lim_off)
    assert "__sk_part" in two and two.rstrip().upper().endswith("OFFSET 1")


def test_generic_merge_scope_collision_poisons():
    """r9 (ADVICE): alias inference is statement-wide, so an alias that
    is ALSO produced by a non-sketch select item anywhere in the
    statement must poison inference (raise with the type-suffixed
    remedy) rather than silently rewrite merge(d) to the wrong type."""
    import pytest

    from witdb_spark.plans.dialect import (
        UnsupportedTrinoSyntax,
        _rewrite_generic_merge,
    )

    with pytest.raises(UnsupportedTrinoSyntax):
        _rewrite_generic_merge(
            "SELECT (SELECT merge(d) FROM"
            " (SELECT qdigest_agg(v) AS d FROM a GROUP BY g) x) AS q,"
            " (SELECT merge(d) FROM"
            " (SELECT plain_col AS d FROM b) y) AS p"
            " FROM t"
        )
    # a cast's AS <type> is not an alias collision for normal names
    got = _rewrite_generic_merge(
        "SELECT merge(d) FROM (SELECT qdigest_agg(CAST(v AS double))"
        " AS d FROM t GROUP BY g) x"
    )
    assert "merge_qdigest(d)" in got


def test_mr_runs_fast_path_plan(spark):
    """r9 (VERDICT r8 task 6): unambiguous MATCH_RECOGNIZE patterns —
    concatenations of distinct, statically-exclusive labels (the
    mr_funnel shape) — compile to a pure JVM runs plan: NO MapInPandas,
    no Python in the task. Ambiguous shapes (navigation DEFINEs,
    overlapping predicates, alternation) still route to the VM."""
    from witdb_spark.operators.match_recognize import match_recognize
    from witdb_spark.queries import QUERIES

    def fmt(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )

    plan = fmt(QUERIES["mr_funnel"].fn(spark, SF_DIR))
    assert "MapInPandas" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    # the VM path still serves patterns the fast path must refuse:
    # PREV() navigation is not a static-equality DEFINE
    ev = spark.range(0, 50).selectExpr(
        "id % 5 AS k", "id AS seq", "CAST(id % 7 AS DOUBLE) AS v"
    )
    vm = match_recognize(
        ev, ["k"], "seq",
        {"D": "v < PREV(v)", "U": "v > PREV(v)"},
        "D+ U",
    )
    assert "MapInPandas" in fmt(vm)
    # an alternation whose label set OVERLAPS another element's is
    # ambiguous -> VM (a row's element index is not fixed by its label)
    tyv = ev.selectExpr(
        "k", "seq",
        "CASE WHEN v > 4 THEN 'a' WHEN v > 2 THEN 'b' ELSE 'c' END AS ty",
    )
    alt = match_recognize(
        tyv, ["k"], "seq",
        {"A": "ty = 'a'", "B": "ty = 'b'"},
        "A (A | B) B",
    )
    assert "MapInPandas" in fmt(alt)
    # r10 (VERDICT r9 task 7): a DISJOINT alternation element is a
    # super-label — (A|B)+ C rides the runs fast path
    alt2 = match_recognize(
        tyv, ["k"], "seq",
        {"A": "ty = 'a'", "B": "ty = 'b'", "C": "ty = 'c'"},
        "(A | B)+ C",
    )
    assert "MapInPandas" not in fmt(alt2), fmt(alt2)
    # r10: single-element UNBOUNDED rides the fast path (mr_error_burst
    # E{2,}); r11: BOUNDED does too — SKIP PAST LAST ROW restarting
    # inside the run is chunk arithmetic
    # (_match_recognize_runs_single_bounded), still zero Python
    one_unb = match_recognize(
        tyv, ["k"], "seq", {"A": "ty = 'a'"}, "A{2,}"
    )
    assert "MapInPandas" not in fmt(one_unb)
    for pat in ("A{2}", "A{2,5}"):
        one_bnd = match_recognize(
            tyv, ["k"], "seq", {"A": "ty = 'a'"}, pat
        )
        assert "MapInPandas" not in fmt(one_bnd), pat
    # a RELUCTANT bounded quantifier is not greedy-chunkable -> VM
    rel = match_recognize(
        tyv, ["k"], "seq", {"A": "ty = 'a'"}, "A{2,5}?"
    )
    assert "MapInPandas" in fmt(rel)


def test_sketch_over_hoist_two_level(spark):
    """r9 (VERDICT r8 task 7): a windowed co-item no longer bails the
    sketch PARTIAL->FINAL split — it hoists to a projection around the
    split (the window evaluates over the aggregated rows either way).
    Gate: two ArrowAggregatePython levels under the windowed co-item,
    plus a Window node; values match the split-free spelling."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    sql = (
        "SELECT l_returnflag, qdigest_agg(l_extendedprice) AS d,"
        " rank() OVER (ORDER BY l_returnflag) AS r"
        " FROM lineitem GROUP BY l_returnflag"
    )
    df = eng.sql(sql)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan)) == 2, plan
    assert re.search(r"\(\d+\) Window", plan), plan
    got = {(r.l_returnflag, r.r): bytes(r.d) for r in df.collect()}
    # the windowed item is pure bookkeeping over keys: rank 1..n in key
    # order; digest blobs equal the windowless split's bit-for-bit (the
    # salt is deterministic)
    base = {
        r.l_returnflag: bytes(r.d)
        for r in eng.sql(
            "SELECT l_returnflag, qdigest_agg(l_extendedprice) AS d"
            " FROM lineitem GROUP BY l_returnflag"
        ).collect()
    }
    assert {(k, i + 1): v for i, (k, v) in enumerate(sorted(base.items()))} == got
    # a window reading a raw (non-key, non-alias) column bails the
    # hoist; the single-level fallback then surfaces Spark's own
    # refusal for the invalid shape (documented conservative fallback)
    import pytest

    with pytest.raises(Exception, match="MISSING_AGGREGATION"):
        eng.sql(
            "SELECT l_returnflag, qdigest_agg(l_extendedprice) AS d,"
            " max(l_quantity) AS mq,"
            " rank() OVER (ORDER BY l_shipdate) AS r"
            " FROM lineitem GROUP BY l_returnflag"
        ).collect()


def test_sketch_over_hoist_embedded_aggregate(spark):
    """r10 (ADVICE r9): a windowed item EMBEDDING a bare aggregate —
    the share-of-total spelling sum(count(*)) OVER () — used to hoist
    into an outer select with no GROUP BY (MISSING_GROUP_BY). Now the
    embedded aggregate is computed in the inner block under a
    synthetic alias and the window reads the alias; values match
    DuckDB. Also: `rank() OVER (ORDER BY max(q))` hoists the same way."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    df = eng.sql(
        "SELECT l_returnflag, qdigest_agg(l_extendedprice) AS d,"
        " sum(count(*)) OVER () AS share"
        " FROM lineitem GROUP BY l_returnflag"
    )
    got = {(r.l_returnflag, r.share) for r in df.collect()}
    import duckdb

    con = duckdb.connect()
    want = {
        tuple(r)
        for r in con.execute(
            "SELECT l_returnflag, sum(count(*)) OVER () FROM"
            f" '{SF_DIR}/lineitem.parquet' GROUP BY l_returnflag"
        ).fetchall()
    }
    con.close()
    assert got == want
    # embedded agg inside the window's ORDER BY hoists too
    df2 = eng.sql(
        "SELECT l_returnflag, qdigest_agg(l_extendedprice) AS d,"
        " rank() OVER (ORDER BY max(l_quantity)) AS r"
        " FROM lineitem GROUP BY l_returnflag"
    )
    assert {r.r for r in df2.collect()} <= {1, 2, 3}
    # VERDICT r9 task 8 gate: a group-key-partitioned window over an
    # embedded aggregate keeps the PARTIAL->FINAL split — two
    # ArrowAggregatePython levels AND a Window node in one plan
    df3 = eng.sql(
        "SELECT l_returnflag, l_linestatus,"
        " qdigest_agg(l_extendedprice) AS d,"
        " sum(max(l_quantity)) OVER (PARTITION BY l_returnflag) AS s"
        " FROM lineitem GROUP BY l_returnflag, l_linestatus"
    )
    plan3 = df3._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan3)) == 2
    assert re.search(r"\(\d+\) Window", plan3)
    assert df3.count() == 6


def test_sketch_distinct_over_hoist():
    """r9: the DISTINCT fold gets the same OVER hoist as the two-level
    split — a windowed co-item over group keys / aggregate aliases
    wraps around the dedup-first rewrite; anything else bails. Pure
    rewrite test."""
    from witdb_spark.plans.dialect import _rewrite_sketch_distinct as rwd

    got = rwd(
        "SELECT g, qdigest_agg(DISTINCT x) AS d, count(DISTINCT x) AS n,"
        " rank() OVER (ORDER BY g) AS r FROM t GROUP BY g"
    )
    assert "SELECT DISTINCT g, x AS __dx FROM t" in got
    assert "rank() OVER (ORDER BY g) AS r FROM (" in got
    assert got.rstrip().endswith("__sk_win")
    # window over the aggregate ALIAS hoists too (it is a column of
    # the fold's output)
    got2 = rwd(
        "SELECT g, qdigest_agg(DISTINCT x) AS d, count(DISTINCT x) AS n,"
        " sum(n) OVER (PARTITION BY g) AS tot FROM t GROUP BY g"
    )
    assert "__sk_dedup" in got2 and "sum(n) OVER" in got2
    # raw-column window bails the whole block (unchanged)
    bail = (
        "SELECT g, qdigest_agg(DISTINCT x) AS d,"
        " rank() OVER (ORDER BY x) AS r FROM t GROUP BY g"
    )
    assert rwd(bail) == bail


def test_mor_scans_keep_predicate_pushdown(spark, tmp_path):
    """100 TB discipline for the r9 merge-on-read paths: a predicate
    above a DV'd Delta read (and an Iceberg read with position
    deletes) must still reach the parquet scan as PushedFilters — the
    anti join must not fence off pushdown."""
    from pyspark.sql import functions as F

    from witdb_spark.sources.delta_log import (
        delta_write_deletion_vectors,
        read_delta_snapshot,
        write_delta,
    )
    from witdb_spark.sources.iceberg_meta import (
        _iceberg_scan,
        iceberg_write_position_deletes,
        read_iceberg_snapshot,
        write_iceberg,
    )

    def fmt(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )

    t = str(tmp_path / "dvp")
    write_delta(
        spark,
        spark.range(0, 1000).selectExpr("id", "id % 7 AS g"),
        t, mode="create",
    )
    tag = read_delta_snapshot(spark, t).select(
        F.col("_metadata.file_path").alias("f"),
        F.col("_metadata.row_index").alias("p"), "id",
    )
    delta_write_deletion_vectors(
        spark, t, [(r.f, r.p) for r in tag.where("id < 5").collect()]
    )
    df = read_delta_snapshot(spark, t).where("g = 3").select("id")
    plan = fmt(df)
    assert "PushedFilters: [IsNotNull(g), EqualTo(g,3)]" in plan, plan
    assert df.count() == 142  # 143 multiples-of-7-ish minus the DV'd 3

    ti = str(tmp_path / "icep")
    write_iceberg(
        spark,
        spark.range(0, 1000).selectExpr("id", "id % 7 AS g")
        .coalesce(2),
        ti, mode="create",
    )
    tagged = spark.read.parquet(
        *[p for p, _ in _iceberg_scan(ti)[0]]
    ).select(
        F.col("_metadata.file_path").alias("f"),
        F.col("_metadata.row_index").alias("p"), "id",
    )
    iceberg_write_position_deletes(
        spark, ti, [(r.f, r.p) for r in tagged.where("id < 5").collect()]
    )
    dfi = read_iceberg_snapshot(spark, ti).where("g = 3").select("id")
    plani = fmt(dfi)
    assert "PushedFilters: [IsNotNull(g), EqualTo(g,3)]" in plani, plani
    assert dfi.count() == 142


def test_sketch_over_hoist_tail_validation():
    """r9 self-review fix: the OVER hoist re-attaches the trailing
    ORDER BY/LIMIT above the wrapper, so a tail that only resolves on
    the ORIGINAL block (aggregate calls, raw source columns) must bail
    to the single level — the pre-hoist behavior — instead of becoming
    an unresolvable outer sort. Tails over output names still hoist."""
    from witdb_spark.plans.dialect import _rewrite_sketch_two_level as rw

    head = (
        "SELECT g, qdigest_agg(x) AS d, rank() OVER (ORDER BY g) AS r"
        " FROM t GROUP BY g"
    )
    for tail in (" ORDER BY max(y)", " ORDER BY y", " ORDER BY count(*)"):
        assert rw(head + tail) == head + tail, tail
    got = rw(head + " ORDER BY r LIMIT 3")
    assert "__sk_win ORDER BY r LIMIT 3" in got
    got2 = rw(head + " ORDER BY upper(g) DESC")
    assert "__sk_win ORDER BY upper(g) DESC" in got2


def test_sketch_over_hoist_partitioned_window(spark):
    """r10 (VERDICT r9 task 8): a windowed co-item PARTITIONED BY a
    group key — including one embedding a bare aggregate
    (sum(count(*)) OVER (PARTITION BY k), the per-group share
    spelling) — still takes the two-level PARTIAL->FINAL sketch split,
    with the window hoisted to a projection around it. Gate: two
    ArrowAggregatePython levels + a Window node; values match the
    single-level oracle evaluation."""
    from witdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    sql = (
        "SELECT l_returnflag, l_linestatus,"
        " qdigest_agg(l_extendedprice) AS d,"
        " sum(count(*)) OVER (PARTITION BY l_returnflag) AS flag_rows,"
        " rank() OVER (PARTITION BY l_returnflag"
        "              ORDER BY l_linestatus) AS r"
        " FROM lineitem GROUP BY l_returnflag, l_linestatus"
    )
    df = eng.sql(sql)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan)) == 2, plan
    assert re.search(r"\(\d+\) Window", plan), plan
    got = {
        (r.l_returnflag, r.l_linestatus): (r.flag_rows, r.r)
        for r in df.collect()
    }
    # windowed values check against a plain Spark evaluation of the
    # same shape without the sketch (the window is key bookkeeping)
    ref = {
        (r.l_returnflag, r.l_linestatus): (r.flag_rows, r.r)
        for r in spark.sql(
            "SELECT l_returnflag, l_linestatus,"
            " sum(count(*)) OVER (PARTITION BY l_returnflag)"
            "   AS flag_rows,"
            " rank() OVER (PARTITION BY l_returnflag"
            "              ORDER BY l_linestatus) AS r"
            " FROM lineitem GROUP BY l_returnflag, l_linestatus"
        ).collect()
    }
    assert got == ref


def test_checkpoint_scan_prunes_stats_column(spark, tmp_path):
    """r14 plan gate: the distributed snapshot plan's collect path
    must keep add.stats OUT of the checkpoint parquet ReadSchema
    (nested-schema pruning through the projection chain) — stats are
    the dominant per-add bytes and only the executor-side skipping
    filter ever needs them."""
    import re

    from witdb_spark.sources.delta_log import (
        _snapshot_files_plan,
        delta_checkpoint,
        write_delta,
    )

    t = str(tmp_path / "cp_prune_gate")
    write_delta(
        spark,
        spark.range(0, 500).selectExpr("id", "CAST(id AS STRING) AS s"),
        t,
        mode="create",
    )
    delta_checkpoint(spark, t)
    write_delta(
        spark, spark.range(500, 520).selectExpr(
            "id", "CAST(id AS STRING) AS s"
        ), t, mode="append",
    )
    _, _, _, state, files_df = _snapshot_files_plan(spark, t, None, None)
    assert state is None and files_df is not None
    plan = (
        files_df.select("path", "pv", "dv")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m, plan
    assert "stats" not in m.group(1), m.group(1)
    assert "deletionVector" in m.group(1) or "dv" in m.group(1)


def test_ivfpq_cell_prune_precedes_adc(spark):
    """r15 plan gate: in the composed IVF x PQ ANN the corpus codes must
    be CELL-PRUNED (broadcast join against the probe list) BEFORE the ADC
    distance-table join and its aggregation — the whole point of the
    composition is that ADC work runs at ~(n_probe/n_centroids)
    selectivity, not over the full corpus the way standalone pq_topk
    does. Also pins: both joins broadcast (nothing shuffles the corpus),
    the ADC sum partial-aggregates map-side, and the per-query top-k is a
    WindowGroupLimit, not a global sort."""
    plan = plan_of(spark, "similarity_ivfpq_topk")
    # two broadcast hash joins: (a) codes x probe-list on cell,
    # (b) survivors x distance-table on (query_id, j, cid)
    bhj = {
        int(m.group(1)): m.group(2)
        for m in re.finditer(
            r"\((\d+)\) BroadcastHashJoin[^\n]*\n((?:[^\n]*\n){1,4})", plan
        )
    }
    cell_nodes = [n for n, d in bhj.items() if re.search(r"keys.*\[cell#", d)]
    adc_nodes = [
        n
        for n, d in bhj.items()
        if re.search(r"keys.*query_id#\d+L?, j#\d+, cid#\d+", d)
    ]
    assert cell_nodes and adc_nodes, plan[:4000]
    # formatted-plan node ids are assigned children-first: the cell-prune
    # join must be a descendant of (numbered before) the ADC join
    assert min(cell_nodes) < min(adc_nodes), (cell_nodes, adc_nodes)
    # the corpus never shuffles into either join
    assert "SortMergeJoin" not in plan
    # map-side partial aggregation of the decimal ADC sum
    assert re.search(r"partial_sum", plan), plan[:4000]
    # top-k via rank-limit pushdown, not a full per-query sort
    assert "WindowGroupLimit" in plan


def test_cbo_stats_flip_broadcast(spark, tmp_path):
    """r15 plan gate: persisted ANALYZE statistics feed join
    distribution (the reference CBO's AUTOMATIC mode — broadcast when
    the build side's ESTIMATED size fits the limit, estimates from
    connector stats). Fixture: a DV-enabled delta dim whose parquet
    bytes exceed the broadcast threshold but whose LIVE rows (after a
    95% deletion-vector delete) fit well under it. Spark's file-byte
    estimate cannot see the DVs, so the engine join plans sort-merge —
    until ANALYZE persists the post-delete cardinality/size, after
    which the same statement broadcasts. Results identical both ways."""
    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import (
        delta_delete_where,
        write_delta,
    )

    eng = Engine(spark)
    p = str(tmp_path / "cbo_dim")
    dim = spark.range(0, 5000).selectExpr(
        "id % 25 AS k", "md5(CAST(id AS STRING)) AS pad", "id AS uid"
    )
    write_delta(
        spark, dim.coalesce(1), p, mode="create",
        configuration={"delta.enableDeletionVectors": "true"},
    )
    delta_delete_where(spark, p, "uid % 20 != 0")  # 95% gone, via DVs
    spark.range(0, 50000).selectExpr(
        "id % 25 AS k", "id AS v"
    ).createOrReplaceTempView("cbo_big")
    # the join must CARRY the wide column: Spark scales a pruned
    # projection's estimate by column width, so a k-only join would
    # slip under the threshold on file bytes alone
    q = (
        "SELECT b.k, COUNT(DISTINCT d.pad) AS n FROM cbo_big b"
        f" JOIN delta.'{p}' d ON b.k = d.k GROUP BY b.k"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
        df1 = eng.sql(q)
        plan1 = df1._jdf.queryExecution().executedPlan().toString()
        want = {(r.k, r.n) for r in df1.collect()}
        assert "SortMergeJoin" in plan1 and (
            "BroadcastHashJoin" not in plan1
        ), plan1[:2000]
        eng.sql(f"ANALYZE delta.'{p}'")
        df2 = eng.sql(q)
        plan2 = df2._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan2, plan2[:2000]
        assert {(r.k, r.n) for r in df2.collect()} == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
