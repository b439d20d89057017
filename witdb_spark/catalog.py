"""Table catalog over the driver-generated parquet fixtures.

The reference resolves `catalog.schema.table` through ConnectorMetadata
(reference core/trino-spi/.../connector/ConnectorMetadata.java:1); here a
scale-factor directory of parquet files plays the role of a catalog. Schema
is declared by the files (SURVEY.md §1.2); Spark's vectorized parquet reader
is the Page/Block layer (SURVEY.md §1.1) — we never materialize rows manually.

At cluster scale the same interface would point at an object-store prefix;
nothing below assumes local paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables that stay broadcast-sized at any scale factor (nation and
# region are constant-cardinality in TPC-H; customer/supplier/part scale).
BROADCAST_DIMS = {"region", "nation"}

#: Fixed fixture schemas (column names as the parquet files declare them;
#: events lists the ts_ns VIEW shape the engine registers). Used by the
#: transpiler's eager-aggregation rewrite to attribute unqualified column
#: references to tables — a name not resolvable through this map makes a
#: query block ineligible rather than guessed at.
TABLE_COLUMNS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "customer": ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier": ("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part": ("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders": (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ),
    "lineitem": (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    ),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings": ("vec_id", "embedding", "label"),
    "events": ("event_id", "ts_ns", "user_id", "event_type", "value", "props"),
}

#: Declared UNIQUE (and NOT NULL) columns per table — TPC-H's primary keys
#: plus name columns that are injective by the spec's generation rules
#: (s_name/c_name are 'Supplier#%09d'-style, n_name/r_name are the fixed
#: distinct lists). The transpiler's CTE self-join narrowing
#: (plans/eager_agg.py) is only sound for joins on / groupings by these
#: columns, so every entry is VERIFIED against all fixture directories by
#: tests/test_semantics.py::test_declared_unique_columns_hold — a fixture
#: violating a declared constraint fails the suite before it can produce
#: a wrong plan.
UNIQUE_COLUMNS: dict[str, frozenset[str]] = {
    "region": frozenset({"r_regionkey", "r_name"}),
    "nation": frozenset({"n_nationkey", "n_name"}),
    "customer": frozenset({"c_custkey", "c_name"}),
    "supplier": frozenset({"s_suppkey", "s_name"}),
    "part": frozenset({"p_partkey"}),
    "orders": frozenset({"o_orderkey"}),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Tables:
    """Lazy namespace of DataFrames for one scale-factor directory.

    ``Tables(spark, sf_dir).lineitem`` → DataFrame. Reads are lazy and
    metadata-cached by Spark, so repeated attribute access is cheap.
    """

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self._spark = spark
        self.sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_") or name not in TABLE_NAMES:
            raise AttributeError(name)
        # Memoized per (session, sf_dir) like register_views below: a
        # DataFrame is a lazy logical plan, so handing out the same
        # object is pure driver-METADATA reuse — `spark.read.parquet`
        # runs a footer/schema-inference job every call (~120 ms/table,
        # measured r16: a 6-table query paid 0.74 s of build time per
        # bench run, 12x the spark.table path). Nothing is materialized
        # or persisted: every query still computes from the parquet
        # files; only the schema lookup stops repeating (guide §5 —
        # the driver should do almost no work).
        # Assumes immutable fixtures: the reader snapshots the schema
        # and the file listing at first access, so a fixture directory
        # regenerated or appended to within one session keeps serving
        # the first listing. Fixture sets are written once and only
        # read after that; a caller that rewrites one must use a fresh
        # sf_dir (or session) to see the new files.
        memo = getattr(self._spark, "_witdb_df_memo", None)
        if memo is None:
            memo = {}
            try:
                self._spark._witdb_df_memo = memo
            except AttributeError:
                pass
        key = (self.sf_dir, name)
        if key not in memo:
            memo[key] = (
                self._read_events()
                if name == "events"
                else self._spark.read.parquet(
                    os.path.join(self.sf_dir, f"{name}.parquet")
                )
            )
        return memo[key]

    def _read_events(self) -> DataFrame:
        """Expose events.ts as ``ts_ns`` — int64 nanoseconds since epoch.

        Nanosecond integers compare/sort/window exactly in both Spark and
        DuckDB (oracle twin: ``epoch_ns(ts)``), so every downstream query
        does exact integer arithmetic instead of engine-specific timestamp
        semantics. The fixture schema has shipped both ways — parquet
        TIMESTAMP(NANOS) (readable only as raw int64 via nanosAsLong) and
        TIMESTAMP(MICROS) — so normalize whichever arrives:
          - timestamp column → wall-clock micros * 1000, computed with
            pure NTZ arithmetic (timestampdiff over TIMESTAMP_NTZ) so the
            value is independent of spark.sql.session.timeZone — the
            ``unix_micros(cast(ts AS TIMESTAMP))`` form shifted by the
            session offset in non-UTC sessions and diverged from DuckDB's
            naive ``epoch_ns``;
          - int64 nanos → pass through.
        Both are pure map-stage projections; pushdown/pruning unaffected."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        self._spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = self._spark.read.parquet(os.path.join(self.sf_dir, "events.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.TimestampNTZType):
            # naive wall time: pure NTZ arithmetic, no instant conversion
            ts_ns = (
                F.expr(
                    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
                )
                * F.lit(1000)
            )
        elif isinstance(ts_type, T.TimestampType):
            # true instant: unix_micros IS the zone-independent value —
            # casting through NTZ here would re-introduce the session
            # offset this function exists to avoid
            ts_ns = F.unix_micros(F.col("ts")) * F.lit(1000)
        else:  # legacy int64-nanos fixture
            ts_ns = F.col("ts")
        return df.select(
            "event_id",
            ts_ns.alias("ts_ns"),
            "user_id",
            "event_type",
            "value",
            "props",
        )

    def register_views(self, names: list[str] | None = None) -> None:
        """Register temp views so spark.sql() sees the catalog (the
        reference's information_schema equivalent is spark.catalog).
        Memoized per (session, sf_dir): the SQL-text query suites build
        an Engine per call, and re-deriving ten parquet reads per query
        is pure driver overhead (a different sf_dir re-registers)."""
        key = ("witdb_views_sf_dir", self.sf_dir, tuple(names or ()))
        cache = getattr(self._spark, "_witdb_view_memo", None)
        if cache == key:
            return
        for name in names or TABLE_NAMES:
            getattr(self, name).createOrReplaceTempView(name)
        try:
            self._spark._witdb_view_memo = key
        except AttributeError:
            pass
