"""Small driver-side rows as a zero-job Spark relation.

``spark.createDataFrame(<python list>)`` pickles the rows into a
parallelized RDD: every action on it runs a Spark job through Python
workers (defaultParallelism tasks — 32 blocked tasks for a 6-row
dimension in local[32], ~0.4 s per collect on 4 cores), and a join
planned inside a broadcast exchange pays it again. ``local_frame``
hands an Arrow table to ``createDataFrame`` instead, which lands a
LocalRelation: collecting it runs no job and starts no Python worker,
and Catalyst sees the exact row count for broadcast decisions. The
reference returns statement results the same way, straight from the
coordinator (TableFinishOperator.java:51).

Used for every statement result of ``engine.Engine`` (DML/CTAS
summaries, CALL, SHOW, DESCRIBE, ANALYZE, information_schema) and for
the small literal dimensions of the registered queries.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

# Column types (Spark simpleString -> Arrow type). The flat scalar set
# only: these five convert identically on the Arrow and the
# pickled-row paths, where a timestamp or date could shift zone.
_ARROW_TYPES = {
    "string": "string",
    "bigint": "int64",
    "int": "int32",
    "double": "float64",
    "boolean": "bool_",
}


# Keyed by the literal DDL strings of the callers (a fixed set); saves
# the JVM DDL-parse round trip (~4 ms) on every call.
@functools.lru_cache(maxsize=None)
def _schema(ddl: str):
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    bad = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in schema.fields
        if f.dataType.simpleString() not in _ARROW_TYPES
    ]
    if bad:
        raise TypeError(
            f"local frames carry {sorted(_ARROW_TYPES)} columns only,"
            f" not {bad}"
        )
    return schema


def local_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """``rows`` (tuples of str/int/float/bool/None) typed by ``ddl`` as
    a LocalRelation built from an Arrow table. ``ddl`` may name only
    the _ARROW_TYPES column types; any other raises TypeError."""
    import pyarrow as pa

    schema = _schema(ddl)
    table = pa.table(
        {
            f.name: pa.array(
                [r[i] for r in rows],
                getattr(pa, _ARROW_TYPES[f.dataType.simpleString()])(),
            )
            for i, f in enumerate(schema.fields)
        }
    )
    return spark.createDataFrame(table, schema)
