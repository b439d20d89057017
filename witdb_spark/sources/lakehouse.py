"""Lakehouse and message-bus connector surface (reference plugin/
trino-delta-lake, plugin/trino-iceberg, plugin/trino-hudi,
plugin/trino-kafka).

Spark is itself the native execution engine for these formats — Delta
Lake, Iceberg, and Hudi all ship first-party Spark DSv2 connectors, and
Structured Streaming's kafka source is the canonical Kafka reader — so
parity here is configuration, not code: each reader below resolves the
format through Spark's datasource registry and, when the connector jar is
absent from this deployment, fails with the exact --packages remedy
instead of a Java stack. The table-level semantics (snapshot isolation,
time travel, schema evolution) come from the connector itself, matching
the reference's metadata handling in the corresponding plugin.

Recorded re-scope (r4, narrowed r8): none of the connector jars can be
added to this deployment (no network, no pip/maven; `import delta` fails
and the probe classes are absent from the JVM). r8 closes the Delta READ
path anyway: sources/delta_log.py implements the public transaction-log
protocol directly — the same architecture as the reference, whose delta
connector (plugin/trino-delta-lake TransactionLogAccess.java) reads the
log itself rather than linking Delta — so path-based Delta snapshot
reads and time travel work jar-free (read_table falls back to it below;
tested against hand-authored protocol fixtures in tests/test_sources.py,
oracled by `delta_log_reader_snapshot`). Delta WRITES and the
iceberg/hudi/kafka paths remain gated surface + remedy (iceberg/hudi
manifests are avro, which this deployment cannot read). On a deployment
with jars present, read_table/write_table and sources/merge.py MERGE run
through the DSv2 connector unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# format -> (probe class, maven coordinate hint)
_CONNECTORS = {
    "delta": (
        "org.apache.spark.sql.delta.sources.DeltaDataSource",
        "io.delta:delta-spark_2.13:<version>",
    ),
    "iceberg": (
        "org.apache.iceberg.spark.source.IcebergSource",
        "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<version>",
    ),
    "hudi": (
        "org.apache.hudi.DefaultSource",
        "org.apache.hudi:hudi-spark4-bundle_2.13:<version>",
    ),
    "kafka": (
        "org.apache.spark.sql.kafka010.KafkaSourceProvider",
        "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>",
    ),
}


def _probe_connector(spark: SparkSession, fmt: str) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(_CONNECTORS[fmt][0])
        return True
    except Exception:
        return False


def connector_available(spark: SparkSession, fmt: str) -> bool:
    if fmt not in _CONNECTORS:
        raise ValueError(f"unknown connector {fmt!r}; one of {sorted(_CONNECTORS)}")
    # Memoized per (SparkContext, format), like catalog.py's
    # _witdb_df_memo. Assumes the driver JVM's classpath is fixed at
    # launch (--packages / --jars resolve before the context starts),
    # so the answer cannot change within one context. A miss costs a
    # py4j Class.forName -> ClassNotFoundException round trip (~30 ms),
    # which every lake read, INSERT target lookup and lake ref paid.
    sc = spark.sparkContext
    memo = getattr(sc, "_witdb_connector_memo", None)
    if memo is None:
        memo = sc._witdb_connector_memo = {}
    if fmt not in memo:
        memo[fmt] = _probe_connector(spark, fmt)
    return memo[fmt]


def _require(spark: SparkSession, fmt: str) -> None:
    if not connector_available(spark, fmt):
        raise RuntimeError(
            f"the {fmt} connector is not on this session's classpath; add"
            f" --packages {_CONNECTORS[fmt][1]} (reference analog:"
            f" plugin/trino-{'kafka' if fmt == 'kafka' else fmt + ('-lake' if fmt == 'delta' else '')})"
        )


def read_table(
    spark: SparkSession, fmt: str, path_or_table: str, **options
) -> DataFrame:
    """Batch-read a delta/iceberg/hudi table (reference connector split
    generation maps to the connector's own DSv2 scan planning, including
    data skipping from table metadata — the same statistics pruning the
    reference does with its checkpoint/manifest readers)."""
    # Route on target shape, not format: a filesystem path loads through the
    # requested DSv2 format (path-based iceberg/delta/hudi all work), while a
    # catalog identifier resolves via spark.table() — reader options don't
    # apply on the catalog route (the table's catalog decides its provider).
    is_path = "/" in path_or_table or path_or_table.startswith(".")
    if (
        fmt == "delta"
        and is_path
        and not connector_available(spark, "delta")
    ):
        # no-jar read path: this repo's own transaction-log reader —
        # the same architecture as the reference, whose delta connector
        # (plugin/trino-delta-lake TransactionLogAccess.java) implements
        # the public log protocol itself instead of linking Delta.
        # DSv2 time-travel options map onto the snapshot arguments.
        from witdb_spark.sources.delta_log import read_delta_snapshot

        version = options.pop("versionAsOf", None)
        ts = options.pop("timestampAsOf", None)
        where = options.pop("where", None)  # file skipping (r10)
        if options:
            raise ValueError(
                "unsupported delta reader options without the jar: "
                + ", ".join(sorted(options))
            )
        ts_ms = None
        if ts is not None:
            import datetime as _dt

            ts_ms = int(
                _dt.datetime.fromisoformat(str(ts)).timestamp() * 1000
            )
        return read_delta_snapshot(
            spark,
            path_or_table,
            version=None if version is None else int(version),
            timestamp_ms=ts_ms,
            where=where,
        )
    if (
        fmt == "iceberg"
        and is_path
        and not connector_available(spark, "iceberg")
    ):
        # no-jar read path: walk the public Iceberg metadata chain
        # (metadata.json -> manifest-list avro -> manifest avro) with
        # this repo's own Avro codec, then distributed parquet scan.
        # Spark-iceberg's time-travel option names map onto snapshots.
        from witdb_spark.sources.iceberg_meta import read_iceberg_snapshot

        snap = options.pop("snapshot-id", None)
        ts = options.pop("as-of-timestamp", None)
        where = options.pop("where", None)  # manifest pruning (r10)
        if options:
            raise ValueError(
                "unsupported iceberg reader options without the jar: "
                + ", ".join(sorted(options))
            )
        return read_iceberg_snapshot(
            spark,
            path_or_table,
            snapshot_id=None if snap is None else int(snap),
            timestamp_ms=None if ts is None else int(ts),
            where=where,
        )
    if (
        fmt == "hudi"
        and is_path
        and not connector_available(spark, "hudi")
    ):
        # no-jar read path: fold the public .hoodie timeline into the
        # active base-file set (read-optimized COW snapshot) and scan
        # as distributed parquet. Hudi's own time-travel option name
        # maps onto the instant argument.
        from witdb_spark.sources.hudi_meta import read_hudi_snapshot

        asof = options.pop("as.of.instant", None)
        if options:
            raise ValueError(
                "unsupported hudi reader options without the jar: "
                + ", ".join(sorted(options))
            )
        return read_hudi_snapshot(spark, path_or_table, as_of_instant=asof)
    _require(spark, fmt)
    if not is_path:
        return spark.table(path_or_table)
    reader = spark.read.format(fmt)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path_or_table)


def write_lakehouse_table(
    df: DataFrame,
    fmt: str,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Write a delta/iceberg/hudi table. With the connector jar present
    this is the DSv2 writer; without it, writes route through the
    repo's own protocol writers: Delta (sources/delta_log.write_delta —
    create/append/overwrite, COW DML elsewhere in that module), Iceberg
    (sources/iceberg_meta.write_iceberg — unpartitioned
    create/append/overwrite, HadoopTables-style metadata.json commits),
    and Hudi COW inserts (sources/hudi_meta.write_hudi — fresh file
    groups per commit; keyed upserts need the bundle's record index)."""
    spark = df.sparkSession
    if fmt == "iceberg" and not connector_available(spark, "iceberg"):
        from witdb_spark.sources.iceberg_meta import write_iceberg

        wmode = "create" if mode in ("create", "errorifexists") else mode
        if partition_by:
            raise ValueError(
                "partitioned iceberg writes need the"
                " iceberg-spark-runtime jar (partition-spec transforms)"
            )
        write_iceberg(spark, df, path, mode=wmode)
        return
    if fmt == "hudi" and not connector_available(spark, "hudi"):
        from witdb_spark.sources.hudi_meta import write_hudi

        wmode = "create" if mode in ("create", "errorifexists") else mode
        if partition_by:
            raise ValueError(
                "partitioned hudi writes need the hudi-spark bundle"
            )
        write_hudi(spark, df, path, mode=wmode)
        return
    if fmt == "delta" and not connector_available(spark, "delta"):
        from witdb_spark.sources.delta_log import write_delta

        wmode = (
            "create"
            if mode in ("create", "errorifexists")
            else ("overwrite" if mode == "overwrite" else "append")
        )
        if wmode in ("append", "overwrite"):
            import os as _os

            # appending to / overwriting a not-yet-table creates it
            # (DSv2 behavior — the jar-backed writer does the same)
            if not _os.path.isdir(_os.path.join(path, "_delta_log")):
                wmode = "create"
        write_delta(
            spark, df, path, mode=wmode, partition_by=partition_by
        )
        return
    _require(spark, fmt)
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def read_kafka_batch(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    ending_offsets: str = "latest",
    **options,
) -> DataFrame:
    """Batch scan of a Kafka topic's offset range — exactly the reference's
    kafka connector model (plugin/trino-kafka reads topics as bounded
    tables; SURVEY.md §2.11). Environment status: no broker in the
    sandbox (localhost:9092 re-probed each round — r12/r13/r14 all
    refused) and the kafka connector jar is absent, so the gate below
    stays the loud remedy."""
    _require(spark, "kafka")
    reader = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("endingOffsets", ending_offsets)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    **options,
) -> DataFrame:
    """Streaming Kafka source (bonus over the reference, which has no
    streaming): feeds the witdb_spark.streaming operator graph."""
    _require(spark, "kafka")
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
