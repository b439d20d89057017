"""SparkSession factory tuned for the witdb-parity workload.

The reference engine's execution knobs (exchange partitioning, broadcast vs
partitioned join choice, spill, adaptive partition counts — see SURVEY.md §4.2,
e.g. reference SystemPartitioningHandle.java:48-54, DetermineJoinDistributionType.java:59)
all map onto Spark confs; we set the scale-appropriate defaults here once so
every query and test inherits them.

Scale notes (designed for ~100 TB on a 1000-executor cluster, tested on
local[32]):
  - AQE on: runtime partition coalescing + skew-join splitting replaces the
    reference's DeterminePartitionCount/skew handling.
  - autoBroadcastJoinThreshold 64m: nation/region/supplier-class dims broadcast
    at any SF; fact-fact joins shuffle on keys.
  - shuffle.partitions is only the pre-AQE upper bound; AQE coalesces. On a
    real cluster set it ~2-3x total cores via SPARK_GRAFT_CPUS.
  - Arrow enabled: every pandas-UDF path (dedup sketches, multimodal decode)
    moves batches, not rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "witdb-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # pre-AQE upper bound; AQE coalesces down to advisory target sizes
        shuffle_partitions = max(2 * cpus, 32)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        # --- adaptivity (replaces reference's runtime re-planning) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- join strategy (reference: DetermineJoinDistributionType) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- runtime filters (reference: DynamicFilterService) ---
        .config("spark.sql.optimizer.runtimeFilter.bloomFilter.enabled", "true")
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        # --- determinism / oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        # Pinned, not assumed (ADVICE r15): the DataFrame-side dsum/davg
        # per-row decimal(18,6) cast in queries/shared.py is safe because
        # a value or sum outside its decimal type raises under ANSI
        # instead of returning NULL. Spark 4 defaults this to true;
        # pinning it here makes the overflow-is-loud invariant hold even
        # under legacy configs.
        .config("spark.sql.ansi.enabled", "true")
        # --- python exchange is Arrow-batched, never row-at-a-time ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r11 (VERDICT r10 task 6): the sketch UDAF profile showed the
        # qdigest/tdigest cost is the Arrow/py-worker floor, not
        # per-value Python (builds are numpy-vectorized): dominant
        # stage 939 ms run vs 408 ms CPU, pure-JVM percentile_approx
        # floor 331 ms. Larger Arrow batches shave the slice/transfer
        # overhead (qdigest run 1617 -> 1514 ms at 256k; the default
        # is 10k); single-column sketch batches at 256k rows are ~2 MB.
        # Wide rows stay safe: Spark 4's
        # spark.sql.execution.arrow.maxBytesPerBatch (64 MB default)
        # caps every batch by BYTES, so multimodal binary columns chop
        # long before 256k records. The residual gap is worker
        # scheduling, irreducible without a JVM-side sketch.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "262144"
        )
        # --- scan efficiency ---
        .config("spark.sql.parquet.filterPushdown", "true")
        # engine default, not a per-read side effect: field-id
        # resolution only engages for request schemas that CARRY
        # parquet.field.id metadata (delta column-mapping id mode);
        # all other parquet reads are untouched. Spark has no
        # per-read switch for this and plans are lazy, so a
        # set-restore around the read would break execution.
        .config("spark.sql.parquet.fieldId.read.enabled", "true")
        .config("spark.sql.parquet.fieldId.write.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
