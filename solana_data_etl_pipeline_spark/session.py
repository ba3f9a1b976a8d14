"""SparkSession factory.

Defaults are chosen for the 100 TB design point and scaled down by env
vars for local testing:

- AQE on (runtime coalesce, skew-join splitting) -- replaces the
  reference's static chunk sizing (reference src/backfill.rs:22-31).
- shuffle partitions sized from env (driver runs local[32]); on a real
  cluster this should be ~2-3x total cores and AQE coalesces down.
- broadcast threshold generous: every dim table in the star schema is
  tiny relative to the fact table, so dim joins must never shuffle.
- Arrow enabled for the few Pandas-UDF paths (extensions only).
- Session timezone pinned to UTC: the reference stores TIMESTAMPTZ and
  computes date arithmetic in UTC (reference src/parsers.rs:33-41).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: The engine's fixed confs, the one source for both session paths:
#: get_spark sets them in the builder, and
#: __spark_entry__._configure sets the spark.sql.* ones at runtime on
#: a driver-provided session.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Engine convention: all timestamps are UTC wall-clock, carried as
    # TIMESTAMP_NTZ end-to-end (parquet naive timestamps stay naive;
    # matches the DuckDB oracle's timestamp semantics exactly).
    "spark.sql.timestampType": "TIMESTAMP_NTZ",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce post-shuffle partitions by BYTES (the advisory size),
    # not by core count: with the default parallelismFirst the tiny
    # shuffles of sub-GB stages stay fragmented across 2x cores
    # partitions and task overhead dominates -- measured r14:
    # dedup_minhash_lsh 2.30->1.84 s at 32 cores, 1.97->1.30 s at 8
    # (the PERF_r13 anti-scaling class). Scale-adaptive by
    # construction: at 100 TB the same advisory target keeps shuffles
    # wide because the bytes are there (guide §2.2).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Some inputs carry TIMESTAMP(NANOS) parquet columns, which the
    # Spark reader rejects outright; read them as raw nano longs and
    # convert explicitly (see testdata_model.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.shuffledHashJoinFactor": "3",
}


def get_spark(app_name: str = "solana-etl-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)

    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=ENGINE_CONFS)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
