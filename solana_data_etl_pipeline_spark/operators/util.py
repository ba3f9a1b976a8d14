"""Shared operator utilities."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql.utils import AnalysisException


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the input has fewer partitions than
    the session's default parallelism.

    Compute-heavy per-row operators (shingling, hashing, scoring) must
    not inherit a single-split input: local test fixtures are one
    parquet row group, which would serialize the whole stage on one
    core. On a real cluster with many input splits this is a no-op --
    the guard avoids paying an unconditional shuffle at scale.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df.repartition(target)
    return df if current >= target else df.repartition(target)


def write_index_meta(spark, path: str, **geometry: int) -> None:
    """Record a stored index's build geometry (n_tables, bands, k, ...)
    as one JSON text line at `{path}/_index_meta`, the one sidecar
    every index family writes at build time and every probe reads
    back through index_meta: a probe at any other geometry hashes into
    a different space and silently matches nothing. The underscore
    prefix keeps the sidecar out of the index's own parquet scans, and
    the write goes through the session's filesystem so remote stores
    work."""
    spark.createDataFrame([(json.dumps(geometry),)], "value string").coalesce(
        1
    ).write.mode("overwrite").text(f"{path}/_index_meta")


def index_meta(spark, path: str) -> dict | None:
    """The geometry write_index_meta recorded for the index at `path`;
    None only when the sidecar does not exist (no index yet)."""
    try:
        # Spark warns "All paths were ignored" for an underscore-
        # prefixed root path, but still reads the files under it
        row = spark.read.text(f"{path}/_index_meta").first()
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise
    if row is None:
        raise ValueError(f"empty index geometry sidecar at {path}/_index_meta")
    return json.loads(row["value"])
