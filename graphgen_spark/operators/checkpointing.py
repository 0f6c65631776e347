"""Per-stage checkpoint tables + anti-join resume + lineage/metrics.

Reference semantics: every operator stores results keyed by
content-hash trace id and skips already-processed ids on re-run
(``graphgen/bases/base_operator.py:109-166``), with insert-only upserts
(``storage/kv/json_storage.py:48-52``) and forward/inverse lineage maps.

Spark mapping: a checkpoint is a partitioned parquet table per stage;
"skip processed" is a left-anti join on the trace key; "recover" is
reading the table back; the lineage map is a (src_id, dst_id, op)
table; per-partition progress metrics are recorded after each append.
Everything is idempotent because ids are content hashes — a mid-run
kill leaves a valid (partial) table that the next run tops up.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _exists(spark: SparkSession, path: str) -> bool:
    # local-fs check is fine in the sandbox; on a cluster this would go
    # through the Hadoop FileSystem API (same semantics)
    return os.path.exists(path)


def checkpoint_stage(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    stage: str,
    key_cols: list[str],
) -> DataFrame:
    """Insert-only upsert of ``df`` into the stage table; returns the
    full materialized stage (previous + new rows).

    - first run: write everything
    - resume: left-anti join on ``key_cols`` → append only new rows
    """
    path = os.path.join(root, stage)
    # reads pass df's schema: without one Spark runs a footer-reading
    # job per read to infer it
    if _exists(spark, path):
        done_keys = spark.read.schema(df.schema).parquet(path)
        new_rows = df.join(done_keys.select(*key_cols), key_cols, "left_anti")
        new_rows.write.mode("append").parquet(path)
    else:
        df.write.mode("overwrite").parquet(path)
    result = spark.read.schema(df.schema).parquet(path)
    _record_metrics(spark, result, root, stage)
    return result


def _record_metrics(
    spark: SparkSession, df: DataFrame, root: str, stage: str
) -> None:
    """Per-partition progress metrics (north_rule: per-partition
    lineage + triple-count metrics to resume mid-run)."""
    metrics = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("stage", F.lit(stage))
        .withColumn("recorded_at", F.lit(int(time.time())).cast("long"))
    )
    metrics.write.mode("append").parquet(
        os.path.join(root, "_metrics", stage)
    )


def read_metrics(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(root, "_metrics")
    )


def lineage_edges(
    df: DataFrame, src_col: str, dst_col: str, op: str
) -> DataFrame:
    """(src_id, dst_id, op) lineage rows — e.g. doc→chunk from the
    chunks table, chunk→triple from the triples table."""
    return df.select(
        F.col(src_col).alias("src_id"),
        F.col(dst_col).alias("dst_id"),
    ).distinct().withColumn("op", F.lit(op))


def append_lineage(
    spark: SparkSession, lineage: DataFrame, root: str, op: str
) -> None:
    """Insert-only append to one op's lineage partition: rows already
    there are skipped, so a rerun after a kill neither loses nor
    duplicates any."""
    path = os.path.join(root, "lineage", f"op={op}")
    rows = lineage.where(F.col("op") == op).drop("op")
    if _exists(spark, path):
        rows = rows.join(
            spark.read.schema(rows.schema).parquet(path),
            ["src_id", "dst_id"],
            "left_anti",
        )
    rows.write.mode("append").parquet(path)


def overwrite_lineage(
    spark: SparkSession, lineage: DataFrame, root: str, op: str
) -> None:
    """Replace one op's lineage partition.  For lineage derived from a
    FULL table (e.g. chunk→triple from the whole triples table) an
    append would duplicate rows on every resume/no-op re-run; the
    partition directory is rewritten instead (read-back still recovers
    ``op`` from the directory name)."""
    lineage.where(F.col("op") == op).drop("op").write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "lineage", f"op={op}"))
