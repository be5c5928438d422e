"""Run metrics, failure log, and per-partition lineage (S10-S12).

The reference accumulates a mutable metrics dict in the driver
(processor.py:380-388,406-426), snapshots it every 5 docs
(processor.py:424-426), writes per-failure temp JSON files and consolidates
them at the end (processor.py:24-121). In the Spark engine failures are
data (status/error columns), so:

  - ``metrics``: one aggregated row per run — total/processed/failed doc
    counts, success rate using the reference's formula
    ``((processed - failed)/processed)*100`` (processor.py:449-450), with
    ``failed_docs`` as a *distinct* doc count (processor.py:98-100).
  - ``fails``: one row per failed doc (the consolidated error-log analogue,
    `{file, error, timestamp}` → `(doc_id, error, run_id)`), a table rather
    than a driver-side list so it scales to billions of failures.
  - ``lineage``: one row per (run, partition) — doc counts, span counts,
    status breakdown; the resumable-progress analogue of
    intermediate_metrics.json.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F


def with_lineage_cols(extracted: DataFrame, run_id: str) -> DataFrame:
    """Stamp run + physical partition onto extraction output (pre-write)."""
    return extracted.withColumn("run_id", F.lit(run_id)).withColumn(
        "partition_id", F.spark_partition_id()
    )


def run_metrics(extracted: DataFrame, run_id: str, initial_time: float) -> DataFrame:
    """One metrics row per run; reads only small columns (column-pruned)."""
    agg = extracted.agg(
        F.count("*").alias("total_docs"),
        F.count("*").alias("processed_docs"),  # batch engine: all docs processed
        F.count_distinct(F.when(F.col("status") != "ok", F.col("doc_id"))).alias(
            "failed_docs"
        ),
        F.sum("n_input_spans").alias("total_input_spans"),
        F.sum("n_pages").alias("total_pages"),
        F.sum("n_images").alias("total_images"),
        F.sum("n_tables").alias("total_tables"),
    )
    return agg.select(
        F.lit(run_id).alias("run_id"),
        F.lit(float(initial_time)).alias("initial_time"),
        (F.lit(time.time()) - F.lit(float(initial_time))).alias("elapsed_time"),
        "total_docs",
        "processed_docs",
        "failed_docs",
        F.when(
            F.col("processed_docs") > 0,
            (
                (F.col("processed_docs") - F.col("failed_docs"))
                / F.col("processed_docs")
            )
            * 100.0,
        )
        .otherwise(F.lit(0.0))
        .alias("success_rate"),
        "total_input_spans",
        "total_pages",
        "total_images",
        "total_tables",
    )


def fails_table(extracted: DataFrame, run_id: str) -> DataFrame:
    """Consolidated failure log — one row per failed doc (processor.py:79-100)."""
    return (
        extracted.where(F.col("status") != "ok")
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("doc_id").alias("file"),
            F.col("error"),
            F.current_timestamp().alias("timestamp"),
        )
        .dropDuplicates(["run_id", "file"])  # distinct fails, processor.py:98-100
    )


def lineage_table(extracted_with_lineage: DataFrame) -> DataFrame:
    """Per-(run, partition) progress rows — the resume/audit trail."""
    return extracted_with_lineage.groupBy("run_id", "partition_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("n_failed"),
        F.sum("n_input_spans").alias("n_input_spans"),
        F.sum("n_output_spans").alias("n_output_spans"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )
