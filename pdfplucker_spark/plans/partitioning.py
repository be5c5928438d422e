"""The one scan-parallelism rule: fan out a scan that cannot fill the cluster.

A parquet file splits only at row-group granularity, so a one-row-group
input is one task no matter how many slots exist, and every per-row map
before the first exchange (the extract kernel, hash folds, tokenizers) runs
on one core. The guide's input-skew fix (§2.5: "one huge unsplittable file
... repartition immediately after the read") applies: when the scan yields
at most a quarter of the cluster's slots, pay one round-robin exchange to
unlock map parallelism. The 4x margin keeps this a no-op on any
honestly-laid-out input — at scale a table has thousands of splits.
Round-robin repartition is deterministic under Spark's sort-before-
repartition default.

Doc-size skew needs no rule of its own (re-measured r10, history in
BENCH/BASELINE.md): the scan's splits are byte-balanced
(``spark.sql.files.maxPartitionBytes``) and bytes ≈ spans for this schema,
so per-task span mass is bounded however giants cluster. One doc bigger
than a split is single-task work under any routing (a parquet row cannot
split); ``span_budget`` is that defense.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to ``defaultParallelism`` partitions when its scan
    partitions × 4 <= ``defaultParallelism``; else return ``df`` as is.

    Pass a bare scan: the count is read from the RDD of ``df``'s own
    physical plan (no row conversion, no Python RDD), which launches no job
    only while the plan holds no exchange (under AQE, an exchange below
    would be executed to answer). Never apply it below a ``limit``: it
    would shuffle the whole input for a smoke run."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df._jdf.queryExecution().toRdd().getNumPartitions() * 4 <= target:
        return df.repartition(target)
    return df
