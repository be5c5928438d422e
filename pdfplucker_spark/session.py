"""Tuned SparkSession factory.

Local-mode settings mirror what the same job needs on a 1000-executor
cluster: AQE on (runtime coalesce + skew splitting), Arrow transfer on with
a bounded batch size (the reference's aggressive per-doc GC,
processor.py:334-340, becomes Arrow batch lifetime — maxRecordsPerBatch
bounds peak memory per Python worker when giant docs appear).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on
    (its affinity set — a container's quota, not the machine's cores)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_mem() -> str:
    """``SPARK_DRIVER_MEM`` when set, else half the host's MemTotal (whole
    GiB, at least 1g, at most 16g): in local mode the driver JVM is the
    whole engine, and the other half is left to Python workers, page cache
    and the OS."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(16, kib // 2**20 // 2))}g"


def get_spark(
    app: str = "pdfplucker_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 1024,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = default_cpus()
    master = master or f"local[{cores}]"
    # Python workers are separate processes; they need the package on their
    # path (cluster equivalent: spark-submit --py-files, see job.py).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
    # One Arrow/BLAS thread per Python worker: N workers each spawning their
    # own pool oversubscribes N× and *inverts* scaling (measured: local[32]
    # slower than local[8] without this).
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cores),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join when its size conditions
        # hold (guide §3.1/§9): no per-partition sort on either side. The
        # candidate self-joins are the main winners (measured r10:
        # simhash pairs −14%, decontaminate −10% at sf0.1); scale-safe
        # because the planner still requires the build side to fit and
        # AQE skew-split stays on — SMJ remains the fallback everywhere
        # the conditions fail.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # docs vary 5..100k spans. The row cap is a coarse knob (it cannot
        # see payload size); the extract kernel re-splits any batch above
        # MAX_SPANS_PER_KERNEL_BATCH (extract.py:524), so larger row caps
        # are safe and measurably faster (512→4096 ≈ 18% on the headline)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # snappy (Spark's default): measured 85 MB zstd / 4.26 s vs 122 MB
        # snappy / 2.52 s on the 50k-doc extract sink — the write path is
        # ~1.7x faster for +44% bytes. Hot/intermediate tables want snappy;
        # archival tables should opt into zstd via job --codec.
        .config("spark.sql.parquet.compression.codec", "snappy")
        # run_id partition dirs must read back as STRING even when a caller
        # picks an all-digit run id (inference would flip them to int and
        # break the committed-run filters)
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # Python-heavy pipelines want more, smaller scan tasks than the
        # 128MB JVM default — nested-span batches expand a lot in flight
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_mem())
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
