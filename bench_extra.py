#!/usr/bin/env python
"""Optimization-round measurement harness (guide §1.4): times individual
registry queries through the noop sink (computation only, no sink cost)
and captures ``explain("formatted")`` plans into plans/r10/.

This file is NOT the driver bench (bench.py is frozen for measurement);
numbers printed here are the working evidence cited in OPTIMIZATION_r10.md.

Usage:
  python bench_extra.py time  <query>... [passes]   # noop-sink timing
  python bench_extra.py plan  <query>... [suffix]   # plans/r10/<q>_<suffix>.txt
  python bench_extra.py e2e   [passes]              # headline extract leg

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS  (default: the CPUs this process may run on).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdfplucker_spark.registry import all_queries  # noqa: E402
from pdfplucker_spark.session import default_cpus, get_spark  # noqa: E402

REPO = os.path.dirname(os.path.abspath(__file__))
PLAN_DIR = os.path.join(REPO, "plans", "r10")


def _session():
    cpus = default_cpus()
    return get_spark(
        app="bench_extra",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        arrow_batch_rows=4096,
    )


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def cmd_time(names: list[str], passes: int = 4) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    reg = all_queries()
    # warm the JVM + Python workers once
    spark.range(0, 10_000_000, 1, 32).selectExpr("sum(id)").collect()
    per: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(passes):
        for n in names:
            fn = reg[n][0]
            spark.sparkContext.setJobDescription(f"bench_extra:{n}")
            t0 = time.perf_counter()
            _noop(fn(spark, sf_dir))
            per[n].append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
    print(json.dumps({n: {"min": min(ts), "passes": ts} for n, ts in per.items()}))
    spark.stop()


def cmd_plan(names: list[str], suffix: str = "before") -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(PLAN_DIR, exist_ok=True)
    spark = _session()
    reg = all_queries()
    for n in names:
        df = reg[n][0](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(PLAN_DIR, f"{n}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(path)
        spark.catalog.clearCache()
    spark.stop()


def cmd_e2e(passes: int = 4) -> None:
    """The headline leg's computation, noop-sinked (no parquet write)."""
    from pdfplucker_spark.gen import write_tier
    from pdfplucker_spark.operators.extract import extract_spans
    from pdfplucker_spark.plans.partitioning import fan_out

    cpus = default_cpus()
    bench_path = write_tier("bench", os.path.join(REPO, ".data"))
    spark = _session()
    docs = spark.read.parquet(bench_path)
    docs.count()
    extract_spans(docs.sample(0.02).repartition(4 * cpus)).count()
    ts = []
    for _ in range(passes):
        t0 = time.perf_counter()
        _noop(extract_spans(fan_out(spark.read.parquet(bench_path))))
        ts.append(round(time.perf_counter() - t0, 3))
    print(json.dumps({"extract_e2e_noop": {"min": min(ts), "passes": ts}}))
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    rest = sys.argv[2:]
    if cmd == "plan":
        suffix = "before"
        if rest and rest[-1] in ("before", "after"):
            suffix = rest[-1]
            rest = rest[:-1]
        cmd_plan(rest, suffix)
    elif cmd == "e2e":
        cmd_e2e(int(rest[0]) if rest else 4)
    else:
        passes = 4
        if rest and rest[-1].isdigit():
            passes = int(rest[-1])
            rest = rest[:-1]
        cmd_time(rest, passes)
