"""The scan-parallelism rule (``plans.partitioning.fan_out``), pinned on the
job's real read path: a scan with enough splits passes through (one
FileScan, no exchange), a one-row-group file fans out with one round-robin
exchange, the decision launches no Spark job, and ``job.run(limit=…)`` never
shuffles below the limit. One function in the package decides fan-out."""

import ast
import pathlib

import pytest

from pdfplucker_spark import job
from pdfplucker_spark.gen import gen_doc, rows_to_table
from pdfplucker_spark.operators.extract import extract_spans
from pdfplucker_spark.plans.partitioning import fan_out

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _write(tmp_path, n_files: int) -> str:
    """200 small docs + 3 giants, as ``n_files`` one-row-group files."""
    import pyarrow.parquet as pq

    rows = [gen_doc(i, min_spans=5, max_spans=50) for i in range(200)]
    rows += [gen_doc(1000 + i, min_spans=30_000, max_spans=30_000) for i in range(3)]
    d = tmp_path / f"in_{n_files}"
    d.mkdir()
    for k in range(n_files):
        pq.write_table(rows_to_table(rows[k::n_files]), str(d / f"part-{k}.parquet"))
    return str(d)


def test_multi_file_input_is_one_scan_no_exchange(spark, tmp_path):
    """Two splits at local[4]: 2 × 4 > 4, the rule does not fire — the
    byte-balanced scan is the balance (no giant tier, no second scan)."""
    docs = fan_out(job.read_docs(spark, _write(tmp_path, 2), "parquet"))
    plan = _plan(extract_spans(docs))
    assert plan.count("FileScan") == 1, plan[:2000]
    assert plan.count("Exchange") == 0, plan[:2000]
    assert "MapInArrow" in plan
    assert docs.count() == 203


def test_one_row_group_file_fans_out_round_robin(spark, tmp_path):
    """One split at local[4]: 1 × 4 <= 4, one round-robin exchange to
    defaultParallelism unlocks the extract's map parallelism."""
    docs = fan_out(job.read_docs(spark, _write(tmp_path, 1), "parquet"))
    plan = _plan(extract_spans(docs))
    assert plan.count("FileScan") == 1, plan[:2000]
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "RoundRobinPartitioning(4)" in plan, plan[:2000]
    assert docs.count() == 203


def test_fan_out_decision_launches_no_job(spark, tmp_path):
    sc = spark.sparkContext
    scan = job.read_docs(spark, _write(tmp_path, 1), "parquet")
    sc.setJobGroup("fan_out_probe", "fan-out decision")
    try:
        fan_out(scan)
        assert list(sc.statusTracker().getJobIdsForGroup("fan_out_probe")) == []
        scan.count()  # control: the tracker does see this group's jobs
        assert list(sc.statusTracker().getJobIdsForGroup("fan_out_probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize("limit", [None, 30])
def test_job_fans_out_the_bare_scan_never_below_the_limit(
    spark, tmp_path, monkeypatch, limit
):
    """The job's own extract input: on a one-file input the rule fires on
    a full run, and a smoke run's limit has no Exchange below it (only the
    limit's own single-partition gather)."""
    seen = []

    def spy(df, span_budget=None):
        seen.append(df)
        return extract_spans(df, span_budget=span_budget)

    monkeypatch.setattr(job, "extract_spans", spy)
    src = _write(tmp_path, 1)
    m = job.run(spark, src, str(tmp_path / "out"), run_id="r", limit=limit)
    assert m["total_docs"] == (limit or 203)
    plan = _plan(seen[0])
    assert plan.count("FileScan") == 1, plan
    if limit is None:
        assert plan.count("Exchange") == 1 and "RoundRobinPartitioning" in plan, plan
    else:
        below = plan[plan.rindex("Limit") :]
        assert "Exchange" not in below, plan
        assert "RoundRobinPartitioning" not in plan, plan


def _partition_reads(tree) -> int:
    return sum(
        isinstance(n, ast.Attribute) and n.attr == "getNumPartitions"
        for n in ast.walk(tree)
    )


def test_only_the_rule_reads_partition_counts():
    """``getNumPartitions`` appears in exactly one function of the package,
    ``plans/partitioning.fan_out`` — a second under-parallel rule cannot
    creep back."""
    import pdfplucker_spark

    pkg = pathlib.Path(pdfplucker_spark.__file__).parent
    sites, n_reads = set(), 0
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        n_reads += _partition_reads(tree)
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and _partition_reads(fn):
                sites.add((path.relative_to(pkg).as_posix(), fn.name))
    assert sites == {("plans/partitioning.py", "fan_out")}, sites
    assert n_reads == 1, n_reads
