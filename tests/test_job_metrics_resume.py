"""Job lifecycle: metrics math (S11/S12), failure log, lineage, resume."""

import os

import pytest

from pdfplucker_spark import job
from pdfplucker_spark.gen import gen_rows, write_tier
from pdfplucker_spark.oracle import extract_doc


@pytest.fixture(scope="module")
def t1_path(tmp_path_factory):
    return write_tier("t1", str(tmp_path_factory.mktemp("data")))


def test_job_end_to_end_metrics(spark, t1_path, tmp_path):
    out = str(tmp_path / "out")
    m = job.run(spark, t1_path, out, run_id="r1")

    rows = list(gen_rows("t1"))
    expected_failed = sum(
        1 for d, s in rows if extract_doc(d, s)["status"] == "error"
    )
    assert m["total_docs"] == 100
    assert m["processed_docs"] == 100
    assert m["failed_docs"] == expected_failed
    # the reference's formula ((p - f)/p)*100 (processor.py:449-450)
    assert m["success_rate"] == pytest.approx(
        (100 - expected_failed) / 100 * 100.0
    )
    assert m["elapsed_time"] > 0
    assert m["total_input_spans"] == sum(len(s) for _, s in rows)

    fails = spark.read.parquet(os.path.join(out, "fails"))
    assert fails.count() == expected_failed
    frow = fails.first()
    assert frow.run_id == "r1" and frow.error

    lin = spark.read.parquet(os.path.join(out, "lineage"))
    lrows = lin.collect()
    assert sum(r.n_docs for r in lrows) == 100
    assert sum(r.n_failed for r in lrows) == expected_failed
    assert all(r.run_id == "r1" for r in lrows)


def test_resume_no_duplicates_and_equality(spark, t1_path, tmp_path):
    out = str(tmp_path / "out")
    # partial run (S2 limit), then resume to completion
    m1 = job.run(spark, t1_path, out, run_id="part", limit=60)
    assert m1["total_docs"] == 60
    m2 = job.run(spark, t1_path, out, run_id="rest", resume=True)
    assert m2["total_docs"] == 40

    res = spark.read.parquet(os.path.join(out, "spans_out"))
    assert res.count() == 100
    assert res.select("doc_id").distinct().count() == 100  # no dups

    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in res.collect()
    }
    for doc_id, spans in gen_rows("t1"):
        exp = extract_doc(doc_id, spans)
        g = got[doc_id]
        gspans = [
            {k: s[k] for k in ("kind", "text", "media_ref", "offset")}
            for s in g["spans"]
        ]
        assert g["status"] == exp["status"] and gspans == exp["spans"], doc_id


def test_resume_noop_when_complete(spark, t1_path, tmp_path):
    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="full")
    m = job.run(spark, t1_path, out, run_id="again", resume=True)
    assert m["total_docs"] == 0
    res = spark.read.parquet(os.path.join(out, "spans_out"))
    assert res.count() == 100


def test_torn_run_reprocessed_exactly_once(spark, t1_path, tmp_path):
    """Crash between spans_out and the commit marker → resume must
    reprocess those docs, and the committed view must hold exactly one
    copy per doc (exactly-once under the parquet fallback)."""
    import os as _os

    out = str(tmp_path / "out")
    # full run that "crashes" after writes but before the commit marker
    job.run(spark, t1_path, out, run_id="torn", limit=40)
    _os.remove(_os.path.join(out, "_commits", "torn"))  # simulate the crash

    # resume: torn run invisible → all 100 docs processed again
    m = job.run(spark, t1_path, out, run_id="good", resume=True)
    assert m["total_docs"] == 100

    # raw table contains the torn duplicates…
    raw = spark.read.parquet(_os.path.join(out, "spans_out"))
    assert raw.count() == 140
    # …the committed view does not
    view = job.committed_view(spark, out)
    assert view.count() == 100
    assert view.select("doc_id").distinct().count() == 100

    # and a further resume is a no-op
    m2 = job.run(spark, t1_path, out, run_id="again", resume=True)
    assert m2["total_docs"] == 0


def test_resume_propagates_docs_out_read_errors(spark, t1_path, tmp_path, monkeypatch):
    """Once a run is committed, a docs_out read failure on resume must
    raise: reading it as "nothing committed" would re-extract and re-commit
    every doc (duplicate docs_out rows)."""
    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="first", limit=40)
    reader = type(spark.read)
    real = reader.parquet

    def flaky(self, *paths, **kw):
        if any(str(p).endswith("docs_out") for p in paths):
            raise OSError("transient docs_out read failure")
        return real(self, *paths, **kw)

    monkeypatch.setattr(reader, "parquet", flaky)
    with pytest.raises(OSError, match="transient"):
        job.run(spark, t1_path, out, run_id="second", resume=True)
    monkeypatch.undo()

    assert job.committed_run_ids(out) == ["first"]
    m = job.run(spark, t1_path, out, run_id="third", resume=True)
    assert m["total_docs"] == 60
    assert job.committed_view(spark, out, "docs_out").count() == 100


def test_sink_write_failure_releases_the_cache(spark, t1_path, tmp_path, monkeypatch):
    """A sink write that raises must not leave the persisted extraction
    payload cached in a long-lived session."""
    writer = type(spark.range(1).write)
    real = writer.parquet

    def failing(self, path, *a, **kw):
        if path.endswith("lineage"):
            raise OSError("lineage write failed")
        return real(self, path, *a, **kw)

    spark.catalog.clearCache()
    monkeypatch.setattr(writer, "parquet", failing)
    with pytest.raises(OSError, match="lineage write failed"):
        job.run(spark, t1_path, str(tmp_path / "out"), run_id="r")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_metrics_aggregate_runs_in_one_action(spark, t1_path, tmp_path, monkeypatch):
    """The metrics aggregate — the run's only count(DISTINCT ...) — is
    executed by one action: its collected row is both the returned dict
    and the metrics table append. Every action the parquet path issues
    (collect, count, parquet writes) records its optimized plan."""
    plans = []

    def record(cls, name, frame):
        real = getattr(cls, name)

        def action(self, *a, **kw):
            plans.append(frame(self)._jdf.queryExecution().optimizedPlan().toString())
            return real(self, *a, **kw)

        monkeypatch.setattr(cls, name, action)

    df = spark.range(1)
    record(type(df), "collect", lambda d: d)
    record(type(df), "count", lambda d: d)
    record(type(df.write), "parquet", lambda w: w._df)
    m = job.run(spark, t1_path, str(tmp_path / "out"), run_id="r")
    monkeypatch.undo()
    assert m["total_docs"] == 100
    assert sum("count(distinct" in p for p in plans) == 1, plans


def test_metrics_table_schema_and_rows(spark, t1_path, tmp_path):
    """The metrics table keeps its schema, and each row equals the dict
    the run returned — for a run with docs and for an empty resume run
    (NULL sums)."""
    out = str(tmp_path / "out")
    ms = [
        job.run(spark, t1_path, out, run_id="full"),
        job.run(spark, t1_path, out, run_id="empty", resume=True),
    ]
    assert ms[1]["total_docs"] == 0 and ms[1]["total_pages"] is None
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.schema.simpleString() == (
        "struct<initial_time:double,elapsed_time:double,total_docs:bigint,"
        "processed_docs:bigint,failed_docs:bigint,success_rate:double,"
        "total_input_spans:bigint,total_pages:bigint,total_images:bigint,"
        "total_tables:bigint,run_id:string>"
    )
    assert [r.asDict() for r in metrics.orderBy("run_id").collect()] == [
        ms[1], ms[0]
    ]
