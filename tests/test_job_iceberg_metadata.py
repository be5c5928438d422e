"""Catalog (iceberg-mode) job branch + S3 metadata pass-through.

No Iceberg runtime jar exists in this sandbox (no network; documented
blocker), so the ``--format iceberg`` branch — spark.read.table ingest,
DataFrameWriterV2 create/append per table, docs_out-based resume, and the
catalog committed_view — is exercised against Spark's real V2 session
catalog with parquet-backed tables. On a cluster the same code path talks
to an Iceberg catalog; nothing here is stubbed except the catalog name.
"""

import os

import pytest

from pdfplucker_spark import job
from pdfplucker_spark.gen import gen_rows, write_tier
from pdfplucker_spark.schemas import METADATA_TYPE


@pytest.fixture(scope="module")
def t1_path(tmp_path_factory):
    return write_tier("t1", str(tmp_path_factory.mktemp("data")))


@pytest.fixture()
def catalog_ns(spark, tmp_path):
    ns = "plk_it"
    spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")
    spark.sql(f"CREATE DATABASE {ns} LOCATION '{tmp_path}/wh'")
    yield ns
    spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")


def test_iceberg_branch_end_to_end_with_resume(spark, t1_path, catalog_ns):
    ns = catalog_ns
    # ingest through the catalog read path too (spark.read.table)
    spark.read.parquet(t1_path).write.saveAsTable(f"{ns}.docs_in")

    m1 = job.run(
        spark, f"{ns}.docs_in", ns, run_id="i1", fmt="iceberg", limit=60
    )
    assert m1["total_docs"] == 60

    # second run resumes from the catalog docs_out table (anti-join)
    m2 = job.run(
        spark, f"{ns}.docs_in", ns, run_id="i2", fmt="iceberg", resume=True
    )
    assert m2["total_docs"] == 40

    spans = spark.read.table(f"{ns}.spans_out")
    assert spans.count() == 100
    assert spans.select("doc_id").distinct().count() == 100

    # catalog committed_view: every run_id present in docs_out is committed
    view = job.committed_view(spark, ns, fmt="iceberg")
    assert view.count() == 100

    # a further resume is a no-op and must not disturb the tables
    m3 = job.run(
        spark, f"{ns}.docs_in", ns, run_id="i3", fmt="iceberg", resume=True
    )
    assert m3["total_docs"] == 0
    assert spark.read.table(f"{ns}.spans_out").count() == 100


def test_iceberg_resume_propagates_docs_out_read_errors(
    spark, t1_path, catalog_ns, monkeypatch
):
    """Only a MISSING docs_out table means "nothing committed"; a failing
    read of an existing one must raise instead of re-committing every doc."""
    ns = catalog_ns
    spark.read.parquet(t1_path).write.saveAsTable(f"{ns}.docs_in")
    job.run(spark, f"{ns}.docs_in", ns, run_id="f1", fmt="iceberg", limit=40)
    reader = type(spark.read)
    real = reader.table

    def flaky(self, name, *a, **kw):
        if name.endswith(".docs_out"):
            raise OSError("transient catalog read failure")
        return real(self, name, *a, **kw)

    monkeypatch.setattr(reader, "table", flaky)
    with pytest.raises(OSError, match="transient"):
        job.run(spark, f"{ns}.docs_in", ns, run_id="f2", fmt="iceberg", resume=True)
    monkeypatch.undo()
    assert spark.read.table(f"{ns}.docs_out").count() == 40


def test_latest_view_iceberg_mode(spark, t1_path, catalog_ns):
    """Doc-level reprocessing under the catalog branch: a re-run WITHOUT
    resume duplicates doc_ids across runs; latest_view (ordered by the
    commits table the job appends after docs_out) must keep exactly the
    newest committed copy of each doc."""
    ns = catalog_ns
    spark.read.parquet(t1_path).write.saveAsTable(f"{ns}.docs_in")
    job.run(spark, f"{ns}.docs_in", ns, run_id="a1", fmt="iceberg")
    job.run(
        spark, f"{ns}.docs_in", ns, run_id="a2", fmt="iceberg", limit=30
    )

    assert spark.read.table(f"{ns}.commits").count() == 2
    lv = job.latest_view(spark, ns, "docs_out", fmt="iceberg")
    win = {r.doc_id: r.run_id for r in lv.select("doc_id", "run_id").collect()}
    assert len(win) == 100  # one winner per doc
    redone = {
        r.doc_id
        for r in spark.read.table(f"{ns}.docs_out")
        .where("run_id = 'a2'")
        .select("doc_id")
        .collect()
    }
    assert len(redone) == 30
    assert all(win[d] == "a2" for d in redone)  # re-runs win
    assert sum(1 for v in win.values() if v == "a2") == 30

    # the big payload table follows the same winner set
    sv = job.latest_view(spark, ns, "spans_out", fmt="iceberg")
    assert sv.select("doc_id").distinct().count() == 100
    assert sv.count() == 100  # no duplicated spans rows


def test_metadata_struct_passes_through_docs_out(spark, t1_path, tmp_path):
    """S3 analogue (processor.py:268-282): a caller-supplied 6-field
    metadata struct rides through to docs_out; inputs without one still get
    the (null) column so the sink schema is stable."""
    from pyspark.sql import functions as F

    src = spark.read.parquet(t1_path)
    with_meta = src.withColumn(
        "metadata",
        F.struct(
            F.lit("PDF 1.7").alias("format"),
            F.concat(F.lit("title-"), "doc_id").alias("title"),
            F.lit("D:20240101000000").alias("creationDate"),
            F.lit(None).cast("string").alias("modDate"),
            F.concat(F.col("doc_id"), F.lit(".pdf")).alias("filename"),
            F.size("spans").alias("pageAmount"),
        ),
    )
    in_dir = str(tmp_path / "in_meta")
    with_meta.write.parquet(in_dir)

    out = str(tmp_path / "out_meta")
    job.run(spark, in_dir, out, run_id="m1")
    docs_out = spark.read.parquet(os.path.join(out, "docs_out"))
    assert docs_out.schema["metadata"].dataType == METADATA_TYPE
    rows = {r.doc_id: r.metadata for r in docs_out.collect()}
    assert len(rows) == 100
    for doc_id, spans in gen_rows("t1"):
        md = rows[doc_id]
        assert md.filename == f"{doc_id}.pdf"
        assert md.title == f"title-{doc_id}"
        assert md.pageAmount == len(spans)

    # no metadata column on input → null struct, same schema
    out2 = str(tmp_path / "out_nometa")
    job.run(spark, t1_path, out2, run_id="m2")
    d2 = spark.read.parquet(os.path.join(out2, "docs_out"))
    assert d2.schema["metadata"].dataType == METADATA_TYPE
    assert d2.where(F.col("metadata").isNotNull()).count() == 0


def test_docs_out_schema_evolution_across_job_versions(spark, t1_path, tmp_path):
    """A pre-metadata-era docs_out run (no metadata column) must remain
    readable next to new runs: committed_view over mixed-schema run dirs
    merges to the union schema with nulls for the old rows."""
    import shutil

    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="old", limit=30)

    # simulate the old-version run: rewrite its partition without metadata
    old_dir = os.path.join(out, "docs_out", "run_id=old")
    legacy = spark.read.parquet(old_dir).drop("metadata")
    tmp_dir = str(tmp_path / "legacy")
    legacy.write.parquet(tmp_dir)
    shutil.rmtree(old_dir)
    shutil.move(tmp_dir, old_dir)

    job.run(spark, t1_path, out, run_id="new", resume=True)

    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "docs_out")
    )
    assert "metadata" in merged.columns
    assert merged.count() == 100
    from pyspark.sql import functions as F

    assert merged.where(F.col("run_id") == "old").where(
        F.col("metadata").isNotNull()
    ).count() == 0


def test_writer_lease_blocks_concurrent_run(spark, t1_path, tmp_path):
    out = str(tmp_path / "out_lock")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "_RUN_LOCK"), "w") as f:
        f.write("other-run\n")
    with pytest.raises(RuntimeError, match="single-writer"):
        job.run(spark, t1_path, out, run_id="blocked")
    # stale lease (older than stale_sec) is taken over
    old = os.path.join(out, "_RUN_LOCK")
    os.utime(old, (0, 0))
    m = job.run(spark, t1_path, out, run_id="takeover")
    assert m["total_docs"] == 100
    assert not os.path.exists(old)


def test_commit_fence_refuses_after_lease_theft(spark, t1_path, tmp_path, monkeypatch):
    """If the lease is stolen mid-run (takeover after stale_sec), the
    displaced writer must NOT commit: its appends stay torn (invisible to
    committed_view) and resume reprocesses them — never two committers."""
    import pdfplucker_spark.job as J

    out = str(tmp_path / "out_fence")
    orig = J.fails_table

    def thief(df, run_id):  # fires late in _run_locked, before the marker
        with open(os.path.join(out, "_RUN_LOCK"), "w") as f:
            f.write("usurper\n")
        return orig(df, run_id)

    monkeypatch.setattr(J, "fails_table", thief)
    with pytest.raises(RuntimeError, match="refusing to commit"):
        J.run(spark, t1_path, out, run_id="victim", limit=20)
    assert J.committed_run_ids(out) == []  # torn, invisible
    # and the usurper's live lock survived the victim's release
    with open(os.path.join(out, "_RUN_LOCK")) as f:
        assert f.read().strip() == "usurper"


def test_salted_agg_null_semantics(spark, tmp_path):
    """COUNT(DISTINCT user_id) contract on a corpus with NULL user_ids and
    a NULL event_type: nulls never count as users, and an all-null-user
    group still appears with n_users = 0 (left null-safe join)."""
    from pyspark.sql import Row

    from pdfplucker_spark.operators.relational import q_events_salted_agg

    rows = [
        Row(event_id=1, ts=None, user_id=7, event_type="click", value=1.0, props=None),
        Row(event_id=2, ts=None, user_id=None, event_type="click", value=2.0, props=None),
        Row(event_id=3, ts=None, user_id=None, event_type="ghost", value=3.0, props=None),
        Row(event_id=4, ts=None, user_id=9, event_type=None, value=4.0, props=None),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.event_type: (r.n_events, r.n_users)
        for r in q_events_salted_agg(spark, str(tmp_path)).collect()
    }
    assert got == {"click": (2, 1), "ghost": (1, 0), None: (1, 1)}


def test_release_lock_checks_ownership(tmp_path):
    """A run that outlived stale_sec and was taken over must NOT delete the
    usurper's live lock on exit (that would admit a third writer)."""
    out = str(tmp_path / "out_rel")
    lock = job._acquire_lock(out, "runA")
    # simulate takeover: the lease now names another run
    with open(lock, "w") as f:
        f.write("runB\n")
    job._release_lock(lock, "runA")
    assert os.path.exists(lock)  # not ours anymore — left alone
    job._release_lock(lock, "runB")
    assert not os.path.exists(lock)  # the real holder releases fine
