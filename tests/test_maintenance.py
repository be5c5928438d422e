"""Vacuum + compaction: data-preserving, torn-run-removing, resume-safe,
attribution-preserving, and atomic at the marker level."""

import os

import pytest

from pdfplucker_spark import job
from pdfplucker_spark.gen import write_tier
from pdfplucker_spark.maintenance import _run_dirs, compact, vacuum


@pytest.fixture(scope="module")
def t1_path(tmp_path_factory):
    return write_tier("t1", str(tmp_path_factory.mktemp("data")))


def _fingerprint(spark, out, table="spans_out"):
    from pyspark.sql import functions as F

    df = job.committed_view(spark, out, table)
    drop = [c for c in ("run_id", "source_run_id") if c in df.columns]
    rows = (
        df.drop(*drop)
        .select(F.md5(F.to_json(F.struct("*"))).alias("h"))
        .collect()
    )
    return sorted(r.h for r in rows)


def test_compact_preserves_data_and_consolidates_runs(spark, t1_path, tmp_path):
    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="r1", limit=60)
    job.run(spark, t1_path, out, run_id="r2", resume=True)
    before = _fingerprint(spark, out)
    docs_before = _fingerprint(spark, out, "docs_out")

    new_run = compact(spark, out)

    assert job.committed_run_ids(out) == [new_run]
    assert set(_run_dirs(out, "spans_out")) == {new_run}
    assert _fingerprint(spark, out) == before
    assert _fingerprint(spark, out, "docs_out") == docs_before

    # per-run attribution survives in source_run_id (metrics/lineage/fails
    # are keyed by run — compaction must not flatten their history)
    metrics = job.committed_view(spark, out, "metrics")
    assert sorted(
        r.source_run_id for r in metrics.select("source_run_id").collect()
    ) == ["r1", "r2"]

    # resume after compaction is still a no-op (docs_out survived intact)
    m = job.run(spark, t1_path, out, run_id="r3", resume=True)
    assert m["total_docs"] == 0


def test_compact_twice_keeps_original_attribution(spark, t1_path, tmp_path):
    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="orig", limit=30)
    compact(spark, out)
    compact(spark, out)
    lin = job.committed_view(spark, out, "lineage")
    assert {r.source_run_id for r in lin.select("source_run_id").collect()} == {
        "orig"
    }


def test_compact_marker_switch_is_atomic(spark, t1_path, tmp_path):
    """After compact's marker lands, the old runs are superseded even though
    their marker files may still exist (the crash-window state): the
    committed set must already be exactly the new run."""
    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="old1", limit=40)
    new_run = compact(spark, out)
    # recreate the crash-window state: old marker resurrected post-switch
    with open(os.path.join(out, "_commits", "old1"), "w") as f:
        f.write("ok\n")
    assert job.committed_run_ids(out) == [new_run]  # still superseded
    # and vacuum (under the lease) reclaims the redundant marker
    vacuum(out)
    assert not os.path.exists(os.path.join(out, "_commits", "old1"))


def test_compact_covers_detail_tables(spark, t1_path, tmp_path):
    """Compaction discovers EVERY table dir (incl. --details sidecars);
    leaving one out would orphan its committed data when markers retire."""
    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="d1", details=True)
    before = {t: _fingerprint(spark, out, t) for t in ("spans_out", "pages", "images", "tables")}

    compact(spark, out)

    for t, fp in before.items():
        assert _fingerprint(spark, out, t) == fp, t


def test_orphaned_tmp_marker_is_inert_and_vacuumed(spark, t1_path, tmp_path):
    """A crash between _mark_committed's tmp write and os.replace leaves
    ``.{run}.tmp`` in _commits/. Its supersedes line must NOT retire the old
    runs (the new run never committed — honoring it would leave readers with
    neither old nor new data), and vacuum must reclaim the tmp without
    touching the still-committed old run."""
    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="r1", limit=40)
    before = _fingerprint(spark, out)
    # crash-window state: compaction's marker write died pre-replace
    with open(os.path.join(out, "_commits", ".compactdead.tmp"), "w") as f:
        f.write("ok\nseq: 999\nsupersedes: r1\n")

    assert job.committed_run_ids(out) == ["r1"]  # tmp is not a marker
    assert _fingerprint(spark, out) == before

    vacuum(out)
    assert not os.path.exists(os.path.join(out, "_commits", ".compactdead.tmp"))
    assert set(_run_dirs(out, "spans_out")) == {"r1"}  # data survived
    assert _fingerprint(spark, out) == before


def test_compact_rejects_table_subset(spark, t1_path, tmp_path):
    """The supersedes switch is global: compacting a strict subset of the
    discovered tables would orphan the omitted tables' committed rows."""
    from pdfplucker_spark.maintenance import discover_tables

    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="r1", limit=30)
    with pytest.raises(ValueError, match="must name exactly"):
        compact(spark, out, tables=("spans_out",))
    # an unknown extra table is rejected up front too (not mid-rewrite)
    with pytest.raises(ValueError, match="must name exactly"):
        compact(spark, out, tables=tuple(discover_tables(out)) + ("bogus",))
    # full explicit list is equivalent to None
    compact(spark, out, tables=discover_tables(out))


def test_compact_merges_mixed_run_schemas(spark, t1_path, tmp_path):
    """After a compact (which adds source_run_id) a NEW job run appends
    rows WITHOUT that column; the next compact must read with mergeSchema
    so provenance survives regardless of which footer Spark would have
    inferred the schema from."""
    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="first", limit=50)
    compact(spark, out)
    job.run(spark, t1_path, out, run_id="second", resume=True)
    compact(spark, out)
    lin = job.committed_view(spark, out, "lineage")
    assert {r.source_run_id for r in lin.select("source_run_id").collect()} == {
        "first",
        "second",
    }


def test_compact_clusters_files_by_doc_id(spark, t1_path, tmp_path):
    """Clustered compaction: output files own DISJOINT doc_id ranges (range
    partition + sort), so parquet min/max stats prune a point lookup to one
    file. Data preservation is covered by the fingerprint tests; here we
    check the physical layout."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="c1", limit=50)
    job.run(spark, t1_path, out, run_id="c2", resume=True)
    before = _fingerprint(spark, out)

    new_run = compact(spark, out, target_mb=0.05)  # force several files

    run_dir = _run_dirs(out, "spans_out")[new_run]
    ranges = []
    for f in sorted(os.listdir(run_dir)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(run_dir, f), columns=["doc_id"])
        ids = t.column("doc_id").to_pylist()
        assert ids == sorted(ids), f"{f} not sorted within file"
        ranges.append((min(ids), max(ids)))
    assert len(ranges) >= 2, "test needs multiple output files"
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, f"overlapping file ranges: {ranges}"
    assert _fingerprint(spark, out) == before


def test_run_id_validation_rejects_marker_namespace(tmp_path):
    """run_ids become marker file names and supersedes-line tokens: a
    dot-prefixed or separator/whitespace-carrying id would be silently
    ignored by readers and deleted by vacuum — reject it up front."""
    for bad in (".foo", "..", "a/b", "a\\b", "a b", "a\nb", "", "-x"):
        with pytest.raises(ValueError, match="invalid run_id"):
            job._validate_run_id(bad)
    assert job._validate_run_id("compact0a1b2c.v2") == "compact0a1b2c.v2"
    with pytest.raises(ValueError, match="invalid run_id"):
        job.run(None, "unused", str(tmp_path), run_id=".sneaky")
    assert not os.path.exists(os.path.join(str(tmp_path), "_RUN_LOCK"))


def test_compact_fence_refuses_after_lease_theft(spark, t1_path, tmp_path, monkeypatch):
    """A compact that loses its lease mid-rewrite (takeover after
    stale_sec) must NOT write the supersede marker: the old runs stay
    committed, the rewritten run stays torn, and the usurper's lock
    survives — same single-COMMITTER fence as the job path."""
    import pdfplucker_spark.maintenance as M

    out = str(tmp_path / "out_fence")
    job.run(spark, t1_path, out, run_id="r1", limit=30)
    before = job.committed_run_ids(out)
    before_fp = _fingerprint(spark, out)
    orig = M.committed_view

    def thief(*a, **k):  # fires during the rewrite, before the marker
        with open(os.path.join(out, "_RUN_LOCK"), "w") as f:
            f.write("usurper\n")
        return orig(*a, **k)

    monkeypatch.setattr(M, "committed_view", thief)
    with pytest.raises(RuntimeError, match="refusing to commit"):
        compact(spark, out)
    assert job.committed_run_ids(out) == before  # old runs untouched
    assert _fingerprint(spark, out) == before_fp  # readers see old data only
    with open(os.path.join(out, "_RUN_LOCK")) as f:
        assert f.read().strip() == "usurper"


def test_release_lock_collision_logs_and_keeps_displaced_lease(
    tmp_path, monkeypatch, caplog
):
    """Third-writer collision inside the release probe window: the
    displaced usurper's lease record must be KEPT (evidence) and the
    collision surfaced loudly, not silently discarded."""
    import logging

    out = str(tmp_path)
    path = os.path.join(out, "_RUN_LOCK")
    with open(path, "w") as f:
        f.write("usurper\n")

    def boom(src, dst):
        raise FileExistsError(dst)

    monkeypatch.setattr(os, "link", boom)
    with caplog.at_level(logging.ERROR, logger="pdfplucker_spark.job"):
        job._release_lock(path, "victim")
    assert any("lease collision" in r.message for r in caplog.records)
    probe = f"{path}.rel.victim"
    assert os.path.exists(probe)  # displaced lease kept for inspection
    with open(probe) as f:
        assert f.read().strip() == "usurper"


def test_vacuum_removes_only_torn_runs_and_takes_lease(spark, t1_path, tmp_path):
    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="good", limit=50)
    job.run(spark, t1_path, out, run_id="torn", resume=True)
    os.remove(os.path.join(out, "_commits", "torn"))  # simulate crash

    # a live writer's lease blocks vacuum (it would delete in-flight data)
    with open(os.path.join(out, "_RUN_LOCK"), "w") as f:
        f.write("live-run\n")
    with pytest.raises(RuntimeError, match="single-writer"):
        vacuum(out)
    os.remove(os.path.join(out, "_RUN_LOCK"))

    removed = vacuum(out)
    assert "torn" in removed["spans_out"]
    assert set(_run_dirs(out, "spans_out")) == {"good"}
    assert job.committed_view(spark, out).count() == 50


def test_table_stats_reports_committed_and_torn(spark, t1_path, tmp_path):
    """The read-only health report: committed vs torn run counts and real
    file/byte totals, without touching the lease or any data."""
    import os as _os

    from pdfplucker_spark.maintenance import table_stats

    out = str(tmp_path / "out_stats")
    job.run(spark, t1_path, out, run_id="s1", limit=30)
    # fake a torn run: data dir without a commit marker
    torn = _os.path.join(out, "spans_out", "run_id=torn1")
    _os.makedirs(torn)
    with open(_os.path.join(torn, "part-0.parquet"), "wb") as f:
        f.write(b"xx")
    stats = table_stats(out)
    assert stats["spans_out"]["committed_runs"] == 1
    assert stats["spans_out"]["torn_runs"] == 1
    assert stats["spans_out"]["n_files"] >= 2
    assert stats["spans_out"]["bytes"] > 0
    assert "docs_out" in stats and stats["docs_out"]["committed_runs"] == 1
    # read-only: no lease file left behind
    assert not _os.path.exists(_os.path.join(out, "_RUN_LOCK"))


def test_table_stats_distinguishes_superseded_from_torn(spark, t1_path, tmp_path):
    """A post-compact leftover (crash in cleanup step 3) is a superseded
    run, not a torn one — the report must not read as writer crashes."""
    import shutil as _sh

    from pdfplucker_spark.maintenance import table_stats

    out = str(tmp_path / "out_sup")
    job.run(spark, t1_path, out, run_id="old1", limit=30)
    # preserve the old run dir as if compact's cleanup crashed
    src = _run_dirs(out, "spans_out")["old1"]
    _sh.copytree(src, src + ".bak")
    compact(spark, out)
    _sh.copytree(src + ".bak", src)
    _sh.rmtree(src + ".bak")
    stats = table_stats(out)
    assert stats["spans_out"]["committed_runs"] == 1  # the compacted run
    assert stats["spans_out"]["superseded_runs"] == 1  # the leftover
    assert stats["spans_out"]["torn_runs"] == 0


def test_compact_fence_aborts_on_takeover_at_commit_point(
    spark, t1_path, tmp_path, monkeypatch
):
    """THE round-5 residual TOCTOU, now injected at its exact window: a
    REAL lease takeover (job._acquire_lock, stale_sec=0) fired between
    compact's rewrite and the supersede switch. The flock-fenced commit
    must see the lease inode replaced and abort — old runs stay
    committed, the rewrite stays torn, the usurper's lease survives."""
    import pdfplucker_spark.maintenance as M

    out = str(tmp_path / "out_toctou")
    job.run(spark, t1_path, out, run_id="r1", limit=30)
    before = job.committed_run_ids(out)
    before_fp = _fingerprint(spark, out)

    def takeover():
        job._acquire_lock(out, "usurper", stale_sec=0.0)

    monkeypatch.setattr(M, "_pre_commit_hook", takeover)
    with pytest.raises(RuntimeError, match="refusing to commit"):
        compact(spark, out)
    assert job.committed_run_ids(out) == before  # supersede never landed
    assert _fingerprint(spark, out) == before_fp
    with open(os.path.join(out, "_RUN_LOCK")) as f:
        assert f.read().strip() == "usurper"  # displaced writer kept out


def test_fenced_commit_critical_section_blocks_takeover(tmp_path, monkeypatch):
    """Atomicity of the fence itself: while _fenced_commit holds the lease
    flock (ownership verified, marker not yet written), a concurrent
    takeover must BLOCK — not interleave. It may only proceed after the
    marker lands, so a displaced writer can never abort-and-lose a commit
    that was already decided under an owned lease."""
    import threading
    import time as _time

    out = str(tmp_path / "out_flock")
    os.makedirs(out)
    job._acquire_lock(out, "me")
    state = {}

    def usurp():
        job._acquire_lock(out, "usurper", stale_sec=0.0)
        state["acquired_at"] = _time.monotonic()

    def hook():  # runs under the fence flock, pre-marker
        t = threading.Thread(target=usurp)
        t.start()
        state["thread"] = t
        _time.sleep(1.0)
        state["blocked_during_fence"] = t.is_alive()
        state["marker_decided_at"] = _time.monotonic()

    monkeypatch.setattr(job, "_fence_hook", hook)
    job._fenced_commit(out, "me")
    state["thread"].join(timeout=30)
    assert not state["thread"].is_alive()
    assert state["blocked_during_fence"]  # takeover waited out the fence
    assert state["acquired_at"] > state["marker_decided_at"]
    assert job.committed_run_ids(out) == ["me"]  # commit landed first
    with open(os.path.join(out, "_RUN_LOCK")) as f:
        assert f.read().strip() == "usurper"  # then the takeover won


def test_cli_compact_and_vacuum_index(spark, tmp_path):
    """The standing-index lifecycle through the operational surface: the
    maintenance CLI compacts a counts index (group-sum), then vacuums the
    superseded state, and the committed view + merged reads survive."""
    from pdfplucker_spark.job import _mark_committed, committed_run_ids
    from pdfplucker_spark.maintenance import main
    from pdfplucker_spark.streaming.stream import _index_wave_paths

    idx = f"{tmp_path}/idx"
    for k in range(3):
        spark.createDataFrame(
            [("shared", 1), (f"seg{k}", 2)], "seg string, n long"
        ).write.parquet(f"{idx}/bno={k}")
        _mark_committed(idx, f"bno-{k}")

    assert main(["--output", idx, "--action", "compact-index",
                 "--sum-over", "seg:n", "--master", "local[2]"]) == 0
    assert committed_run_ids(idx) == ["bnoc-0-2"]
    assert main(["--output", idx, "--action", "vacuum-index"]) == 0
    merged = {
        (r.seg, r.n)
        for r in spark.read.parquet(*_index_wave_paths(idx, 3)).collect()
    }
    assert merged == {("shared", 3), ("seg0", 2), ("seg1", 2), ("seg2", 2)}


def test_commit_marker_reader_rules(tmp_path):
    """``job._read_commits`` is the one marker reader, and the three
    public results keep their rules: a dotfile tmp is never a marker, an
    unreadable marker names a committed run (seq 0) but supersedes
    nothing, and a legacy or bad ``seq`` reads as 0."""
    from pdfplucker_spark.maintenance import table_stats

    out = str(tmp_path)
    assert job.committed_run_ids(out) == [] and job.commit_seqs(out) == {}
    d = tmp_path / "_commits"
    d.mkdir()
    (d / "a").write_text("ok\n")  # legacy: no seq line
    (d / "b").write_text("ok\nseq: 7\n")
    (d / "c").write_text("ok\nseq: bad\nsupersedes: a\n")
    (d / ".d.tmp").write_text("ok\nseq: 9\nsupersedes: b\n")  # dead tmp
    (d / "e").mkdir()  # unreadable marker
    for rid in ("a", "b", "z"):
        (tmp_path / "spans_out" / f"run_id={rid}").mkdir(parents=True)
    assert job.committed_run_ids(out) == ["b", "c", "e"]
    assert job.commit_seqs(out) == {"b": 7, "c": 0, "e": 0}
    stats = table_stats(out)["spans_out"]
    assert (stats["committed_runs"], stats["superseded_runs"], stats["torn_runs"]) == (1, 1, 1)


def test_commit_marker_lines_are_parsed_in_one_place():
    """The marker line prefixes ``seq:`` / ``supersedes:`` are spelled
    only by the writer (``job._mark_committed``) and the one reader
    (``job._read_commits``): another parser of the format fails here."""
    import ast
    import pathlib

    import pdfplucker_spark

    pkg = pathlib.Path(pdfplucker_spark.__file__).parent
    sites = set()
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and node.value.startswith(("seq:", "supersedes:"))
                ):
                    sites.add(f"{path.relative_to(pkg)}:{fn.name}")
    assert sites == {"job.py:_read_commits", "job.py:_mark_committed"}, sites
