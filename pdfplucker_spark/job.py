"""spark-submit entrypoint — the CLI/batch lifecycle (SURVEY.md §3.4).

Replaces the reference's CLI + pool + per-doc subprocess orchestration
(cli.py:11-167, processor.py:183-231,342-455) with one declarative plan:

    scan → fan-out rule (round-robin only when the scan is under-parallel)
    → resume filter (anti-join committed doc_ids) → mapInArrow extract →
    write spans_out + fails + lineage + metrics

Iceberg-first design, Parquet fallback (SURVEY.md §7.4): with
``--format iceberg`` tables are written through ``writeTo(...).append()``
and resume uses the last committed snapshot; in this sandbox (no Iceberg
runtime jar) ``--format parquet`` appends parquet under ``--output`` and
resume anti-joins against the committed ``spans_out`` doc_ids.

Cluster run:
    spark-submit --py-files pdfplucker_spark.zip -m pdfplucker_spark.job \
        --input <table-or-path> --output <dir> --resume
"""

from __future__ import annotations

import argparse
import logging
import os
import re
import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from pdfplucker_spark.metrics import (
    fails_table,
    lineage_table,
    run_metrics,
    with_lineage_cols,
)
from pdfplucker_spark.operators.extract import extract_bundle, extract_spans
from pdfplucker_spark.plans.partitioning import fan_out
from pdfplucker_spark.session import get_spark


# run_ids become partition-directory names AND commit-marker file names;
# the marker namespace reserves dot-prefixes for in-flight tmp files
# (ignored by readers, reclaimed by vacuum) and the marker body is a
# whitespace-delimited line format. A caller-supplied id like '.foo' or
# 'a b' would therefore silently fall outside the committed set (its data
# vacuumed as torn) or corrupt a supersedes line — reject it up front.
_RUN_ID_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


def _validate_run_id(run_id: str) -> str:
    if not _RUN_ID_RE.fullmatch(run_id):
        raise ValueError(
            f"invalid run_id {run_id!r}: must match {_RUN_ID_RE.pattern} "
            "(no leading dot — reserved for tmp commit markers; no path "
            "separators or whitespace — marker files and supersedes lines "
            "use them as delimiters)"
        )
    return run_id


def read_docs(spark, input_path: str, fmt: str) -> DataFrame:
    if fmt == "iceberg":
        return spark.read.table(input_path)
    return spark.read.parquet(input_path)


def _read_commits(output: str) -> tuple[dict[str, int], set[str]]:
    """THE reader of the ``_commits/`` marker format ``_mark_committed``
    writes: ``({marker name: seq}, superseded run ids)``, names sorted.

    A marker may carry a ``supersedes: r1 r2 ...`` line (written by
    compaction): the listed runs are excluded even if their marker files
    still exist, which makes a compaction's old→new switch ATOMIC — one
    marker-file creation flips the whole committed set. ``seq`` orders
    commits for latest_view; a legacy marker (no ``seq:`` line) or a bad
    value reads as 0.

    Only real marker names count: dotfiles (``.{run_id}.tmp`` orphaned by a
    crash between _mark_committed's tmp write and os.replace) are NOT
    markers — honoring a dead tmp's ``supersedes:`` line would retire the
    old runs while the new run never committed, leaving readers with
    neither (and a later vacuum would delete both). vacuum() reclaims
    stale tmps under the lease. An unreadable marker still names a
    committed run (seq 0) but supersedes nothing."""
    d = os.path.join(output, "_commits")
    try:
        names = sorted(n for n in os.listdir(d) if not n.startswith("."))
    except FileNotFoundError:
        return {}, set()
    seqs: dict[str, int] = {}
    superseded: set[str] = set()
    for n in names:
        seq, sup = 0, []
        try:
            with open(os.path.join(d, n)) as f:
                for line in f:
                    if line.startswith("seq:"):
                        try:
                            seq = int(line.split(":", 1)[1])
                        except ValueError:
                            seq = 0
                    elif line.startswith("supersedes:"):
                        sup += line.split(":", 1)[1].split()
        except (OSError, UnicodeDecodeError):
            seq, sup = 0, []
        seqs[n] = seq
        superseded.update(sup)
    return seqs, superseded


def commit_seqs(output: str) -> dict[str, int]:
    """Commit order of the committed runs (marker seq; 0 for legacy
    markers, lexical run_id breaks remaining ties deterministically)."""
    seqs, superseded = _read_commits(output)
    return {n: s for n, s in seqs.items() if n not in superseded}


def committed_run_ids(output: str) -> list[str]:
    """Runs whose ENTIRE output set landed durably. Under Iceberg this is
    the snapshot log; the parquet fallback uses per-run commit markers
    written only after every table append for the run succeeded, minus
    the runs a compaction superseded (``_read_commits``)."""
    return list(commit_seqs(output))


def _mark_committed(output: str, run_id: str, supersedes: list[str] | None = None) -> None:
    _validate_run_id(run_id)
    d = os.path.join(output, "_commits")
    os.makedirs(d, exist_ok=True)
    # write-then-rename: the marker appears atomically with full content.
    # seq orders commits for latest_view (doc-level reprocessing reads).
    tmp = os.path.join(d, f".{run_id}.tmp")
    with open(tmp, "w") as f:
        f.write("ok\n")
        f.write(f"seq: {time.time_ns()}\n")
        if supersedes:
            f.write("supersedes: " + " ".join(supersedes) + "\n")
    os.replace(tmp, os.path.join(d, run_id))


def latest_view(
    spark, output: str, table: str = "spans_out", fmt: str = "parquet"
) -> DataFrame:
    """Doc-level reprocessing read: when changed upstream docs are re-run
    WITHOUT --resume, multiple committed runs legitimately carry the same
    doc_id; this view keeps each doc's NEWEST committed copy (commit seq,
    run_id as tie-break). The winner set is decided on the compact docs_out
    table (one row per doc per run), then semi-joined onto the requested
    table — the big span payloads never flow through the ranking window.

    Commit order source: the parquet marker's ``seq`` line, or in catalog
    (iceberg) mode the ``commits`` table the job appends after docs_out
    (a run missing there — crash in the window — coalesces to seq 0,
    exactly like a legacy marker)."""
    from pyspark.sql import Window

    if fmt == "iceberg":
        # only a MISSING commits table (pre-upgrade output) falls back to
        # seq 0; any other read failure must propagate — silently ranking
        # every run equal would hand ties to lexical run_id order and could
        # serve STALE doc copies without any signal
        if spark.catalog.tableExists(f"{output}.commits"):
            seqs = {
                r["run_id"]: r["seq"]
                for r in spark.read.table(f"{output}.commits").collect()
            }
        else:
            seqs = {}
    else:
        seqs = commit_seqs(output)
    docs = committed_view(spark, output, "docs_out", fmt=fmt).select(
        "doc_id", "run_id"
    )
    # commit order attaches via a BROADCAST join on the tiny (run_id, seq)
    # frame — one row per committed run, sent as an Arrow table (a list of
    # Rows takes a Python RDD). A per-run CASE chain would grow the
    # expression tree with run count: 10k compactions-worth of history is
    # a 10k-branch expression per row.
    if seqs:
        seq_df = spark.createDataFrame(
            pa.table({"run_id": list(seqs), "commit_seq": list(seqs.values())}),
            "run_id string, commit_seq long",
        )
        docs = docs.join(F.broadcast(seq_df), "run_id", "left").withColumn(
            "commit_seq", F.coalesce("commit_seq", F.lit(0))
        )
    else:
        docs = docs.withColumn("commit_seq", F.lit(0))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("commit_seq"), F.desc("run_id")
    )
    winners = (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "run_id")
    )
    # no broadcast hint: winners is doc-cardinality (huge at 100 TB) — AQE
    # picks broadcast only when the doc count actually fits
    tbl = committed_view(spark, output, table, fmt=fmt)
    return tbl.join(winners, ["doc_id", "run_id"], "left_semi")


# test seam: called by _fenced_commit after ownership is verified, before
# the marker lands — still under the lease-inode flock, so an injected
# takeover attempt must block or abort rather than interleave
_fence_hook = None


def _fenced_commit(output: str, run_id: str, supersedes=None) -> None:
    """Verify lease ownership AND write the commit marker as one critical
    section under an ``flock`` on the lease inode — closing the re-read →
    ``_mark_committed`` TOCTOU both the job and compact fences carried
    (a takeover landing inside that gap could let a displaced writer
    commit). Takeover (``_acquire_lock``) takes the same flock before
    renaming the stale lease away, so the two critical sections serialize:
    either the takeover's rename lands first (this fence then sees the
    path gone or a different inode and aborts), or this fence completes
    the marker first (the supersede/commit happened while the lease was
    still owned — correct either way).

    flock is advisory, which suffices here: every writer path (job,
    compact, vacuum, takeover) goes through this module. The fd is closed
    in ``finally`` — flocks die with the fd, so no crash leaves the lease
    inode locked."""
    import fcntl

    lock_path = os.path.join(output, "_RUN_LOCK")

    def _lost(detail: str):
        return RuntimeError(
            f"writer lease lost during run {run_id!r} ({detail}); refusing "
            "to commit — this run's appends stay torn (invisible to "
            "committed_view) and vacuum/resume will reclaim or reprocess them"
        )

    try:
        fd = os.open(lock_path, os.O_RDONLY)
    except FileNotFoundError:
        raise _lost("lease file gone") from None
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        # the path must still BE the flocked inode: a takeover renames the
        # stale lease away and a fresh writer O_EXCL-creates a NEW inode —
        # both make this check fail even though a file named _RUN_LOCK may
        # exist again
        st_fd = os.fstat(fd)
        try:
            st_path = os.stat(lock_path)
        except FileNotFoundError:
            raise _lost("lease file gone under fence") from None
        if (st_fd.st_dev, st_fd.st_ino) != (st_path.st_dev, st_path.st_ino):
            raise _lost("lease inode replaced by another writer")
        with open(fd, closefd=False) as f:
            holder = f.read().strip()
        if holder != run_id:
            raise _lost(f"now held by {holder!r}")
        if _fence_hook is not None:
            _fence_hook()
        _mark_committed(output, run_id, supersedes=supersedes)
    finally:
        os.close(fd)


def _acquire_lock(output: str, run_id: str, stale_sec: float = 24 * 3600) -> str:
    """Single-writer lease for the parquet fallback. Iceberg gets real
    optimistic concurrency from the catalog; the parquet commit protocol
    (append + marker) is exactly-once only under one concurrent writer, so
    refuse to start while another live run holds the lease.

    A lease older than ``stale_sec`` is treated as abandoned (crashed run)
    and taken over ATOMICALLY: the stale file is renamed away first, so of
    N simultaneous takeover attempts exactly one rename succeeds and the
    losers fall back to the O_EXCL race on the fresh path — two writers can
    never both believe they own the lease. The renamed file is re-checked
    AFTER the rename: between the staleness check and the rename the old
    holder may have released and a NEW writer acquired, so a rename that
    captured a still-fresh lease restores it (hard-link back, which cannot
    clobber a newer lock) and backs off. Jobs expected to run longer than
    ``stale_sec`` must raise it (there is no background renewal); release
    goes through ``_release_lock`` which only removes the file while it
    still names the releasing run."""
    path = os.path.join(output, "_RUN_LOCK")
    os.makedirs(output, exist_ok=True)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        age = time.time() - os.path.getmtime(path)
        if age < stale_sec:
            with open(path) as f:
                holder = f.read().strip()
            raise RuntimeError(
                f"run {holder!r} holds the writer lease {path} (age {age:.0f}s); "
                "the parquet commit protocol is single-writer — wait for it to "
                "finish or delete the stale lock"
            )
        grabbed = f"{path}.stale.{run_id}"
        # serialize the takeover against a commit fence in flight: the
        # fence (_fenced_commit) holds an flock on the lease inode across
        # verify+mark, so renaming the lease away must wait for it — a
        # displaced holder can then never have a marker mid-write while
        # its lease disappears. flock the SAME inode the rename moves.
        import fcntl

        try:
            lfd = os.open(path, os.O_RDONLY)
        except FileNotFoundError:
            lfd = None  # released just now; contend on the fresh path
        renamed = False
        if lfd is not None:
            try:
                fcntl.flock(lfd, fcntl.LOCK_EX)
                st_fd = os.fstat(lfd)
                try:
                    st_path = os.stat(path)
                except FileNotFoundError:
                    st_path = None  # released while we waited
                if st_path is not None and (
                    (st_fd.st_dev, st_fd.st_ino)
                    == (st_path.st_dev, st_path.st_ino)
                ):
                    if time.time() - st_path.st_mtime < stale_sec:
                        # freshened while we waited for the flock (e.g. a
                        # fence completed and a new writer re-acquired)
                        with open(path) as f:
                            holder = f.read().strip()
                        raise RuntimeError(
                            f"run {holder!r} holds the writer lease {path}; "
                            "takeover aborted — lease is no longer stale"
                        )
                    os.rename(path, grabbed)  # one winner only
                    renamed = True
                # inode changed / path gone: another taker or a release won
                # while we waited; fall through to the O_EXCL contention
            finally:
                os.close(lfd)
        if renamed:
            if time.time() - os.path.getmtime(grabbed) < stale_sec:
                # TOCTOU: we captured a FRESH lease (new writer acquired
                # between our check and rename) — put it back and back off.
                # link preserves the inode (content + mtime); if a third
                # writer already recreated the path, KEEP the grabbed file
                # (it is the displaced holder's lease record — deleting it
                # would erase the evidence of the collision) and surface
                # the conflict loudly. Residual double-writer windows are
                # additionally fenced at the COMMIT point: _fenced_commit
                # verifies ownership and writes the marker under the
                # lease-inode flock.
                try:
                    os.link(grabbed, path)  # never clobbers a newer lock
                except FileExistsError:
                    raise RuntimeError(
                        f"lease collision during takeover of {path}: a new "
                        f"writer appeared while a fresh lease was displaced "
                        f"to {grabbed} (left in place for inspection)"
                    ) from None
                os.remove(grabbed)
                with open(path) as f:
                    holder = f.read().strip()
                raise RuntimeError(
                    f"run {holder!r} acquired the writer lease {path} during "
                    "takeover; backing off"
                )
            os.remove(grabbed)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise RuntimeError(
                f"lost the takeover race for {path}; another run now holds "
                "the writer lease"
            ) from None
    with os.fdopen(fd, "w") as f:
        f.write(run_id + "\n")
    return path


def _release_lock(path: str, run_id: str) -> None:
    """Remove the lease only while it still names ``run_id``: a job that
    outlived ``stale_sec`` and was taken over must NOT delete the usurper's
    live lock on exit (that would admit a third concurrent writer).

    The check-and-remove is made atomic by renaming the lock to a
    releaser-owned probe name first (one winner per inode), inspecting the
    captured file, and hard-linking it back — content and mtime preserved —
    if it turns out to belong to a usurper."""
    probe = f"{path}.rel.{run_id}"
    try:
        os.rename(path, probe)
    except FileNotFoundError:
        return  # already released / taken over and released
    with open(probe) as f:
        owner = f.read().strip()
    if owner == run_id:
        os.remove(probe)
        return
    # not ours (takeover happened): restore the usurper's live lock
    try:
        os.link(probe, path)
    except FileExistsError:
        # a third writer O_EXCL-created the path inside this probe window:
        # the probe is the DISPLACED usurper's lease record. Keep it (for
        # inspection — deleting it would erase the only evidence that the
        # usurper silently lost its lease) and surface the collision loudly;
        # jobs are saved by the commit fence, but compact/vacuum holders
        # rely on this signal.
        logging.getLogger(__name__).error(
            "lease collision during release of %s by run %r: a new writer "
            "appeared while the displaced holder's lease was captured at %s "
            "(left in place); the displaced holder no longer owns the lease",
            path,
            run_id,
            probe,
        )
        return
    os.remove(probe)


def _committed_doc_ids(spark, output: str, fmt: str) -> DataFrame | None:
    """Committed ids come from the compact doc-level table restricted to
    COMMITTED runs — a torn run (crash mid-write) is invisible here, so its
    docs are safely reprocessed; readers use ``committed_view`` to ignore
    the torn run's partial spans."""
    if fmt == "iceberg":
        # only a MISSING table means "nothing committed"; a read failure
        # must propagate — swallowing it would re-extract and re-commit
        # every doc (duplicate docs_out rows)
        if not spark.catalog.tableExists(f"{output}.docs_out"):
            return None
        return spark.read.table(f"{output}.docs_out").select("doc_id")
    runs = committed_run_ids(output)
    if not runs:
        return None
    docs = spark.read.parquet(os.path.join(output, "docs_out"))
    return docs.where(F.col("run_id").isin(runs)).select("doc_id")


def committed_view(
    spark,
    output: str,
    table: str = "spans_out",
    fmt: str = "parquet",
    merge_schema: bool = False,
) -> DataFrame:
    """Read an output table filtered to committed runs only — the reader-side
    half of exactly-once. Parquet fallback: torn appends from a crashed run
    carry a run_id with no commit marker and are dropped; re-processing after
    resume keeps exactly one committed copy per doc. Catalog (iceberg) mode:
    docs_out is written last, so a run_id present in docs_out means every
    earlier table append for that run committed — semi-join on it.

    ``merge_schema``: unions footers across run directories instead of
    inferring from one footer — required wherever mixed per-run schemas are
    load-bearing (compact reads: an evolved column like ``source_run_id`` or
    ``metadata`` present in only some runs must not be silently dropped)."""
    if fmt == "iceberg":
        df = spark.read.table(f"{output}.{table}")
        runs = spark.read.table(f"{output}.docs_out").select("run_id").distinct()
        return df.join(F.broadcast(runs), "run_id", "left_semi")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(os.path.join(output, table))
    return df.where(F.col("run_id").isin(committed_run_ids(output)))


def run(
    spark,
    input_path: str,
    output: str,
    run_id: str | None = None,
    resume: bool = False,
    fmt: str = "parquet",
    limit: int | None = None,
    details: bool = False,
    layout: str = "nested",
    span_budget: int | None = None,
) -> dict:
    """Execute one extraction run; returns the metrics row as a dict
    (the analogue of process_batch's returned metrics, processor.py:454)."""
    t0 = time.time()
    run_id = _validate_run_id(run_id) if run_id else uuid.uuid4().hex[:12]

    lock = _acquire_lock(output, run_id) if fmt != "iceberg" else None
    try:
        return _run_locked(
            spark, input_path, output, run_id, resume, fmt, limit, details,
            layout, span_budget, t0,
        )
    finally:
        if lock is not None:
            _release_lock(lock, run_id)


def _run_locked(
    spark, input_path, output, run_id, resume, fmt, limit, details,
    layout, span_budget, t0,
) -> dict:
    docs = read_docs(spark, input_path, fmt)
    # S2: dev/smoke truncation (processor.py:374). The fan-out rule reads
    # the BARE scan's partition count (a plan with an exchange would run
    # under AQE to answer), and never goes below the limit (it would
    # shuffle the whole input for a smoke run).
    docs = docs.limit(limit) if limit else fan_out(docs)

    if resume:
        committed = _committed_doc_ids(spark, output, fmt)
        if committed is not None:
            # checkpoint filter: only docs not already committed. At scale
            # this is a shuffle anti-join on doc_id; under Iceberg the
            # preferred path is snapshot-diff of the input instead.
            docs = docs.join(committed, "doc_id", "left_anti")

    # extraction consumes exactly (doc_id, spans); sidecar input columns
    # (e.g. metadata) rejoin at the compact doc level below
    extract = extract_bundle if details else extract_spans
    extracted = with_lineage_cols(
        extract(docs.select("doc_id", "spans"), span_budget=span_budget), run_id
    )

    # One extraction pass total: spans_out, each detail table, and docs_out
    # are separate write actions — without a persist the mapInArrow stage
    # re-runs per action (2-5x cost), and with ``limit`` set LocalLimit gives
    # no determinism guarantee across actions, so docs_out (the resume
    # source) could commit doc_ids whose spans never landed in spans_out.
    # MEMORY_AND_DISK spills instead of recomputing at 100 TB partitions.
    from pyspark import StorageLevel

    extracted = extracted.persist(StorageLevel.MEMORY_AND_DISK)

    def _write(df: DataFrame, name: str) -> None:
        if fmt == "iceberg":
            # DataFrameWriterV2 against whatever catalog `output` names —
            # an Iceberg catalog on a real cluster, or the session catalog
            # in the jar-less integration test. First run creates the table
            # (catalog-default provider), later runs append.
            from pyspark.errors.exceptions.captured import AnalysisException

            target = f"{output}.{name}"
            if spark.catalog.tableExists(target):
                try:
                    df.writeTo(target).append()
                except AnalysisException as e:
                    # Session-catalog parquet tables are v1 and reject the
                    # DSv2 append; a real Iceberg catalog never hits this.
                    if "v1 table" not in str(e):
                        raise
                    df.write.mode("append").saveAsTable(target)
            else:
                df.writeTo(target).create()
        else:
            # partitionBy(run_id): committed_view's run filter and resume's
            # docs_out scan become directory-level partition PRUNING (torn
            # runs are never even read) instead of a post-scan filter. One
            # directory per run — no small-file explosion.
            df.write.mode("append").partitionBy("run_id").parquet(
                os.path.join(output, name)
            )

    detail_cols = ["pages", "images", "tables"] if details else []
    if layout == "nested":
        spans_out = extracted.drop(*detail_cols)
    else:  # flat: the recommended 100 TB layout — pushdown-friendly columns
        spans_out = extracted.select(
            "run_id", "partition_id", "doc_id", "status", F.inline_outer("spans")
        )

    # Compact doc-level table: resume source + metrics/lineage input —
    # the accounting path never rescans span payloads.
    docs_out = extracted.select(
        "run_id",
        "partition_id",
        "doc_id",
        "status",
        "error",
        "n_input_spans",
        "n_pages",
        "n_images",
        "n_tables",
        F.size("spans").alias("n_output_spans"),
    )
    # S3 metadata slot (processor.py:268-282): pass a caller-supplied
    # metadata struct through to docs_out. The join is on the compact
    # doc-level tables only (column pruning drops the spans payload), and
    # absent inputs still get the column so the sink schema is stable.
    from pdfplucker_spark.schemas import METADATA_TYPE

    if "metadata" in docs.columns:
        docs_out = docs_out.join(docs.select("doc_id", "metadata"), "doc_id", "left")
    else:
        docs_out = docs_out.withColumn("metadata", F.lit(None).cast(METADATA_TYPE))

    # Released in ``finally``: a failed sink write must not leave the span
    # payload cached in a long-lived session.
    try:
        _write(spans_out, "spans_out")
        for name in detail_cols:
            _write(extracted.select("run_id", "doc_id", F.inline(name)), name)
        # Accounting (fails, lineage, the metrics row) derives from the
        # PERSISTED docs_out frame (no read-back scan), and docs_out is
        # written LAST: under Iceberg a run_id present in docs_out therefore
        # guarantees every other table append for that run — including
        # fails/lineage/metrics — already committed, which is exactly the
        # premise the catalog committed_view semi-joins on. Under parquet
        # the commit marker gates everything, so order is free there.
        _write(fails_table(docs_out, run_id), "fails")
        _write(lineage_table(docs_out), "lineage")
        # The metrics aggregate runs once: its one row is both the returned
        # dict and the metrics table append. The row goes back as an Arrow
        # table, which reaches the JVM without a Python worker (a list of
        # Rows takes a Python RDD, slower than re-running the aggregate).
        metrics_df = run_metrics(docs_out, run_id, t0)
        metrics = metrics_df.collect()[0].asDict()
        _write(
            spark.createDataFrame(pa.Table.from_pylist([metrics]), metrics_df.schema),
            "metrics",
        )
        _write(docs_out, "docs_out")
    finally:
        extracted.unpersist()
    if fmt != "iceberg":
        # commit fence: even if the single-writer lease was stolen in a
        # takeover race window (a job outliving stale_sec), only the
        # CURRENT lease holder may commit — a displaced writer's appends
        # stay torn (invisible to committed_view) and resume reprocesses
        # them, instead of two writers both committing. The ownership
        # check and the marker write are ONE flock-guarded critical
        # section (_fenced_commit) — a takeover cannot land between them.
        _fenced_commit(output, run_id)  # the run's atomic commit point
    else:
        # catalog analogue of the marker's seq: one ordering row per run,
        # appended AFTER docs_out. Committedness still keys on docs_out;
        # a crash in this window leaves the run committed with seq 0
        # (latest_view coalesces), same as a legacy parquet marker.
        _write(
            spark.createDataFrame(
                pa.table({"run_id": [run_id], "seq": [time.time_ns()]}),
                "run_id string, seq long",
            ),
            "commits",
        )
    return metrics


def main(argv=None):
    p = argparse.ArgumentParser(description="pdfplucker_spark extraction job")
    p.add_argument("--input", required=True, help="input table/path (doc_id, spans)")
    p.add_argument("--output", required=True, help="output dir (parquet) or namespace (iceberg)")
    p.add_argument("--run-id", default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--format", choices=["parquet", "iceberg"], default="parquet")
    p.add_argument("--limit", type=int, default=None)
    p.add_argument("--details", action="store_true", help="also write pages/images/tables detail tables")
    p.add_argument("--layout", choices=["nested", "flat"], default="nested")
    p.add_argument("--span-budget", type=int, default=None, help="fail docs above this span count (S8 straggler guard)")
    p.add_argument(
        "--codec",
        choices=["snappy", "zstd", "lz4", "gzip"],
        default="snappy",
        help="sink compression: snappy = fastest writes (default), zstd = -30%% storage for archival",
    )
    p.add_argument("--master", default=None)
    a = p.parse_args(argv)

    spark = get_spark(
        app="pdfplucker_spark.job",
        master=a.master,
        extra_conf={"spark.sql.parquet.compression.codec": a.codec},
    )
    try:
        m = run(
            spark,
            a.input,
            a.output,
            run_id=a.run_id,
            resume=a.resume,
            fmt=a.format,
            limit=a.limit,
            details=a.details,
            layout=a.layout,
            span_budget=a.span_budget,
        )
        print(
            f"run {m['run_id']}: {m['total_docs']} docs, "
            f"{m['failed_docs']} failed, success_rate={m['success_rate']:.2f}%, "
            f"elapsed={m['elapsed_time']:.1f}s"
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
