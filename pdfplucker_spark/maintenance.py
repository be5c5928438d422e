"""Table maintenance for the parquet-fallback layout: vacuum + compaction.

Long-lived 100 TB output tables accumulate (a) torn partition directories
from crashed runs (invisible to readers via committed_view, but paying
storage + list costs forever) and (b) many small committed run directories
(append-per-run). Under Iceberg these are `expire_snapshots` and
`rewrite_data_files`; the parquet fallback gets the same two operations
here, both guarded by the job's single-writer lease.

Crash-consistency of compact(): the consolidated run is written first
(invisible: no marker), then ONE marker file is created whose
``supersedes:`` line atomically retires every old run from the committed
set (committed_run_ids excludes superseded runs even while their marker
files still exist). Old markers and data dirs are deleted afterwards as
idempotent cleanup. Every crash window therefore shows either exactly the
old runs or exactly the new run — never duplicates, never a partial set —
and leftover superseded/uncommitted dirs are reclaimed by the next
vacuum(), which runs under the same lease so it can never race a live
writer.

Provenance: compaction rewrites the physical run layout, so each row keeps
its original run attribution in ``source_run_id`` (fails/lineage/metrics
keyed by run would otherwise lose which run produced them).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession, functions as F

from pdfplucker_spark.job import (
    _acquire_lock,
    _fenced_commit,
    _read_commits,
    _release_lock,
    committed_run_ids,
    committed_view,
)

# test seam: called right before compact's fenced supersede switch — the
# takeover-interleaving tests displace the lease here and assert the
# fence aborts the commit
_pre_commit_hook = None


def discover_tables(output: str) -> tuple[str, ...]:
    """Every table directory under the output — including detail tables
    (pages/images/tables) when the job ran with --details. Compaction MUST
    cover all of them: it retires the commit markers globally, so a table
    left out would have its committed data orphaned."""
    try:
        return tuple(
            d
            for d in sorted(os.listdir(output))
            if os.path.isdir(os.path.join(output, d)) and not d.startswith("_")
        )
    except FileNotFoundError:
        return ()


def _run_dirs(output: str, table: str) -> dict[str, str]:
    base = os.path.join(output, table)
    out = {}
    try:
        for d in os.listdir(base):
            if d.startswith("run_id="):
                out[d.split("=", 1)[1]] = os.path.join(base, d)
    except FileNotFoundError:
        pass
    return out


def _vacuum_locked(output: str, tables) -> dict[str, list[str]]:
    committed = set(committed_run_ids(output))
    removed: dict[str, list[str]] = {}
    for table in tables or discover_tables(output):
        for run_id, path in _run_dirs(output, table).items():
            if run_id not in committed:
                shutil.rmtree(path, ignore_errors=True)
                removed.setdefault(table, []).append(run_id)
    # superseded markers are redundant once their data is gone; dotfiles are
    # tmp markers orphaned by a crash mid-_mark_committed — never honored by
    # committed_run_ids, safe to reclaim under the lease (no writer can be
    # mid-commit while we hold it)
    d = os.path.join(output, "_commits")
    try:
        for n in os.listdir(d):
            if n.startswith(".") or n not in committed:
                os.remove(os.path.join(d, n))
    except FileNotFoundError:
        pass
    return removed


def vacuum(output: str, tables=None) -> dict[str, list[str]]:
    """Physically delete partition dirs of UNCOMMITTED or SUPERSEDED runs.
    Readers never see them; resume already reprocesses torn runs' docs.
    Takes the single-writer lease: an in-flight job's not-yet-committed run
    directories look torn, so vacuuming concurrently with a writer would
    destroy its output mid-run."""
    op_id = f"vacuum{uuid.uuid4().hex[:8]}"
    lock = _acquire_lock(output, op_id)
    try:
        return _vacuum_locked(output, tables)
    finally:
        _release_lock(lock, op_id)


def compact(
    spark: SparkSession,
    output: str,
    tables=None,
    target_mb: float = 128,
    cluster_by: str = "doc_id",
) -> str:
    """Rewrite all committed runs of each table into ONE new run with
    right-sized files. Returns the new run_id. Original per-run attribution
    is preserved in ``source_run_id``.

    CLUSTERED rewrite (the Iceberg sort-order `rewrite_data_files`
    analogue): tables carrying ``cluster_by`` are range-partitioned and
    sorted on it, so each output file owns a disjoint key range and parquet
    min/max stats give real file- AND row-group-level pruning for doc
    lookups — a point read after compaction touches one file instead of
    every appended run. Pass ``cluster_by=None`` for plain bin-packing.

    ``tables`` must cover EVERY discovered table (or be None): the marker's
    ``supersedes:`` line retires the old runs globally, so a table left out
    would have its committed rows orphaned and then vacuumed. A strict
    subset is rejected rather than silently destroying data."""
    new_run = f"compact{uuid.uuid4().hex[:10]}"
    lock = _acquire_lock(output, new_run)
    try:
        # discovery happens UNDER the lease: a writer committing a new
        # table between a pre-lock snapshot and the supersede switch would
        # have that table's rows orphaned. Explicit lists must match the
        # discovered set exactly — a subset orphans data, an unknown name
        # would fail mid-rewrite after writing torn run dirs.
        discovered = discover_tables(output)
        if tables is not None and set(tables) != set(discovered):
            raise ValueError(
                f"compact(tables=...) must name exactly the committed tables "
                f"{sorted(discovered)} (got {sorted(set(tables))}): the "
                "supersedes switch is global — pass tables=None to compact "
                "everything"
            )
        tables = tables or discovered
        old_runs = committed_run_ids(output)
        if not old_runs:
            return new_run
        # 1) write the consolidated data as a new (uncommitted) run.
        #    merge_schema: evolved columns present in only some runs
        #    (source_run_id from a prior compact, metadata on docs_out)
        #    must survive the rewrite, not depend on which footer Spark
        #    happens to infer from.
        for table in tables:
            df = committed_view(spark, output, table, merge_schema=True)
            src = (
                F.coalesce(F.col("source_run_id"), F.col("run_id"))
                if "source_run_id" in df.columns
                else F.col("run_id")
            )
            df = df.withColumn("source_run_id", src).withColumn(
                "run_id", F.lit(new_run)
            )
            n_bytes = sum(
                os.path.getsize(os.path.join(r, f))
                for rid, r in _run_dirs(output, table).items()
                if rid in old_runs
                for f in os.listdir(r)
                if f.endswith(".parquet")
            )
            n_files = max(1, round(n_bytes / (target_mb * 1024 * 1024)))
            if cluster_by and cluster_by in df.columns:
                df = df.repartitionByRange(n_files, cluster_by).sortWithinPartitions(
                    cluster_by
                )
            else:
                df = df.repartition(n_files)
            df.write.mode("append").partitionBy("run_id").parquet(
                os.path.join(output, table)
            )
        # 2) THE atomic switch: one marker creation commits the new run and
        #    supersedes every old one in the same instant. Same commit fence
        #    as _run_locked: a compact that outlived stale_sec and had its
        #    lease taken over must NOT retire the old runs while another
        #    writer is live — its rewrite stays torn (invisible) and the
        #    next vacuum reclaims it.
        #    The ownership check and the marker write are ONE flock-guarded
        #    critical section (_fenced_commit): takeover flocks the same
        #    lease inode before renaming it away, so a takeover can never
        #    land between this holder verification and the marker rename —
        #    the round-5 residual TOCTOU is closed (gated by
        #    test_maintenance.py takeover-interleaving tests).
        if _pre_commit_hook is not None:
            _pre_commit_hook()  # test seam: inject a takeover right here
        _fenced_commit(output, new_run, supersedes=old_runs)
        # 3) idempotent cleanup (crash here leaves superseded markers/dirs
        #    that the next vacuum reclaims; readers already see only new_run)
        for rid in old_runs:
            try:
                os.remove(os.path.join(output, "_commits", rid))
            except FileNotFoundError:
                pass
        for table in tables:
            for rid, path in _run_dirs(output, table).items():
                if rid in old_runs:
                    shutil.rmtree(path, ignore_errors=True)
        return new_run
    finally:
        _release_lock(lock, new_run)


def table_stats(output: str) -> dict:
    """Read-only health report of an output location: per table, the
    committed / torn / superseded run counts, file counts, and bytes —
    the numbers an operator checks before deciding to compact or vacuum.
    Takes NO lease (pure directory listing + marker reads; it never
    mutates), so it is safe to run beside a live writer or maintenance:
    a dir or file deleted between listing and statting (a concurrent
    vacuum/compact cleanup) is skipped, and a run committing mid-listing
    can appear torn for one report — transients a health check must
    tolerate anyway."""
    seqs, superseded = _read_commits(output)
    committed = set(seqs) - superseded
    report: dict = {}
    for table in discover_tables(output):
        t = {
            "committed_runs": 0,
            "torn_runs": 0,
            "superseded_runs": 0,
            "n_files": 0,
            "bytes": 0,
        }
        for run_id, path in _run_dirs(output, table).items():
            try:
                files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            except FileNotFoundError:
                continue  # vacuumed between listing and reading
            t["n_files"] += len(files)
            for f in files:
                try:
                    t["bytes"] += os.path.getsize(os.path.join(path, f))
                except FileNotFoundError:
                    pass  # file removed mid-report
            if run_id in committed:
                t["committed_runs"] += 1
            elif run_id in superseded:
                t["superseded_runs"] += 1  # post-compact leftover, not a crash
            else:
                t["torn_runs"] += 1
        report[table] = t
    return report


def main(argv=None) -> int:
    import argparse
    import json

    from pdfplucker_spark.session import get_spark

    p = argparse.ArgumentParser(description="vacuum / compact / stats on output tables")
    p.add_argument("--output", required=True)
    p.add_argument(
        "--action",
        choices=["vacuum", "compact", "stats", "compact-index", "vacuum-index"],
        required=True,
    )
    p.add_argument("--target-mb", type=int, default=128)
    p.add_argument("--master", default=None)
    p.add_argument(
        "--subdirs",
        default="",
        help="compact-index: comma-separated per-wave child tables "
        "(e.g. 'bands,toks' for the dedup membership index; empty = one "
        "flat table)",
    )
    p.add_argument(
        "--sum-over",
        default=None,
        help="compact-index: 'key1[,key2...]:count_col' to group-sum a "
        "counts index (e.g. 'seg:n'); omit for membership row-union",
    )
    a = p.parse_args(argv)
    if a.action == "stats":
        print(json.dumps(table_stats(a.output)))
        return 0
    if a.action == "vacuum":
        removed = vacuum(a.output)
        print(f"vacuumed: {removed}")
        return 0
    if a.action == "vacuum-index":
        from pdfplucker_spark.streaming.stream import vacuum_standing_index

        removed = vacuum_standing_index(a.output)
        print(f"vacuumed: {len(removed)} paths")
        return 0
    from pyspark.sql import SparkSession

    # stop only a session WE created: in-process callers (tests, notebooks)
    # hand us their live session via getOrCreate, and stopping it would
    # kill every later query they run
    owned = SparkSession.getActiveSession() is None
    spark = get_spark(app="maintenance", master=a.master)
    try:
        if a.action == "compact-index":
            from pdfplucker_spark.streaming.stream import compact_standing_index

            sum_over = None
            if a.sum_over:
                keys, cnt = a.sum_over.rsplit(":", 1)
                sum_over = (tuple(keys.split(",")), cnt)
            subdirs = tuple(a.subdirs.split(",")) if a.subdirs else ("",)
            seg = compact_standing_index(
                spark, a.output, subdirs=subdirs, sum_over=sum_over
            )
            print(f"compacted waves: {seg}")
        else:
            rid = compact(spark, a.output, target_mb=a.target_mb)
            print(f"compacted into run {rid}")
    finally:
        if owned:
            spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
