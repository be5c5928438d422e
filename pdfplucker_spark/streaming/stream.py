"""Structured Streaming wrapper around the extraction engine.

The reference is strictly batch (processor.py:342; SURVEY.md §2.3), so
streaming is additive surface, not parity: continuous ingestion of new
interleaved-doc parquet files → the same mapInArrow extract stage →
append-mode parquet sink with checkpointing. Because extraction is
stateless per document, no watermark/state is required; exactly-once
delivery comes from the file-source + checkpoint contract.

    stream_extract(spark, in_dir, out_dir, ckpt_dir).trigger(availableNow=True)
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from pdfplucker_spark.operators.extract import extract_spans
from pdfplucker_spark.schemas import INPUT_SCHEMA



def _ntz_as_utc_instant(col):
    """NTZ event time -> TIMESTAMP instant, SESSION-TZ-PROOF: a plain
    cast interprets the wall time in the session timezone (under
    TZ=Asia/Tokyo every watermark/window boundary shifts 9 h against the
    tz-independent DuckDB oracle); building the instant from epoch micros
    pins the NTZ wall time to UTC for any session tz."""
    from pyspark.sql import functions as F

    return F.timestamp_micros(
        F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
        )
    )

def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Returns the started StreamingQuery."""
    src = (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    extracted = extract_spans(src)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_event_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
):
    """Watermarked tumbling-window aggregation over a file event stream —
    the late-data-tolerant streaming shape (§2.3 streaming row). With
    ``availableNow`` it drains the backlog exactly once; on a live stream
    the watermark bounds state for out-of-order events.
    """
    from pyspark.sql import functions as F

    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    # watermarks require TIMESTAMP (not NTZ); pin the NTZ wall time to a
    # UTC instant once on ingest — the batch-equivalence tests apply the
    # same _ntz_as_utc_instant on their side, so stream and batch agree
    # under any session timezone
    src = src.withColumn("ts", _ntz_as_utc_instant("ts"))
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
):
    """Streaming exact deduplication — the streaming half of the dedup
    pipeline: at-least-once ingest (replayed files, duplicated events) is
    reduced to exactly-one-row-per-event_id with
    ``dropDuplicatesWithinWatermark``. State holds only keys younger than
    the watermark, so memory is bounded on an infinite stream (plain
    dropDuplicates would grow state forever — the 100 TB failure mode)."""
    from pyspark.sql import functions as F

    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    src = src.withColumn("ts", _ntz_as_utc_instant("ts"))
    deduped = src.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_user_running_totals(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Custom stateful operator via applyInPandasWithState — the arbitrary-
    state API for semantics the declarative operators can't express (here:
    per-user lifetime running totals emitted once per trigger). State is one
    (count, total) pair per user — O(users), not O(events); Arrow moves each
    micro-batch group as a pandas frame, so the Python hop is batched, not
    per-row.

    The money total accumulates in EXACT integer micros (each value
    quantized to 6 dp HALF_UP = Spark's cast to decimal(18,6)): a double
    running sum would depend on arrival order across triggers and
    partitions, making the drained stream diverge from any batch oracle at
    the last bits. One float division at emission."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    def update(key, pdfs, state):
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        q6 = Decimal("1.000000")
        n, tot_micros = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            for v in pdf["value"]:
                if pd.notna(v):
                    # Decimal(repr(v)) — the SHORTEST decimal repr, then
                    # HALF_UP to 6 dp. Both Spark (BigDecimal.valueOf ==
                    # Double.toString) and DuckDB round the shortest repr,
                    # NOT the exact binary expansion: probed, 2.6894155 →
                    # 2.689416 in both engines but 2.689415 via
                    # Decimal(float) — exact-binary quantize diverges at
                    # half-micro boundaries.
                    tot_micros += int(
                        Decimal(repr(float(v))).quantize(q6, ROUND_HALF_UP).scaleb(6)
                    )
        state.update((n, tot_micros))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [float(tot_micros) / 1e6],
            }
        )

    out = src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, tot long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


_SCRATCH: dict = {}


def _stream_scratch(sf_dir: str, name: str) -> str:
    """One process-scoped scratch dir per (operator, corpus), cleaned at
    interpreter exit. The dir must outlive the returned (lazy) DataFrame,
    so per-invocation deletion is impossible — but REUSING one keyed dir
    makes repeated invocations (driver sweeps, --list runs) idempotent
    instead of accumulating a corpus copy per call in /tmp, and the atexit
    hook reclaims it without waiting on an OS tmp reaper that may never
    run. Reuse is safe: the checkpoint makes a second availableNow drain
    over the same input a no-op, and the sink parquet already holds the
    (deterministic) result."""
    import atexit
    import hashlib
    import shutil
    import tempfile

    key = (name, sf_dir)
    if key not in _SCRATCH:
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        work = tempfile.mkdtemp(prefix=f"plkstream_{name}_{tag}_")
        atexit.register(shutil.rmtree, work, ignore_errors=True)
        _SCRATCH[key] = work
    return _SCRATCH[key]


def _drain(spark: SparkSession, sf_dir: str, name: str, stage, starter) -> str:
    """The shared drain harness for every driver-gated streaming query:
    stage the input ONCE per (op, corpus) — guarded by a sentinel written
    only after staging completes, so an interrupted first copy heals on
    the next call instead of silently draining a partial input — then
    start the availableNow query and await CHECKED termination (a timeout
    returns False WITHOUT stopping the query; reading the sink then would
    compare a partially-drained prefix to the oracle). Returns the sink
    path; re-invocation is a no-op drain over the same checkpoint.

    ``stage``: a list of destination file names (each a copy of the
    corpus's events.parquet) or a callable(spark, in_dir) writing
    arbitrary input."""
    import os
    import shutil

    work = _stream_scratch(sf_dir, name)
    in_dir = os.path.join(work, "in")
    sentinel = os.path.join(work, ".staged")
    if not os.path.exists(sentinel):
        shutil.rmtree(in_dir, ignore_errors=True)  # heal interrupted staging
        if callable(stage):
            stage(spark, in_dir)
        else:
            os.makedirs(in_dir)
            for dst in stage:
                shutil.copy(
                    os.path.join(sf_dir, "events.parquet"),
                    os.path.join(in_dir, dst),
                )
        with open(sentinel, "w") as f:
            f.write("ok\n")
    q = starter(spark, in_dir, os.path.join(work, "out"), os.path.join(work, "ckpt"))
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(f"{name}: drain did not finish in 300s")
    return os.path.join(work, "out")


def q_stream_windowed_counts(spark: SparkSession, sf_dir: str):
    """DRIVER-GATED streaming: run the watermarked tumbling-window count as
    a real StreamingQuery (file source → checkpointed sink, availableNow
    drain) and return the finalized windows it emitted. The oracle encodes
    the watermark CONTRACT in SQL: append mode emits exactly the windows
    whose end ≤ final watermark (max event time − delay) — so the hash gate
    verifies not just the aggregation values but Spark's late-data
    finalization semantics against an independent engine."""
    from pyspark.sql import functions as F

    sink = _drain(
        spark, sf_dir, "wc", ["events.parquet"], stream_windowed_event_counts
    )
    return spark.read.parquet(sink).select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "event_type",
        "n_events",
    )


SQL_STREAM_WINDOWED_COUNTS = """
WITH mx AS (SELECT max(ts) AS m FROM events),
w AS (
  SELECT CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS window_start_epoch,
         event_type
  FROM events
)
SELECT window_start_epoch, event_type, COUNT(*) AS n_events
FROM w, mx
-- append mode finalizes a window when window_end <= watermark
-- (= max event time - 2 min delay)
WHERE window_start_epoch + 60 <= CAST(floor(epoch(m)) AS BIGINT) - 120
GROUP BY 1, 2
"""


def stream_click_purchase_join(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
):
    """Watermarked stream-stream INNER interval join — attribute each
    purchase to the same user's clicks at most ``horizon`` before it.

    The infinite-stream requirement: BOTH sides carry watermarks and the
    join predicate is time-bounded, so Spark can expire buffered rows —
    per-side state is bounded by (watermark + horizon) of event-time, never
    by stream length. An unbounded-condition stream-stream join buffers
    forever: the 100 TB failure mode this shape exists to avoid."""
    from pyspark.sql import functions as F

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )

    def _side(kind: str, prefix: str):
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 16)
            .parquet(input_dir)
        )
        return (
            s.where(F.col("event_type") == kind)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                _ntz_as_utc_instant("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", watermark)
        )

    clicks = _side("click", "click")
    purchases = _side("purchase", "purchase")
    joined = clicks.join(
        purchases,
        F.expr(
            "click_user = purchase_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + INTERVAL {horizon}"
        ),
        "inner",
    ).select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
    )
    return (
        joined.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def q_stream_click_purchase_join(spark: SparkSession, sf_dir: str):
    """DRIVER-GATED stream-stream interval join: run
    ``stream_click_purchase_join`` as a real StreamingQuery (file source →
    checkpointed parquet sink, availableNow drain) and return the attributed
    (click, purchase) pairs it emitted.

    Determinism contract the oracle encodes: INNER stream-stream join rows
    emit eagerly on match (only outer-join non-matches wait for the
    watermark), state eviction needs a watermark ADVANCE between
    micro-batches, and the corpus is one file ≤ maxFilesPerTrigger — so the
    availableNow drain processes both sides in a single micro-batch with no
    eviction, and the drained sink equals the batch interval join exactly.
    The hash gate therefore verifies Spark's stream-stream join semantics
    (per-side watermark buffers, time-bounded predicate) against an
    independent batch engine."""
    from pyspark.sql import functions as F

    sink = _drain(
        spark, sf_dir, "ssj", ["events.parquet"], stream_click_purchase_join
    )
    return spark.read.parquet(sink).select(
        "user_id",
        "click_id",
        F.unix_timestamp("click_ts").alias("click_ts_epoch"),
        "purchase_id",
        F.unix_timestamp("purchase_ts").alias("purchase_ts_epoch"),
    )


SQL_STREAM_CLICK_PURCHASE_JOIN = """
SELECT c.user_id,
       c.event_id AS click_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts_epoch,
       p.event_id AS purchase_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_ts_epoch
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


def q_stream_dedup_exact(spark: SparkSession, sf_dir: str):
    """DRIVER-GATED streaming dedup: feed the stream TWO copies of the
    corpus (an at-least-once replay, the real-world input this operator
    exists for) and drain through ``dropDuplicatesWithinWatermark``. Both
    files fit one micro-batch (maxFilesPerTrigger), so every event_id is
    seen twice within the batch and must emit exactly once — the oracle is
    simply the corpus itself, one row per event."""
    from pyspark.sql import functions as F

    sink = _drain(
        spark, sf_dir, "dd", ["a.parquet", "b.parquet"], stream_dedup_exact
    )
    return spark.read.parquet(sink).select(
        "event_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "user_id",
        "event_type",
        "value",
    )


SQL_STREAM_DEDUP_EXACT = """
SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       user_id, event_type, value
FROM events
"""


def q_stream_sessionize(spark: SparkSession, sf_dir: str):
    """DRIVER-GATED stateful sessionization: drain the session_window
    stream and return the FINALIZED sessions. The oracle encodes the
    session-window watermark contract: append mode emits a session once no
    future event can extend or merge it — i.e. once the final watermark
    (max event time − delay) passes session_end = last_event + gap. The
    hash gate therefore verifies Spark's incremental session merging AND
    its late-data finalization rule against an independent batch engine."""
    from pyspark.sql import functions as F

    sink = _drain(spark, sf_dir, "ss", ["events.parquet"], stream_sessionize)
    return spark.read.parquet(sink).select(
        "user_id",
        F.unix_timestamp("session_start").alias("session_start_epoch"),
        F.unix_timestamp("session_last_event").alias("session_last_event_epoch"),
        "n_events",
        "total_value",
    )


# batch sessionize (lag→boundary→cumsum) + the finalization filter: a
# session is emitted iff session_end (= last event + 30-min gap) is at or
# below the final watermark (= max event time - 2-hour delay). The
# comparison is in MICROSECONDS: empirically probed (round-4), Spark
# finalizes at full µs precision with <= at equality — a seconds-floored
# filter would diverge for sessions within 1 s of the boundary. (The
# windowed-counts oracle may stay floored: its window ends are whole
# seconds, so end <= floor(wm) == end <= wm there.)
SQL_STREAM_SESSIONIZE = """
WITH mx AS (SELECT max(ts) AS m FROM events),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR date_diff('microsecond', LAG(ts) OVER w, ts) > 1800 * 1000000
              THEN 1 ELSE 0 END AS boundary
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
       CAST(floor(epoch(MAX(ts))) AS BIGINT) AS session_last_event_epoch,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM sess, mx
GROUP BY user_id, session_seq, m
HAVING epoch_us(MAX(ts)) + CAST(1800 AS BIGINT) * 1000000
         <= epoch_us(m) - CAST(7200 AS BIGINT) * 1000000
"""


def q_stream_extract(spark: SparkSession, sf_dir: str):
    """DRIVER-GATED STREAMING EXTRACTION — the flagship engine as a
    continuous pipeline: the derived interleaved-docs corpus staged as the
    stream's backlog, drained through the same mapInArrow extract stage the
    batch job runs (file source → checkpointed parquet sink), output
    exploded to flat spans. The oracle is the full-extraction SQL
    (``SQL_EXTRACT_FULL``): extraction is stateless per document, so the
    drained stream must equal the batch computation span-for-span — the
    hash gate proves the streaming surface and the batch engine are the
    same engine."""
    from pdfplucker_spark.operators.spans_sql import flatten_spans

    def _stage(sp, in_dir):
        from pdfplucker_spark.sources.tables import derived_spans_nested

        derived_spans_nested(sp, sf_dir).write.parquet(in_dir)

    sink = _drain(spark, sf_dir, "ex", _stage, stream_extract)
    return flatten_spans(spark.read.parquet(sink))


def _sql_stream_extract() -> str:
    from pdfplucker_spark.operators.spans_sql import SQL_EXTRACT_FULL

    return SQL_EXTRACT_FULL


def q_stream_user_running_totals(spark: SparkSession, sf_dir: str):
    """DRIVER-GATED arbitrary-state operator: drain the
    applyInPandasWithState running-totals stream (one micro-batch — the
    corpus is one file) and return each user's final snapshot. Exact
    decimal-micros accumulation inside the state function makes the total
    independent of arrival order, so the oracle is the plain decimal batch
    aggregation — the hash gate verifies the custom state path end to end."""
    sink = _drain(
        spark, sf_dir, "rt", ["events.parquet"], stream_user_running_totals
    )
    return spark.read.parquet(sink).select("user_id", "n_events", "total_value")


SQL_STREAM_USER_RUNNING_TOTALS = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# foreachBatch incremental near-dup screening against a STANDING INDEX —
# the production cadence of dedup_incremental (operators/dedup.py): each
# arriving micro-batch is banded, joined against the index of previously
# arrived docs (never against itself at corpus scale), verified with the
# exact Jaccard, and then added to the index.
# ---------------------------------------------------------------------------
STREAM_INC_BATCHES = 4


def stage_waves(docs_df, in_dir: str, waves=None, files_per_wave: int = 1):
    """Stage a (…, bno int) docs frame as EXACTLY ``files_per_wave``
    parquet files per wave under ``in_dir`` — ``{k:02d}.parquet`` for the
    single-file default, ``{k:02d}-{i:02d}.parquet`` otherwise — with
    strictly increasing PER-WAVE mtimes (all files of a wave share its
    mtime), so the file source's (mtime, path) order never interleaves
    waves and ``maxFilesPerTrigger=files_per_wave`` aligns trigger
    boundaries to wave boundaries. This is THE staging contract for every
    foreachBatch standing-index query; the driver queries and the tests
    all call this one helper so the contract (file naming, utime base,
    exact file count per wave) cannot silently diverge between them.

    The file count per wave is EXACT, not up-to: a short wave is padded
    with schema-only slices, because a wave emitting fewer files would
    shift every later trigger boundary into the middle of a wave — the
    one way the multi-file contract can silently split a wave across
    micro-batches. Slicing is deterministic (``pmod(xxhash64(doc_id), n)``
    — hash-first so the ONE staging helper honors its contract for
    string-keyed corpora too; staging-side file placement only, never
    oracle-compared, so the engine-internal hash is fine here).

    ``waves`` defaults to the distinct ``bno`` values present (an
    explicit range writes empty files for absent waves — the production
    queries pass range(STREAM_INC_BATCHES) so every wave number exists
    on disk)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    os.makedirs(in_dir, exist_ok=True)
    if waves is None:
        waves = sorted(
            r.bno for r in docs_df.select("bno").distinct().collect()
        )
    for k in waves:
        wave = docs_df.where(F.col("bno") == k)
        for i in range(files_per_wave):
            tmp = f"{in_dir}.w{k}.{i}"
            sl = (
                wave
                if files_per_wave == 1
                else wave.where(
                    F.pmod(F.xxhash64("doc_id"), F.lit(files_per_wave)) == i
                )
            )
            sl.coalesce(1).write.mode("overwrite").parquet(tmp)
            parts = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
            if not parts:
                # the contract leans on Spark emitting a schema-only part
                # file for an empty coalesce(1) write — if a Spark behavior
                # change ever breaks that, fail AS a staging error, not as
                # a bare IndexError downstream (r7 advice)
                raise RuntimeError(
                    f"stage_waves: no parquet part file produced for wave "
                    f"{k} slice {i} under {tmp} — empty-write behavior "
                    "changed; the absent-wave/padding contract is broken"
                )
            name = (
                f"{k:02d}.parquet"
                if files_per_wave == 1
                else f"{k:02d}-{i:02d}.parquet"
            )
            dst = os.path.join(in_dir, name)
            shutil.move(os.path.join(tmp, parts[0]), dst)
            shutil.rmtree(tmp)
            # wave order = file-source order = strictly increasing mtimes;
            # files WITHIN a wave share the mtime (path breaks the tie)
            os.utime(dst, (1_000_000_000 + k, 1_000_000_000 + k))


def _index_marker(bno: int) -> str:
    """Commit-marker run_id for wave ``bno`` of a standing index (the
    marker grammar forbids '=' so the ``bno=k`` partition dir maps to a
    ``bno-k`` marker name)."""
    return f"bno-{int(bno)}"


def _index_seg_marker(lo: int, hi: int) -> str:
    """Commit-marker run_id for a COMPACTED wave segment [lo, hi] of a
    standing index (written by ``compact_standing_index`` with a
    ``supersedes:`` line retiring the per-wave markers — one marker file
    flips the whole old→new switch atomically)."""
    return f"bnoc-{int(lo)}-{int(hi)}"


def _index_entries(index_dir: str) -> list[tuple[str, int, int, str]]:
    """The committed entries of a standing index, sorted by wave range:
    (marker_run_id, lo_wave, hi_wave, data_dir) — plain per-wave markers
    have lo == hi; compacted segments cover the contiguous [lo, hi].
    Membership comes from the repo's commit-marker protocol
    (job.committed_run_ids over ``{index_dir}/_commits``), NOT from
    listing data directories: a torn dir (crash mid-write, or between a
    compaction's data write and its marker) has no live marker and is
    invisible, and a superseded per-wave marker stops counting the
    instant the segment marker lands."""
    import os
    import re as _re

    from pdfplucker_spark.job import committed_run_ids

    out = []
    for rid in committed_run_ids(index_dir):
        m = _re.fullmatch(r"bno-(\d+)", rid)
        if m:
            k = int(m.group(1))
            out.append((rid, k, k, os.path.join(index_dir, f"bno={k}")))
            continue
        m = _re.fullmatch(r"bnoc-(\d+)-(\d+)", rid)
        if m:
            lo, hi = int(m.group(1)), int(m.group(2))
            out.append((rid, lo, hi, os.path.join(index_dir, f"bnoc={lo}-{hi}")))
    return sorted(out, key=lambda e: (e[1], e[2]))


def _committed_waves(index_dir: str) -> list[int]:
    """Wave numbers whose index tables landed DURABLY (see
    ``_index_entries``): per-wave markers contribute their wave, compacted
    segments their whole contiguous range (compaction refuses gapped
    committed sets, so a segment's range is exactly the waves it merged)."""
    out: list[int] = []
    for _rid, lo, hi, _d in _index_entries(index_dir):
        out.extend(range(lo, hi + 1))
    return sorted(out)


def _index_wave_paths(index_dir: str, before_bno: int, subdir: str = "") -> list[str]:
    """Data directories covering every committed wave < ``before_bno`` —
    THE read side all standing-index consumers share. A compacted segment
    is included iff it lies entirely below the cut; a segment STRADDLING
    the cut is a watermark-contract violation (someone compacted waves at
    or ahead of a wave still being processed) and raises rather than
    silently over- or under-reading."""
    import os

    paths = []
    for _rid, lo, hi, d in _index_entries(index_dir):
        if hi < before_bno:
            paths.append(os.path.join(d, subdir) if subdir else d)
        elif lo < before_bno:
            raise RuntimeError(
                f"standing index {index_dir}: compacted segment [{lo},{hi}] "
                f"straddles the wave cut {before_bno} — compaction ran at or "
                "ahead of a wave still being processed (watermark contract)"
            )
    return paths


def compact_standing_index(
    spark: SparkSession,
    index_dir: str,
    subdirs: tuple[str, ...] = ("",),
    sum_over: tuple[tuple[str, ...], str] | None = None,
) -> tuple[int, int] | None:
    """Merge ALL committed entries of a standing index into one compacted
    segment — the state-maintenance step a long-lived stream needs (a year
    of waves is 10⁴ directories; every wave's read lists and unions all of
    them). Results are invariant BY CONSTRUCTION for both index families:
    counts indexes (``sum_over=(keys, count_col)``) are sum-mergeable, so
    group-sum over the union equals the union of per-wave counts under the
    readers' own aggregate; membership indexes (``sum_over=None``) are
    row-unions, preserved verbatim. ``subdirs`` names per-wave child
    tables (the dedup index's ``bands``/``toks``); ``("",)`` is a single
    flat table.

    Watermark contract: every wave ≤ the compacted high bound must be
    FINAL — the drain order stage_waves enforces guarantees this between
    runs. Refuses a gapped committed set (a missing wave number could
    still arrive; a segment spanning the gap would silently swallow it as
    already-committed). Crash-consistent via the marker protocol: segment
    data lands first (an unmarked ``bnoc=`` dir is invisible), then ONE
    marker with a ``supersedes:`` line retires all merged markers
    atomically. Old data dirs are left for vacuum, exactly like
    ``maintenance.compact``. Returns (lo, hi), or None if there is
    nothing to merge (fewer than two committed entries)."""
    import os

    from pyspark.sql import functions as F

    from pdfplucker_spark.job import _mark_committed

    entries = _index_entries(index_dir)
    if len(entries) < 2:
        return None
    waves = _committed_waves(index_dir)
    lo, hi = waves[0], waves[-1]
    if waves != list(range(lo, hi + 1)):
        raise ValueError(
            f"standing index {index_dir}: committed waves {waves} are not "
            "contiguous — a gap wave could still arrive, and a segment "
            "spanning the gap would skip it as already-committed"
        )
    seg_dir = os.path.join(index_dir, f"bnoc={lo}-{hi}")
    for sub in subdirs:
        paths = [os.path.join(d, sub) if sub else d for _r, _l, _h, d in entries]
        df = spark.read.parquet(*paths)
        if sum_over is not None:
            keys, cnt = sum_over
            df = df.groupBy(*keys).agg(F.sum(cnt).alias(cnt))
        df.write.mode("overwrite").parquet(
            os.path.join(seg_dir, sub) if sub else seg_dir
        )
    _mark_committed(
        index_dir,
        _index_seg_marker(lo, hi),
        supersedes=[rid for rid, _l, _h, _d in entries],
    )
    return (lo, hi)


def vacuum_standing_index(index_dir: str) -> list[str]:
    """Reclaim retired standing-index state: data dirs no LIVE entry
    references (compaction-superseded per-wave dirs, torn unmarked dirs)
    and superseded marker files. Safe by the protocol: live entries are
    untouched; an unmarked dir is invisible to every reader; and deleting
    a superseded MARKER file cannot resurrect anything — exclusion is by
    name in the superseding marker's ``supersedes:`` line, which stays.
    Same maintenance-window contract as ``compact_standing_index``: run
    between drains (a torn dir during an ACTIVE drain is a wave mid-write,
    not garbage). Returns the removed paths."""
    import os
    import re as _re
    import shutil

    from pdfplucker_spark.job import committed_run_ids

    live = _index_entries(index_dir)
    live_dirs = {d for _r, _l, _h, d in live}
    live_markers = {rid for rid, _l, _h, _d in live}
    removed = []
    for name in sorted(os.listdir(index_dir)):
        full = os.path.join(index_dir, name)
        if (
            (name.startswith("bno=") or name.startswith("bnoc="))
            and os.path.isdir(full)
            and full not in live_dirs
        ):
            shutil.rmtree(full)
            removed.append(full)
    commits = os.path.join(index_dir, "_commits")
    live_names = set(committed_run_ids(index_dir))
    try:
        marker_files = sorted(os.listdir(commits))
    except FileNotFoundError:
        marker_files = []
    for n in marker_files:
        if n.startswith("."):
            continue  # stale tmps belong to job.vacuum's lease-guarded path
        if n not in live_names and _re.fullmatch(r"bnoc?-[0-9-]+", n):
            # superseded index marker (per-wave or an older segment)
            full = os.path.join(commits, n)
            os.remove(full)
            removed.append(full)
            assert live_markers <= set(committed_run_ids(index_dir))
    return removed


def stream_dedup_incremental(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    files_per_wave: int = 1,
):
    """foreachBatch standing-index near-dup screening. Each doc carries its
    arrival-wave number ``bno`` IN the data (not inferred from micro-batch
    ids): results are defined by wave order alone, so they are invariant
    to how the file source groups files into micro-batches, and per-wave
    output/index directories make foreachBatch retries IDEMPOTENT
    (overwrite of the same ``bno=`` dir) — the manual-sink analogue of the
    checkpointed parquet sink's exactly-once. The index is two small
    parquet tables per wave (band keys + token sets): at production scale
    these are the standing dedup index a live pipeline maintains, and the
    per-batch join cost tracks the BATCH's dup mass, never corpus².

    Index MEMBERSHIP is the commit-marker protocol (``_committed_waves``):
    a wave joins the standing index only after BOTH its tables landed and
    its ``bno-k`` marker renamed into ``{index}/_commits/`` — the same
    atomic-visibility contract the batch job's run_id partitions use, so
    a torn/partial wave dir can never leak into a later wave's screen.

    ``files_per_wave`` must match the staging side (``stage_waves``): it
    becomes ``maxFilesPerTrigger``, and because every wave stages EXACTLY
    that many files sharing one mtime, each trigger pulls whole waves —
    a trigger boundary can never split a wave, so the ascending-``bno``
    loop's wave semantics hold at any wave width (r7 verdict #6: a
    production wave is multi-file)."""
    import os

    from pyspark.sql import functions as F

    from pdfplucker_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _band_rows,
        _sig_cols,
        _verify_jaccard,
    )
    from pdfplucker_spark.plans.guards import DEFAULT_BUCKET_CAP, guarded_probe

    index_dir = output_dir + "_index"

    src = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long, bno int"
        )
        .option("maxFilesPerTrigger", files_per_wave)
        .parquet(input_dir)
    )

    def _screen(batch_df, _batch_id):
        sp = batch_df.sparkSession
        # ascending-wave loop: even if the source coalesces several staged
        # files into one micro-batch, earlier waves index before later
        # waves screen — the wave boundary, not the trigger boundary, is
        # the semantic unit
        bnos = sorted(
            r.bno for r in batch_df.select("bno").distinct().collect()
        )
        for bno in bnos:
            committed = _committed_waves(index_dir)
            if bno in committed:
                # marker written LAST ⇒ a standing marker proves the wave's
                # result + both index tables fully landed in a prior run
                # (a foreachBatch retry after a crash between the marker
                # write and the checkpoint commit replays the batch).
                # Re-OVERWRITING here would delete committed data mid-
                # rewrite — a second crash would leave the marker pointing
                # at torn parquet. Skipping keeps committed waves immutable
                # (the batch run_id-partition contract) and makes retries
                # truly idempotent.
                #
                # The skip's safety depends on the WRITE ORDER below:
                # result → index tables → marker. Pin it: a standing
                # marker whose result dir is missing means a reorder put
                # the marker first (a retry would then silently drop the
                # wave's screening output) — fail loud instead (r7
                # advice).
                if not os.path.isdir(os.path.join(output_dir, f"bno={bno}")):
                    raise RuntimeError(
                        f"stream_dedup_incremental: wave {bno} is marker-"
                        f"committed but its result dir {output_dir}/bno="
                        f"{bno} is absent — the result-before-marker "
                        "write ordering was violated; skipping would drop "
                        "this wave's output"
                    )
                continue
            cur = batch_df.where(F.col("bno") == bno)
            # bands and toks each feed TWO consumers (candidate join +
            # index write / verify union + index write): persist THEM, not
            # the raw rows — the minhash fold is the expensive part and
            # must not run twice per wave
            bands = _band_rows(cur.select("doc_id", *_sig_cols())).persist()
            toks = cur.select(
                "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
            ).persist()
            band_paths = _index_wave_paths(index_dir, bno, "bands")
            if band_paths:
                ib = sp.read.parquet(*band_paths)
                it = sp.read.parquet(*_index_wave_paths(index_dir, bno, "toks"))
                # the guarded-join invariant (CLAUDE.md): capping the INDEX
                # side bounds the per-wave join at wave_size × cap even on
                # a degenerate corpus (the wave bounds its own side); the
                # cap never fires on honest corpora, so the oracle is
                # unchanged — same treatment as dedup_incremental
                screen = guarded_probe(
                    ib.select(F.col("doc_id").alias("index_doc_id"), "band", "key"),
                    ("band", "key"),
                    DEFAULT_BUCKET_CAP,
                    "stream_dedup_incremental",
                )
                probe = bands.select(F.col("doc_id").alias("batch_doc_id"), "band", "key")
                cand = screen(probe).select("batch_doc_id", "index_doc_id").distinct()
                all_toks = toks.unionByName(it)
                res = _verify_jaccard(
                    cand, all_toks, "batch_doc_id", "index_doc_id",
                    JACCARD_THRESHOLD,
                )
            else:
                res = sp.createDataFrame(
                    [], "batch_doc_id long, index_doc_id long, jaccard double"
                )
            res.write.mode("overwrite").parquet(
                os.path.join(output_dir, f"bno={bno}")
            )
            bands.write.mode("overwrite").parquet(
                os.path.join(index_dir, f"bno={bno}", "bands")
            )
            toks.write.mode("overwrite").parquet(
                os.path.join(index_dir, f"bno={bno}", "toks")
            )
            # the wave becomes index-visible ONLY here, after both tables
            # landed: marker write is an atomic tmp-write + rename
            # (job._mark_committed), idempotent under foreachBatch retry
            from pdfplucker_spark.job import _mark_committed

            _mark_committed(index_dir, _index_marker(bno))
            # per-wave caches die with the wave — a 10⁹-doc drain must not
            # accumulate one cached frame pair per micro-batch
            bands.unpersist()
            toks.unpersist()

    return (
        src.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_decontaminate_incremental(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    files_per_wave: int = 1,
):
    """foreachBatch incremental decontamination — the production cadence
    of ``docs_decontaminate_incremental`` (operators/pipeline.py): the
    eval-shingle index is STANDING (benchmark suites are static; staged
    beside the stream input, df-capped once), and the TRAIN corpus
    arrives as waves — each micro-batch shingles only its own docs and
    joins the index, so per-wave cost tracks the wave, never the corpus.
    Unlike the batch operator (which screens a 1/20 train slice), the
    drained stream screens the ENTIRE train corpus, wave by wave.
    Per-wave overwrite dirs make retries idempotent. ``files_per_wave``
    must match the staging side (see ``stream_dedup_incremental``): with
    the exact-file-count staging contract, ``maxFilesPerTrigger=
    files_per_wave`` keeps trigger boundaries aligned to wave
    boundaries."""
    import os

    from pyspark.sql import functions as F

    from pdfplucker_spark.operators.dedup import _SHINGLE_OVER_TOKENS
    from pdfplucker_spark.operators.pipeline import (
        DECONTAM_DF_CAP,
        DECONTAM_MIN_SHARED,
    )
    from pdfplucker_spark.plans.guards import guarded_probe

    # the standing index: built ONCE from the staged eval docs, persisted
    # and guarded — every micro-batch probes it instead of re-shingling
    screen = guarded_probe(
        spark.read.parquet(input_dir + "_eval")
        .select(
            F.col("doc_id").alias("eval_doc_id"),
            F.split("text", " ").alias("__tk"),
        )
        .select("eval_doc_id", F.explode(F.expr(_SHINGLE_OVER_TOKENS)).alias("g"))
        .persist(),
        ("g",),
        DECONTAM_DF_CAP,
        "stream_decontaminate_incremental",
    )

    src = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long, bno int"
        )
        .option("maxFilesPerTrigger", files_per_wave)
        .parquet(input_dir)
    )

    def _screen(batch_df, _batch_id):
        from pyspark.sql import functions as F

        bnos = sorted(
            r.bno for r in batch_df.select("bno").distinct().collect()
        )
        for bno in bnos:
            sh = (
                batch_df.where(F.col("bno") == bno)
                .select(
                    F.col("doc_id").alias("train_doc_id"),
                    F.split("text", " ").alias("__tk"),
                )
                .select(
                    "train_doc_id",
                    F.explode(F.expr(_SHINGLE_OVER_TOKENS)).alias("g"),
                )
            )
            res = (
                screen(sh)
                .groupBy("train_doc_id", "eval_doc_id")
                .agg(F.count("*").alias("n_shared_ngrams"))
                .where(F.col("n_shared_ngrams") >= DECONTAM_MIN_SHARED)
            )
            res.write.mode("overwrite").parquet(
                os.path.join(output_dir, f"bno={bno}")
            )

    return (
        src.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def q_stream_decontaminate_incremental(spark: SparkSession, sf_dir: str):
    """DRIVER-GATED streaming: eval docs (the ``docs_sample`` md5 stratum)
    become the standing df-capped shingle index; the WHOLE train corpus
    arrives as ``STREAM_INC_BATCHES`` waves and is screened wave-by-wave.
    Oracle: the full-scan decontamination algebra over all train docs,
    each tagged with its wave — the wave tag is pure partition bookkeeping
    here (the index is static), so the boundary check is that per-wave
    union equals the corpus-wide screen."""
    import os

    from pyspark.sql import functions as F

    from pdfplucker_spark.functions.hashing import md5_long
    from pdfplucker_spark.operators.pipeline import SAMPLE_MOD

    def _stage(sp, in_dir):
        d = sp.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        gate = md5_long(
            F.concat("source", F.lit(":"), F.col("doc_id").cast("string"))
        )
        d.where(gate % SAMPLE_MOD == 0).write.mode("overwrite").parquet(
            in_dir + "_eval"
        )
        train = d.where(gate % SAMPLE_MOD != 0).withColumn(
            "bno",
            (
                md5_long(F.concat(F.lit("db:"), F.col("doc_id").cast("string")))
                % STREAM_INC_BATCHES
            ).cast("int"),
        )
        stage_waves(train, in_dir, range(STREAM_INC_BATCHES))

    sink = _drain(
        spark, sf_dir, "deconinc", _stage, stream_decontaminate_incremental
    )
    return spark.read.schema(
        "train_doc_id long, eval_doc_id long, n_shared_ngrams long, bno int"
    ).parquet(sink)


def _sql_stream_decontaminate_incremental() -> str:
    from pdfplucker_spark.functions.hashing import sql_md5_long
    from pdfplucker_spark.operators.pipeline import (
        DECONTAM_DF_CAP,
        DECONTAM_MIN_SHARED,
        SAMPLE_MOD,
        _SQL_SHINGLES,
    )

    egate = sql_md5_long("source || ':' || CAST(doc_id AS VARCHAR)")
    bgate = sql_md5_long("'db:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH sh AS (
  SELECT doc_id,
         {egate} % {SAMPLE_MOD} AS gate,
         CAST({bgate} % {STREAM_INC_BATCHES} AS INTEGER) AS bno,
         UNNEST({_SQL_SHINGLES}) AS g
  FROM documents
),
ok AS (SELECT g FROM sh WHERE gate = 0 GROUP BY g HAVING COUNT(*) <= {DECONTAM_DF_CAP})
SELECT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id,
       COUNT(*) AS n_shared_ngrams, t.bno
FROM (SELECT doc_id, g, bno FROM sh WHERE gate <> 0) t
JOIN (SELECT doc_id, g FROM sh JOIN ok USING (g) WHERE gate = 0) e USING (g)
GROUP BY 1, 2, 4
HAVING COUNT(*) >= {DECONTAM_MIN_SHARED}
"""


STREAM_INC_FILES_PER_WAVE = 3  # production waves are multi-file (r8 #6)


def stream_line_dedup_incremental(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    files_per_wave: int = 1,
    compact_every: int | None = None,
):
    """foreachBatch incremental LINE dedup — the live-pipeline cadence of
    ``docs_line_dedup`` (operators/dedup.py): docs arrive as waves, and a
    segment is boilerplate for wave w iff its cumulative document
    frequency over ALL waves ≤ w (the standing counts so far PLUS the
    current wave's own docs) reaches the threshold. A segment crosses
    the threshold in exactly one wave; earlier emissions are not
    retro-cleaned — how a live pipeline behaves.

    This is the THIRD standing-index state pattern beside the two
    membership indexes (dedup: band keys + token sets; decontaminate:
    static eval shingles): a sum-MERGEABLE aggregate. Each wave appends
    one small (seg, n_docs) table; the current frequency is the sum over
    committed waves — associative, so the index compacts at any time
    without changing a single result. ``compact_every=C`` runs that
    maintenance IN-LOOP: after a wave commits, once the committed entry
    count reaches C, ``compact_standing_index`` folds them into one
    segment (group-sum) — bounding the read side at ≤ C tables forever,
    the shape a years-long stream needs; the driver registration uses it,
    so result-invariance under compaction is cross-engine-verified, not
    just pytest-asserted. The in-loop call is watermark-safe by
    construction: it runs after wave w's marker, and every later read
    cuts at a wave > w. Per-wave join cost tracks the wave's segment set
    × the matched index rows; there is NO self-join, so no occupancy
    guard is needed (a hot segment is one counter cell). Index
    visibility is the commit-marker protocol; write order result →
    index → marker with the same retry-skip + result-presence pin as
    the dedup stream."""
    import os

    from pyspark.sql import functions as F

    from pdfplucker_spark.operators.dedup import (
        LINE_DF_THRESHOLD,
        line_segment_rows,
    )

    index_dir = output_dir + "_index"

    src = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long, bno int"
        )
        .option("maxFilesPerTrigger", files_per_wave)
        .parquet(input_dir)
    )

    def _screen(batch_df, _batch_id):
        sp = batch_df.sparkSession
        bnos = sorted(r.bno for r in batch_df.select("bno").distinct().collect())
        for bno in bnos:
            committed = _committed_waves(index_dir)
            if bno in committed:
                if not os.path.isdir(os.path.join(output_dir, f"bno={bno}")):
                    raise RuntimeError(
                        f"stream_line_dedup_incremental: wave {bno} is "
                        f"marker-committed but its result dir is absent — "
                        "the result-before-marker write ordering was "
                        "violated; skipping would drop this wave's output"
                    )
                continue
            cur = batch_df.where(F.col("bno") == bno)
            # persist: the exploded segment frame feeds the wave-count agg
            # AND the flag join + reassembly. line_segment_rows is THE
            # shared segmenter (tokenize hoisted — never re-split per
            # segment; it also drops null-text docs, matching the oracle).
            segs = line_segment_rows(cur).persist()
            # this wave's per-segment distinct-doc counts: persisted — they
            # feed the cumulative sum AND the index append
            wc = (
                segs.select("seg", "doc_id")
                .distinct()
                .groupBy("seg")
                .agg(F.count("*").alias("n"))
                .persist()
            )
            prior_paths = _index_wave_paths(index_dir, bno)
            total = wc
            if prior_paths:
                total = wc.unionByName(sp.read.parquet(*prior_paths))
            boiler = (
                total.groupBy("seg")
                .agg(F.sum("n").alias("df"))
                .where(F.col("df") >= LINE_DF_THRESHOLD)
                .select("seg", F.lit(1).alias("b"))
            )
            flagged = segs.join(boiler, "seg", "left").select(
                "doc_id", "seg_idx", "seg", F.coalesce("b", F.lit(0)).alias("b")
            )
            res = flagged.groupBy("doc_id").agg(
                F.count("*").alias("n_segs"),
                F.sum("b").alias("n_boiler_segs"),
                F.expr(
                    "concat_ws(' ', transform(filter(array_sort(collect_list("
                    "struct(seg_idx, seg, b))), x -> x.b = 0), x -> x.seg))"
                ).alias("clean_text"),
            ).select(
                "doc_id",
                F.lit(bno).cast("int").alias("bno"),
                "n_segs",
                "n_boiler_segs",
                "clean_text",
            )
            res.write.mode("overwrite").parquet(
                os.path.join(output_dir, f"bno={bno}")
            )
            wc.write.mode("overwrite").parquet(
                os.path.join(index_dir, f"bno={bno}")
            )
            from pdfplucker_spark.job import _mark_committed

            _mark_committed(index_dir, _index_marker(bno))
            segs.unpersist()
            wc.unpersist()
            if compact_every and len(_index_entries(index_dir)) >= compact_every:
                compact_standing_index(sp, index_dir, sum_over=(("seg",), "n"))

    return (
        src.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def q_stream_line_dedup_incremental(spark: SparkSession, sf_dir: str):
    """DRIVER-GATED streaming: the documents corpus arrives as
    ``STREAM_INC_BATCHES`` waves and each wave's docs are cleaned
    against the cumulative segment frequency up to and including their
    own wave (threshold-crossing semantics). The oracle states the same
    boundary with one window: per-(seg, wave) distinct-doc counts,
    cumulative-summed over waves, joined back on the segment's own
    (seg, bno) — a doc's segment is boilerplate iff the running df at
    its OWN wave has crossed the threshold."""
    import os

    from pyspark.sql import functions as F

    from pdfplucker_spark.functions.hashing import md5_long

    def _stage(sp, in_dir):
        d = sp.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        d = d.withColumn(
            "bno",
            (
                md5_long(F.concat(F.lit("lb:"), F.col("doc_id").cast("string")))
                % STREAM_INC_BATCHES
            ).cast("int"),
        )
        stage_waves(d, in_dir, range(STREAM_INC_BATCHES))

    # compact_every=3: with 4 waves, the standing counts index folds into
    # one bnoc segment after wave 2 commits, and wave 3 screens THROUGH
    # the compacted segment — so this registration's oracle compare is the
    # cross-engine record that compaction changes no result (the oracle
    # knows nothing about compaction; it replays plain cumulative sums)
    def _start(sp, in_dir, out_dir, ckpt_dir):
        return stream_line_dedup_incremental(
            sp, in_dir, out_dir, ckpt_dir, compact_every=3
        )

    sink = _drain(spark, sf_dir, "lineinc", _stage, _start)
    return spark.read.schema(
        "doc_id long, bno int, n_segs long, n_boiler_segs long, "
        "clean_text string"
    ).parquet(sink)


def _sql_stream_line_dedup_incremental() -> str:
    from pdfplucker_spark.functions.hashing import sql_md5_long
    from pdfplucker_spark.operators.dedup import (
        LINE_DF_THRESHOLD,
        LINE_SEG_WORDS,
    )

    gate = sql_md5_long("'lb:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH toks AS (
  SELECT doc_id,
         CAST({gate} % {STREAM_INC_BATCHES} AS INTEGER) AS bno,
         string_split(text, ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
segs AS (
  SELECT doc_id, bno, i AS seg_idx,
         array_to_string(t[(i * {LINE_SEG_WORDS} + 1):((i + 1) * {LINE_SEG_WORDS})], ' ') AS seg
  FROM toks, UNNEST(range(CAST(ceil(len(t) / {LINE_SEG_WORDS}.0) AS BIGINT))) AS u(i)
),
wavedf AS (SELECT seg, bno, COUNT(DISTINCT doc_id) AS n FROM segs GROUP BY seg, bno),
cum AS (
  SELECT seg, bno, SUM(n) OVER (PARTITION BY seg ORDER BY bno) AS cdf FROM wavedf
),
flagged AS (
  SELECT s.doc_id, s.bno, s.seg_idx, s.seg,
         CASE WHEN c.cdf >= {LINE_DF_THRESHOLD} THEN 1 ELSE 0 END AS b
  FROM segs s JOIN cum c ON c.seg = s.seg AND c.bno = s.bno
)
SELECT doc_id, bno,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(b) AS BIGINT) AS n_boiler_segs,
       COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE b = 0), '') AS clean_text
FROM flagged
GROUP BY doc_id, bno
"""


TOPK_TERMS_K = 5


def stream_topk_terms(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    files_per_wave: int = 1,
):
    """foreachBatch TRENDING top-k: docs arrive as waves, and after each
    wave the query emits the K most frequent terms by CUMULATIVE count
    over everything seen so far — the "trending terms" board a live
    corpus-intake pipeline keeps.

    Same sum-mergeable counts-index state pattern as the line-dedup
    stream (a per-wave (term, n) table; cumulative = sum over committed
    waves, compactable at any time without changing results), but a
    different READ side: instead of gating the wave's own rows against
    the running aggregate, each wave RANKS the running aggregate —
    top-k via TakeOrdered over the term-cardinality totals (never a
    global sort), then a row_number over the K survivors only. All rank
    keys are integers + the term string (count DESC, term ASC), so
    cross-engine order is exact — no float-ordering hazards anywhere.
    Commit-marker visibility; write order result → index → marker with
    the same retry-skip + result-presence pin as the other streams."""
    import os

    from pyspark.sql import Window, functions as F

    index_dir = output_dir + "_index"

    src = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long, bno int"
        )
        .option("maxFilesPerTrigger", files_per_wave)
        .parquet(input_dir)
    )

    def _screen(batch_df, _batch_id):
        sp = batch_df.sparkSession
        bnos = sorted(r.bno for r in batch_df.select("bno").distinct().collect())
        for bno in bnos:
            committed = _committed_waves(index_dir)
            if bno in committed:
                if not os.path.isdir(os.path.join(output_dir, f"bno={bno}")):
                    raise RuntimeError(
                        f"stream_topk_terms: wave {bno} is marker-committed "
                        "but its result dir is absent — the result-before-"
                        "marker write ordering was violated; skipping would "
                        "drop this wave's output"
                    )
                continue
            cur = batch_df.where(
                (F.col("bno") == bno) & F.col("text").isNotNull()
            )
            # persisted: this wave's term counts feed the cumulative sum
            # AND the index append
            wc = (
                cur.select(F.explode(F.split("text", " ")).alias("term"))
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("n"))
                .persist()
            )
            prior_paths = _index_wave_paths(index_dir, bno)
            total = wc
            if prior_paths:
                total = wc.unionByName(sp.read.parquet(*prior_paths))
            topk = (
                total.groupBy("term")
                .agg(F.sum("n").alias("cum_cnt"))
                .orderBy(F.desc("cum_cnt"), F.asc("term"))
                .limit(TOPK_TERMS_K)
            )
            res = topk.select(
                F.lit(bno).cast("int").alias("bno"),
                F.row_number()
                .over(Window.orderBy(F.desc("cum_cnt"), F.asc("term")))
                .alias("rank"),
                "term",
                "cum_cnt",
            )
            res.write.mode("overwrite").parquet(
                os.path.join(output_dir, f"bno={bno}")
            )
            wc.write.mode("overwrite").parquet(
                os.path.join(index_dir, f"bno={bno}")
            )
            from pdfplucker_spark.job import _mark_committed

            _mark_committed(index_dir, _index_marker(bno))
            wc.unpersist()

    return (
        src.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def q_stream_topk_terms(spark: SparkSession, sf_dir: str):
    """DRIVER-GATED streaming: the documents corpus arrives as
    ``STREAM_INC_BATCHES`` waves; after each, the top-``TOPK_TERMS_K``
    terms by cumulative count. The oracle replays the board with one
    window over the full (term × wave) grid: per-(term, wave) counts,
    cumulative-summed over waves, ranked per wave."""
    import os

    from pyspark.sql import functions as F

    from pdfplucker_spark.functions.hashing import md5_long

    def _stage(sp, in_dir):
        d = sp.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        d = d.withColumn(
            "bno",
            (
                md5_long(F.concat(F.lit("tt:"), F.col("doc_id").cast("string")))
                % STREAM_INC_BATCHES
            ).cast("int"),
        )
        stage_waves(d, in_dir, range(STREAM_INC_BATCHES))

    sink = _drain(spark, sf_dir, "topkterms", _stage, stream_topk_terms)
    return spark.read.schema(
        "bno int, rank int, term string, cum_cnt long"
    ).parquet(sink)


def _sql_stream_topk_terms() -> str:
    from pdfplucker_spark.functions.hashing import sql_md5_long

    gate = sql_md5_long("'tt:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH gated AS (
  SELECT doc_id, text, CAST({gate} % {STREAM_INC_BATCHES} AS INTEGER) AS bno
  FROM documents
),
waves AS (SELECT DISTINCT bno FROM gated),
toks AS (
  SELECT bno, unnest(string_split(text, ' ')) AS term
  FROM gated WHERE text IS NOT NULL
),
wavedf AS (SELECT term, bno, COUNT(*) AS n FROM toks GROUP BY term, bno),
grid AS (
  SELECT t.term, w.bno
  FROM (SELECT DISTINCT term FROM wavedf) t CROSS JOIN waves w
),
cum AS (
  SELECT g.term, g.bno,
         SUM(COALESCE(wd.n, 0)) OVER (PARTITION BY g.term ORDER BY g.bno)
           AS cum_cnt
  FROM grid g LEFT JOIN wavedf wd ON wd.term = g.term AND wd.bno = g.bno
),
ranked AS (
  SELECT bno, term, cum_cnt,
         CAST(ROW_NUMBER() OVER (PARTITION BY bno
                                 ORDER BY cum_cnt DESC, term ASC) AS INT)
           AS rank
  FROM cum WHERE cum_cnt >= 1
)
SELECT bno, rank, term, CAST(cum_cnt AS BIGINT) AS cum_cnt
FROM ranked WHERE rank <= {TOPK_TERMS_K}
"""


def stream_cms_topk_terms(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    files_per_wave: int = 1,
):
    """foreachBatch trending board over a COUNT-MIN GRID index — the
    bounded-state counterpart of ``stream_topk_terms``: where that
    stream's counts index grows with the vocabulary, this one's standing
    state is the d×w CMS grid — ≤ CMS_D·CMS_W (256) cells per wave
    REGARDLESS of vocabulary size, the property that lets a 100 TB
    intake stream keep its heavy-hitter state in kilobytes. CMS is
    linear, so per-wave grids SUM-MERGE exactly like the counts index
    (same commit-marker protocol, compactable without changing any
    board). Per wave: the wave's own distinct terms are the candidates
    (the stream never enumerates the historical vocabulary — that is
    the sketch contract), each estimated against the cumulative grid
    (min over rows), top-k by (estimate DESC, term ASC). Deterministic
    md5 hash family ⇒ the oracle replays every wave's grid and board
    exactly — a full hash-exact gate, not a within-bound flag."""
    import os

    from pyspark.sql import Window, functions as F

    from pdfplucker_spark.operators.sketches import CMS_D, cms_bucket as bucket

    index_dir = output_dir + "_index"

    src = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long, bno int"
        )
        .option("maxFilesPerTrigger", files_per_wave)
        .parquet(input_dir)
    )

    def _screen(batch_df, _batch_id):
        sp = batch_df.sparkSession
        bnos = sorted(r.bno for r in batch_df.select("bno").distinct().collect())
        for bno in bnos:
            committed = _committed_waves(index_dir)
            if bno in committed:
                if not os.path.isdir(os.path.join(output_dir, f"bno={bno}")):
                    raise RuntimeError(
                        f"stream_cms_topk_terms: wave {bno} is marker-"
                        "committed but its result dir is absent — the "
                        "result-before-marker write ordering was violated"
                    )
                continue
            cur = batch_df.where(
                (F.col("bno") == bno) & F.col("text").isNotNull()
            )
            # persisted: the wave's term counts feed the grid build AND
            # the candidate list
            wc = (
                cur.select(F.explode(F.split("text", " ")).alias("term"))
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("n"))
                .persist()
            )
            wave_grid = None
            for i in range(CMS_D):
                part = wc.select(
                    F.lit(i).alias("row_i"),
                    bucket(i, F.col("term")).alias("bucket"),
                    "n",
                )
                wave_grid = (
                    part if wave_grid is None else wave_grid.unionByName(part)
                )
            wave_grid = (
                wave_grid.groupBy("row_i", "bucket")
                .agg(F.sum("n").alias("n"))
                .persist()  # feeds the cumulative sum AND the index append
            )
            prior_paths = _index_wave_paths(index_dir, bno)
            total = wave_grid
            if prior_paths:
                total = wave_grid.unionByName(sp.read.parquet(*prior_paths))
            cum = total.groupBy("row_i", "bucket").agg(F.sum("n").alias("c"))
            est = wc.select("term")
            for i in range(CMS_D):
                ci = cum.where(F.col("row_i") == i).select(
                    F.col("bucket").alias(f"b{i}"), F.col("c").alias(f"c{i}")
                )
                est = est.join(
                    F.broadcast(ci), bucket(i, F.col("term")) == F.col(f"b{i}")
                )
            board = (
                est.select(
                    "term",
                    F.least(
                        *[F.col(f"c{i}") for i in range(CMS_D)]
                    ).alias("cms_estimate"),
                )
                .orderBy(F.desc("cms_estimate"), F.asc("term"))
                .limit(TOPK_TERMS_K)
            )
            res = board.select(
                F.lit(bno).cast("int").alias("bno"),
                F.row_number()
                .over(Window.orderBy(F.desc("cms_estimate"), F.asc("term")))
                .alias("rank"),
                "term",
                "cms_estimate",
            )
            res.write.mode("overwrite").parquet(
                os.path.join(output_dir, f"bno={bno}")
            )
            wave_grid.write.mode("overwrite").parquet(
                os.path.join(index_dir, f"bno={bno}")
            )
            from pdfplucker_spark.job import _mark_committed

            _mark_committed(index_dir, _index_marker(bno))
            wave_grid.unpersist()
            wc.unpersist()

    return (
        src.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def q_stream_cms_topk_terms(spark: SparkSession, sf_dir: str):
    """DRIVER-GATED streaming: the CMS trending board — waves of docs, a
    256-cell sum-mergeable grid as the ONLY standing state, per-wave
    top-k of the wave's own terms by cumulative CMS estimate. The oracle
    replays the deterministic grid per wave in SQL (full value compare —
    CMS is the one sketch DuckDB can reproduce bit-for-bit)."""
    import os

    from pyspark.sql import functions as F

    from pdfplucker_spark.functions.hashing import md5_long

    def _stage(sp, in_dir):
        d = sp.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        d = d.withColumn(
            "bno",
            (
                md5_long(F.concat(F.lit("ct:"), F.col("doc_id").cast("string")))
                % STREAM_INC_BATCHES
            ).cast("int"),
        )
        stage_waves(d, in_dir, range(STREAM_INC_BATCHES))

    sink = _drain(spark, sf_dir, "cmsterms", _stage, stream_cms_topk_terms)
    return spark.read.schema(
        "bno int, rank int, term string, cms_estimate long"
    ).parquet(sink)


def _sql_stream_cms_topk_terms() -> str:
    from pdfplucker_spark.functions.hashing import sql_md5_long
    from pdfplucker_spark.operators.sketches import (
        CMS_D,
        sql_cms_bucket as bucket,
    )

    gate = sql_md5_long("'ct:' || CAST(doc_id AS VARCHAR)")

    gridw = "\n  UNION ALL\n".join(
        f"  SELECT bno, {i} AS row_i, {bucket(i, 'term')} AS bucket,"
        " COUNT(*) AS n FROM toks GROUP BY 1, 3"
        for i in range(CMS_D)
    )
    joins = "\n".join(
        f"JOIN cum c{i} ON c{i}.bno = t.bno AND c{i}.row_i = {i} "
        f"AND c{i}.bucket = {bucket(i, 't.term')}"
        for i in range(CMS_D)
    )
    least = ", ".join(f"c{i}.c" for i in range(CMS_D))
    return f"""
WITH gated AS (
  SELECT doc_id, text, CAST({gate} % {STREAM_INC_BATCHES} AS INTEGER) AS bno
  FROM documents
),
toks AS (
  SELECT bno, unnest(string_split(text, ' ')) AS term
  FROM gated WHERE text IS NOT NULL
),
gridw AS (
{gridw}
),
waves AS (SELECT DISTINCT bno FROM gated),
cum AS MATERIALIZED (
  SELECT w.bno, g.row_i, g.bucket, CAST(SUM(g.n) AS BIGINT) AS c
  FROM waves w JOIN gridw g ON g.bno <= w.bno
  GROUP BY w.bno, g.row_i, g.bucket
),
wterms AS (SELECT DISTINCT bno, term FROM toks),
est AS (
  SELECT t.bno, t.term, least({least}) AS cms_estimate
  FROM wterms t
{joins}
),
ranked AS (
  SELECT bno, term, cms_estimate,
         CAST(ROW_NUMBER() OVER (PARTITION BY bno
                                 ORDER BY cms_estimate DESC, term ASC) AS INT)
           AS rank
  FROM est
)
SELECT bno, rank, term, cms_estimate
FROM ranked WHERE rank <= {TOPK_TERMS_K}
"""


def q_stream_dedup_incremental(spark: SparkSession, sf_dir: str):
    """DRIVER-GATED streaming: the documents corpus arrives as
    ``STREAM_INC_BATCHES`` waves (deterministic md5 gate, strictly
    increasing file mtimes so the file source drains them in wave order),
    each wave staged as ``STREAM_INC_FILES_PER_WAVE`` files — the
    production shape, where one arrival wave is many part files and
    ``maxFilesPerTrigger`` keeps trigger boundaries wave-aligned — and
    screened incrementally against the growing standing index. The oracle
    is UNCHANGED from the single-file registration: wave semantics are
    defined by the in-data ``bno`` alone, so the file count per wave must
    not change a single output row — the cross-engine record is exactly
    the multi-file-contract check (r8 verdict #6). The oracle encodes the
    BATCH BOUNDARY in one SQL predicate: a pair is reported iff the band
    keys match, the exact Jaccard clears the threshold, and the screened
    doc's wave is STRICTLY LATER than the indexed doc's — exactly what
    the per-wave index reads enforce."""
    import os

    from pyspark.sql import functions as F

    from pdfplucker_spark.functions.hashing import md5_long

    def _stage(sp, in_dir):
        d = sp.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        d = d.withColumn(
            "bno",
            (
                md5_long(F.concat(F.lit("sb:"), F.col("doc_id").cast("string")))
                % STREAM_INC_BATCHES
            ).cast("int"),
        )
        stage_waves(
            d,
            in_dir,
            range(STREAM_INC_BATCHES),
            files_per_wave=STREAM_INC_FILES_PER_WAVE,
        )

    def _start(sp, in_dir, out_dir, ckpt_dir):
        return stream_dedup_incremental(
            sp, in_dir, out_dir, ckpt_dir,
            files_per_wave=STREAM_INC_FILES_PER_WAVE,
        )

    sink = _drain(spark, sf_dir, "inc", _stage, _start)
    return spark.read.schema(
        "batch_doc_id long, index_doc_id long, jaccard double, bno int"
    ).parquet(sink)


def _sql_stream_dedup_incremental() -> str:
    from pdfplucker_spark.functions.hashing import sql_md5_long
    from pdfplucker_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _sql_band_cte,
        _sql_sigs,
    )

    gate = sql_md5_long("'sb:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH sigs AS (
  SELECT doc_id,
  {_sql_sigs()}
  FROM documents
),
bands AS (
  {_sql_band_cte()}
),
gated AS (
  SELECT doc_id, band, key, CAST({gate} % {STREAM_INC_BATCHES} AS INTEGER) AS bno
  FROM bands
),
cand AS (
  SELECT DISTINCT a.doc_id AS batch_doc_id, b.doc_id AS index_doc_id, a.bno
  FROM gated a JOIN gated b
    ON a.band = b.band AND a.key = b.key AND a.bno > b.bno
),
toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents)
SELECT batch_doc_id, index_doc_id, round(jac, 6) AS jaccard, bno FROM (
  SELECT batch_doc_id, index_doc_id, bno,
         CAST(len(list_intersect(ta.t, tb.t)) AS DOUBLE)
           / len(list_distinct(ta.t || tb.t)) AS jac
  FROM cand JOIN toks ta ON ta.doc_id = batch_doc_id
            JOIN toks tb ON tb.doc_id = index_doc_id
) WHERE jac >= {JACCARD_THRESHOLD}
"""


QUERIES = {
    "stream_extract": (q_stream_extract, _sql_stream_extract()),
    "stream_dedup_incremental": (
        q_stream_dedup_incremental,
        _sql_stream_dedup_incremental(),
    ),
    "stream_decontaminate_incremental": (
        q_stream_decontaminate_incremental,
        _sql_stream_decontaminate_incremental(),
    ),
    "stream_line_dedup_incremental": (
        q_stream_line_dedup_incremental,
        _sql_stream_line_dedup_incremental(),
    ),
    "stream_topk_terms": (q_stream_topk_terms, _sql_stream_topk_terms()),
    "stream_cms_topk_terms": (
        q_stream_cms_topk_terms,
        _sql_stream_cms_topk_terms(),
    ),
    "stream_windowed_counts": (q_stream_windowed_counts, SQL_STREAM_WINDOWED_COUNTS),
    "stream_user_running_totals": (
        q_stream_user_running_totals,
        SQL_STREAM_USER_RUNNING_TOTALS,
    ),
    "stream_click_purchase_join": (
        q_stream_click_purchase_join,
        SQL_STREAM_CLICK_PURCHASE_JOIN,
    ),
    "stream_dedup_exact": (q_stream_dedup_exact, SQL_STREAM_DEDUP_EXACT),
    "stream_sessionize": (q_stream_sessionize, SQL_STREAM_SESSIONIZE),
}


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
):
    """Stateful streaming sessionization — the streaming analogue of the
    batch ``events_sessionize`` operator (operators/relational.py): gap-based
    session windows per user, state merged incrementally by Spark's
    session_window operator and bounded by the watermark (a session closes
    and emits once the watermark passes its end + gap). Declarative
    state-per-key — no custom applyInPandasWithState needed for this
    semantic; state size per key is one open session.

    The money column is summed in exact decimal so a drained stream equals
    the batch computation bit-for-bit regardless of partial-agg order.
    """
    from pyspark.sql import functions as F

    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    src = src.withColumn("ts", _ntz_as_utc_instant("ts"))
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last_event"),
        )
        .select(
            "user_id",
            "session_start",
            "session_last_event",
            "n_events",
            "total_value",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
