"""Streaming extraction: same results as batch, exactly-once across restarts."""

import os

import pyarrow.parquet as pq
import pytest

from pdfplucker_spark.gen import gen_rows, rows_to_table
from pdfplucker_spark.oracle import extract_doc
from pdfplucker_spark.streaming.stream import _ntz_as_utc_instant, stream_extract


def test_stream_matches_oracle_and_is_exactly_once(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    rows = list(gen_rows("t1"))
    pq.write_table(rows_to_table(rows[:50]), f"{in_dir}/part1.parquet")

    q = stream_extract(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)

    # late-arriving file + restart from checkpoint → only the new file runs
    pq.write_table(rows_to_table(rows[50:]), f"{in_dir}/part2.parquet")
    q2 = stream_extract(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)

    res = spark.read.parquet(out_dir)
    assert res.count() == 100
    assert res.select("doc_id").distinct().count() == 100  # exactly-once
    got = {r["doc_id"]: r.asDict(recursive=True) for r in res.collect()}
    for doc_id, spans in rows:
        exp = extract_doc(doc_id, spans)
        g = got[doc_id]
        gspans = [
            {k: s[k] for k in ("kind", "text", "media_ref", "offset")}
            for s in g["spans"]
        ]
        assert g["status"] == exp["status"] and gspans == exp["spans"], doc_id


def test_windowed_stream_matches_batch(spark, tmp_path):
    """Watermarked tumbling-window counts over a drained file stream equal
    the batch computation (append mode emits only finalized windows, so
    compare on the windows the stream closed)."""
    import shutil

    from pyspark.sql import functions as F

    from pdfplucker_spark.streaming.stream import stream_windowed_event_counts

    in_dir = str(tmp_path / "ev")
    os.makedirs(in_dir)
    shutil.copy("/root/testdata/sf0.001/events.parquet", in_dir + "/events.parquet")

    q = stream_windowed_event_counts(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got, "stream produced no finalized windows"
    batch = (
        spark.read.parquet(in_dir)
        .withColumn("ts", _ntz_as_utc_instant("ts"))
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    )
    exp = {(r.ws, r.event_type): r.n for r in batch}
    for k, v in got.items():
        assert exp[k] == v, k


def test_streaming_dedup_exact_replayed_input(spark, tmp_path):
    """At-least-once ingest (the same events file landed twice) reduces to
    one row per event_id; watermark bounds the dedup state."""
    import shutil

    from pyspark.sql import functions as F

    from pdfplucker_spark.streaming.stream import stream_dedup_exact

    in_dir = str(tmp_path / "ev")
    os.makedirs(in_dir)
    shutil.copy("/root/testdata/sf0.001/events.parquet", in_dir + "/a.parquet")
    shutil.copy("/root/testdata/sf0.001/events.parquet", in_dir + "/b.parquet")

    q = stream_dedup_exact(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    res = spark.read.parquet(str(tmp_path / "out"))
    n_distinct = (
        spark.read.parquet(in_dir).select("event_id").distinct().count()
    )
    assert res.count() == n_distinct
    assert res.select("event_id").distinct().count() == n_distinct
    assert res.where(F.col("event_id").isNull()).count() == 0


def test_sessionize_stream_restart_is_exactly_once(spark, tmp_path):
    """Kill-and-restart from checkpoint across a late-arriving file: the
    stateful session store must resume without duplicating or dropping
    finalized sessions."""
    import shutil

    from pyspark.sql import functions as F

    from pdfplucker_spark.streaming.stream import stream_sessionize

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet").orderBy(
        "ts", "event_id"
    )
    rows = src.collect()
    half = len(rows) // 2
    in_dir = str(tmp_path / "ev")
    os.makedirs(in_dir)
    spark.createDataFrame(rows[:half], src.schema).write.parquet(in_dir + "/p1")

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_sessionize(spark, in_dir + "/*", out, ckpt)
    q.awaitTermination(120)

    spark.createDataFrame(rows[half:], src.schema).write.parquet(in_dir + "/p2")
    q2 = stream_sessionize(spark, in_dir + "/*", out, ckpt)  # restart
    q2.awaitTermination(120)

    res = spark.read.parquet(out)
    # exactly-once: no (user, session_start) emitted twice across restarts
    dups = (
        res.groupBy("user_id", "session_start")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dups == 0
    assert res.count() > 0


def test_apply_in_pandas_with_state_running_totals(spark, tmp_path):
    """Custom arbitrary-state operator: the LAST emitted running total per
    user equals the batch aggregation over the drained stream."""
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from pdfplucker_spark.streaming.stream import stream_user_running_totals

    in_dir = str(tmp_path / "ev")
    os.makedirs(in_dir)
    shutil.copy("/root/testdata/sf0.001/events.parquet", in_dir + "/events.parquet")

    q = stream_user_running_totals(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    res = spark.read.parquet(str(tmp_path / "out"))
    # several triggers may emit several snapshots; the max count per user
    # is the final state
    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in res.orderBy("n_events").collect()
    }
    batch = {
        r.user_id: (r.n, r.tv)
        for r in spark.read.parquet(in_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert set(final) == set(batch)
    for u, (n, tv) in batch.items():
        assert final[u][0] == n, u
        assert final[u][1] == _pytest.approx(tv, rel=1e-9), u


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join over a drained file stream
    equals the identical batch join — every (click, purchase-within-1h)
    pair, exactly once."""
    import shutil

    from pyspark.sql import functions as F

    from pdfplucker_spark.streaming.stream import stream_click_purchase_join

    in_dir = str(tmp_path / "ev")
    os.makedirs(in_dir)
    shutil.copy("/root/testdata/sf0.001/events.parquet", in_dir + "/events.parquet")

    q = stream_click_purchase_join(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {
        (r.click_id, r.purchase_id)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got, "stream join produced no pairs"

    ev = spark.read.parquet(in_dir).withColumn("ts", _ntz_as_utc_instant("ts"))
    c = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("cid"), F.col("ts").alias("cts")
    )
    p = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    batch = c.join(
        p,
        F.expr("cu = pu AND pts >= cts AND pts <= cts + INTERVAL 1 HOUR"),
    ).select("cid", "pid")
    exp = {(r.cid, r.pid) for r in batch.collect()}
    assert got == exp
    # exactly-once: no pair emitted twice
    n = spark.read.parquet(str(tmp_path / "out")).count()
    assert n == len(got)


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """Stateful session_window streaming sessionization equals the batch
    gap-sessionize (relational.py q_events_sessionize boundary rule) on the
    sessions the stream finalized (append mode only emits watermark-closed
    sessions; open tail sessions stay in state)."""
    import shutil

    from pyspark.sql import Window, functions as F

    from pdfplucker_spark.streaming.stream import stream_sessionize

    in_dir = str(tmp_path / "ev")
    os.makedirs(in_dir)
    shutil.copy("/root/testdata/sf0.001/events.parquet", in_dir + "/events.parquet")

    q = stream_sessionize(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {
        (r.user_id, r.session_start): (
            r.session_last_event,
            r.n_events,
            r.total_value,
        )
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got, "stream produced no finalized sessions"

    # batch analogue: same 30-min gap boundary rule as q_events_sessionize
    ev = spark.read.parquet(in_dir).withColumn("ts", _ntz_as_utc_instant("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    sess = ev.withColumn("prev_ts", prev)
    boundary = F.when(F.col("prev_ts").isNull() | (gap_us > 1800 * 1000000), 1).otherwise(0)
    sess = sess.withColumn(
        "seq", F.sum(boundary).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    batch = (
        sess.groupBy("user_id", "seq")
        .agg(
            F.min("ts").alias("start"),
            F.max("ts").alias("last"),
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("tv"),
        )
        .collect()
    )
    exp = {(r.user_id, r.start): (r.last, r.n, r.tv) for r in batch}
    for k, v in got.items():
        assert exp[k] == v, (k, v, exp.get(k))


def test_session_finalization_boundary_is_microsecond_exact(spark, tmp_path):
    """Round-4 probe pinned as a regression: Spark finalizes a session iff
    last_event + gap <= max_ts - delay at FULL microsecond precision (<= at
    equality, +1 µs withheld). The driver oracle encodes exactly this; if
    Spark's rule ever drifts (or the oracle regresses to floored seconds),
    this corpus sits 1 µs on each side of the boundary and catches it."""
    import os

    from pdfplucker_spark.streaming.stream import stream_sessionize

    # max ts 100000.100000 → watermark 92800.100000; single-event sessions
    # end at t+1800, so the boundary last_event is 91000.100000
    offs = [91000.099999, 91000.100000, 91000.100001]
    rows = [(i, t, i, "view", 1.0, None) for i, t in enumerate(offs)]
    rows.append((999, 100000.100000, 999, "view", 1.0, None))
    df = spark.createDataFrame(
        rows,
        "event_id long, tsec double, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id",
        "CAST(timestamp_micros(CAST(tsec * 1000000 AS BIGINT)) AS TIMESTAMP_NTZ) AS ts",
        "user_id", "event_type", "value", "props",
    )
    in_dir = str(tmp_path / "in")
    df.coalesce(1).write.parquet(in_dir)
    q = stream_sessionize(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(120)
    emitted = {
        r.user_id for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert emitted == {0, 1}  # equality emits, +1 µs does not


def test_drain_heals_interrupted_staging(spark, tmp_path):
    """A first call that died mid-copy (in/ exists, no sentinel) must be
    re-staged on the next call, not silently drained as partial input."""
    import os

    import pdfplucker_spark.streaming.stream as S

    sf = "/root/testdata/sf0.001"
    work = str(tmp_path / "scratch")
    os.makedirs(os.path.join(work, "in"))
    with open(os.path.join(work, "in", "garbage.parquet"), "w") as f:
        f.write("not parquet")  # the torn copy
    S._SCRATCH[("wc", sf)] = work
    try:
        out = S.q_stream_windowed_counts(spark, sf)
        assert out.count() > 0  # healed: real corpus staged and drained
        assert os.path.exists(os.path.join(work, ".staged"))
        assert not os.path.exists(os.path.join(work, "in", "garbage.parquet"))
    finally:
        S._SCRATCH.pop(("wc", sf), None)


def test_running_totals_quantize_matches_engines_on_hostile_values(spark, tmp_path):
    """Half-micro boundary values (2.6894155, 5e-07): the state function's
    shortest-repr HALF_UP quantization must equal BOTH DuckDB's and
    Spark's double→DECIMAL(18,6) cast — the exact-binary quantize the
    round-4 review caught would differ by 1 micro here."""
    import duckdb

    from pdfplucker_spark.streaming.stream import stream_user_running_totals

    vals = [2.6894155, 5e-07, 0.1235425, 1.0000005, 123.4567895]
    rows = [(i, 1000.0 + i, 7, "view", v, None) for i, v in enumerate(vals)]
    p = str(tmp_path / "in")
    spark.createDataFrame(
        rows,
        "event_id long, tsec double, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id",
        "CAST(timestamp_micros(CAST(tsec * 1000000 AS BIGINT)) AS TIMESTAMP_NTZ) AS ts",
        "user_id", "event_type", "value", "props",
    ).coalesce(1).write.parquet(p)
    q = stream_user_running_totals(
        spark, p, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(got) == 1 and got[0].n_events == len(vals)
    con = duckdb.connect()
    exp = con.execute(
        "SELECT CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) "
        "FROM (SELECT UNNEST(?) AS v)",
        [vals],
    ).fetchone()[0]
    assert got[0].total_value == exp


def test_streaming_instants_are_session_tz_proof(spark):
    """The NTZ→instant conversion on streaming ingest must pin the wall
    time to UTC for ANY session timezone — a plain cast interprets it in
    the session zone and shifts every watermark/window boundary (found by
    the TZ=Asia/Tokyo hostile sweep)."""
    from pyspark.sql import functions as F

    from pdfplucker_spark.streaming.stream import _ntz_as_utc_instant

    df = spark.createDataFrame(
        [("2024-01-01 12:00:00",)], "raw string"
    ).select(F.col("raw").cast("timestamp_ntz").alias("ts"))
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        epochs = {}
        for tz in ("UTC", "Asia/Tokyo", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            epochs[tz] = (
                df.select(F.unix_timestamp(_ntz_as_utc_instant("ts")).alias("e"))
                .collect()[0]["e"]
            )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert len(set(epochs.values())) == 1, epochs
    assert epochs["UTC"] == 1704110400  # 2024-01-01T12:00:00Z


def test_stream_incremental_dedup_is_idempotent_and_wave_consistent(spark):
    """Re-invoking the drained foreachBatch query must be a no-op drain
    over the same checkpoint returning identical rows (the per-wave
    overwrite-dir contract), and every reported pair must screen a doc
    against a STRICTLY earlier wave."""
    from pdfplucker_spark.streaming.stream import q_stream_dedup_incremental

    sf = "/root/testdata/sf0.001"
    first = sorted(map(tuple, q_stream_dedup_incremental(spark, sf).collect()))
    again = sorted(map(tuple, q_stream_dedup_incremental(spark, sf).collect()))
    assert first == again and first
    # wave boundary: batch doc's wave strictly later than the indexed doc's
    from pyspark.sql import functions as F

    from pdfplucker_spark.functions.hashing import md5_long
    from pdfplucker_spark.streaming.stream import STREAM_INC_BATCHES

    d = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id",
        (
            md5_long(F.concat(F.lit("sb:"), F.col("doc_id").cast("string")))
            % STREAM_INC_BATCHES
        ).alias("bno"),
    )
    wave = {r.doc_id: r.bno for r in d.collect()}
    for batch_doc, index_doc, _jac, bno in first:
        assert wave[batch_doc] == bno and wave[batch_doc] > wave[index_doc]


def test_stream_decontaminate_covers_full_train_corpus(spark):
    """The drained stream screens EVERY train wave: the union over waves
    must equal the corpus-wide batch screen (same index, same caps) —
    the stream adds cadence, never changes the answer."""
    from pyspark.sql import functions as F

    from pdfplucker_spark.functions.hashing import md5_long
    from pdfplucker_spark.operators.dedup import _SHINGLE_OVER_TOKENS
    from pdfplucker_spark.operators.pipeline import (
        DECONTAM_DF_CAP,
        DECONTAM_MIN_SHARED,
        SAMPLE_MOD,
    )
    from pdfplucker_spark.plans.guards import guarded_probe
    from pdfplucker_spark.streaming.stream import (
        q_stream_decontaminate_incremental,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r.train_doc_id, r.eval_doc_id, r.n_shared_ngrams)
        for r in q_stream_decontaminate_incremental(spark, sf).collect()
    )
    d = spark.read.parquet(f"{sf}/documents.parquet")
    gate = md5_long(F.concat("source", F.lit(":"), F.col("doc_id").cast("string")))
    sh = d.select(
        "doc_id",
        (gate % SAMPLE_MOD == 0).alias("is_eval"),
        F.split("text", " ").alias("__tk"),
    ).select(
        "doc_id", "is_eval", F.explode(F.expr(_SHINGLE_OVER_TOKENS)).alias("g")
    ).persist()
    screen = guarded_probe(
        sh.where("is_eval").select(F.col("doc_id").alias("eval_doc_id"), "g"),
        ("g",),
        DECONTAM_DF_CAP,
        "test_batch_ref",
    )
    exp = sorted(
        map(
            tuple,
            screen(
                sh.where(~F.col("is_eval")).select(
                    F.col("doc_id").alias("train_doc_id"), "g"
                )
            )
            .groupBy("train_doc_id", "eval_doc_id")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") >= DECONTAM_MIN_SHARED)
            .collect(),
        )
    )
    assert got == exp and got


def _stage_wave_files(spark, docs_df, in_dir):
    """Stage waves through THE production helper (stream.stage_waves) —
    the tests exercise the exact staging contract the driver queries use,
    not a hand-rolled copy that could silently diverge."""
    from pdfplucker_spark.streaming.stream import stage_waves

    stage_waves(docs_df, in_dir)


def test_stream_dedup_index_ignores_uncommitted_wave_dir(spark, tmp_path):
    """Round-7 membership contract: the standing index is read through the
    commit-marker protocol, so a TORN wave dir (data files present, no
    marker — a crash between the index write and the commit) is invisible
    to later waves' screens. The torn dir here carries a POISON twin of a
    wave-2 doc: directory-listing membership would report the pair
    (30, 999); marker membership must not."""
    from pyspark.sql import functions as F

    from pdfplucker_spark.operators.dedup import _band_rows, _sigs
    from pdfplucker_spark.streaming.stream import (
        _committed_waves,
        stream_dedup_incremental,
    )

    texts = {
        10: "alpha beta gamma delta epsilon zeta",
        11: "one two three four five six seven",
        30: "red green blue yellow purple orange",
        40: "alpha beta gamma delta epsilon zeta",  # dup of 10, later wave
    }
    waves = {10: 0, 11: 0, 30: 2, 40: 2}
    rows = [
        (d, texts[d], "en", "s", len(texts[d]), waves[d]) for d in sorted(texts)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long, bno int",
    )
    in_dir = f"{tmp_path}/in"
    _stage_wave_files(spark, docs, in_dir)

    # torn wave 1 (never staged as input, so never overwritten): index
    # tables for a poison doc 999 identical to doc 30, but NO commit marker
    out_dir = f"{tmp_path}/out"
    index_dir = out_dir + "_index"
    poison = spark.createDataFrame(
        [(999, texts[30])], "doc_id long, text string"
    )
    _band_rows(_sigs(poison)).write.parquet(
        os.path.join(index_dir, "bno=1", "bands")
    )
    poison.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    ).write.parquet(os.path.join(index_dir, "bno=1", "toks"))

    q = stream_dedup_incremental(spark, in_dir, out_dir, f"{tmp_path}/ckpt")
    assert q.awaitTermination(300)
    got = sorted(
        map(
            tuple,
            spark.read.schema(
                "batch_doc_id long, index_doc_id long, jaccard double, bno int"
            )
            .parquet(out_dir)
            .collect(),
        )
    )
    assert (40, 10, 1.0, 2) in got  # the real cross-wave dup still reported
    assert not any(r[1] == 999 for r in got), got  # torn wave never screened
    # only the two real waves ever committed; the torn dir stays unmarked
    assert _committed_waves(index_dir) == [0, 2]


def test_stream_dedup_retry_skips_marker_committed_wave(spark, tmp_path):
    """Round-7 retry contract: a wave whose ``bno-k`` marker stands is
    FULLY landed (the marker is written last), so a foreachBatch retry
    must skip it — re-overwriting committed index dirs could tear them if
    the retry itself crashed mid-rewrite, with the standing marker then
    pointing at torn parquet. Simulates run 1 having committed wave 0
    with SENTINEL index content (doc 777, not the staged wave-0 docs) and
    crashed before the checkpoint commit: the replay must leave the
    sentinel bytes untouched and screen wave 2 against the sentinel
    index, never re-deriving wave 0 from the input."""
    from pyspark.sql import functions as F

    from pdfplucker_spark.job import _mark_committed
    from pdfplucker_spark.operators.dedup import _band_rows, _sigs
    from pdfplucker_spark.streaming.stream import (
        _committed_waves,
        _index_marker,
        stream_dedup_incremental,
    )

    texts = {
        10: "alpha beta gamma delta epsilon zeta",
        11: "one two three four five six seven",
        40: "alpha beta gamma delta epsilon zeta",  # dup of 10 AND of 777
    }
    waves = {10: 0, 11: 0, 40: 2}
    rows = [
        (d, texts[d], "en", "s", len(texts[d]), waves[d]) for d in sorted(texts)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long, bno int",
    )
    in_dir = f"{tmp_path}/in"
    _stage_wave_files(spark, docs, in_dir)

    # run 1's committed wave 0: sentinel doc 777 (same text as 10/40) +
    # the bno-0 marker — docs 10/11 were "lost" before run 1 indexed them,
    # proving the replay reads the index, not the input, for this wave
    out_dir = f"{tmp_path}/out"
    index_dir = out_dir + "_index"
    sentinel = spark.createDataFrame(
        [(777, texts[10])], "doc_id long, text string"
    )
    _band_rows(_sigs(sentinel)).write.parquet(
        os.path.join(index_dir, "bno=0", "bands")
    )
    sentinel.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    ).write.parquet(os.path.join(index_dir, "bno=0", "toks"))
    # run 1 wrote the wave-0 RESULT before the index tables and marker
    # (the pinned result-before-marker ordering): an empty screen, since
    # wave 0 had no prior index to match against
    spark.createDataFrame(
        [], "batch_doc_id long, index_doc_id long, jaccard double"
    ).write.parquet(os.path.join(out_dir, "bno=0"))
    _mark_committed(index_dir, _index_marker(0))

    def _snap(sub):
        root = os.path.join(index_dir, "bno=0", sub)
        return sorted(
            (f, os.path.getmtime(os.path.join(root, f)), os.path.getsize(os.path.join(root, f)))
            for f in os.listdir(root)
        )

    before = (_snap("bands"), _snap("toks"))

    q = stream_dedup_incremental(spark, in_dir, out_dir, f"{tmp_path}/ckpt")
    assert q.awaitTermination(300)

    # committed wave 0 is byte-for-byte untouched by the replay
    assert (_snap("bands"), _snap("toks")) == before
    got = sorted(
        map(
            tuple,
            spark.read.schema(
                "batch_doc_id long, index_doc_id long, jaccard double, bno int"
            )
            .parquet(out_dir)
            .collect(),
        )
    )
    # wave 2 screened against the SENTINEL index: 777 reported, and 10's
    # pair absent because the skipped wave was never re-derived from input
    assert (40, 777, 1.0, 2) in got, got
    assert not any(r[1] == 10 for r in got), got
    assert _committed_waves(index_dir) == [0, 2]


# the four standing-index streams that commit their waves by marker
# (stream_decontaminate_incremental's index is static: no marker)
_MARKER_STREAMS = (
    "stream_dedup_incremental",
    "stream_line_dedup_incremental",
    "stream_topk_terms",
    "stream_cms_topk_terms",
)


def _two_wave_docs(spark):
    """Six docs in two waves: text A in wave 0 and twice in wave 1 (a
    cross-wave near-dup pair for the dedup stream, a segment crossing the
    line-dedup threshold at wave 1, a leading term for the boards)."""
    a = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (10, a, 0),
        (11, "one two three four five six seven eight", 0),
        (12, "red green blue alpha beta gamma delta epsilon", 0),
        (20, a, 1),
        (21, a, 1),
        (22, "nine ten eleven twelve one two three four", 1),
    ]
    return spark.createDataFrame(
        [(d, t, "en", "s", len(t), w) for d, t, w in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long, bno int",
    )


@pytest.mark.parametrize("op", _MARKER_STREAMS)
def test_stream_marker_without_output_raises(spark, tmp_path, op):
    """Round-8 ordering pin (r7 advice): the retry-skip is only safe
    because every wave's RESULT is written before its index tables and
    marker. A standing marker with NO result dir means that ordering was
    violated — the drain must fail loud instead of silently dropping the
    wave's output on retry. The marker alone makes wave 0 committed
    (membership reads markers, never data dirs)."""
    from pyspark.sql.streaming import StreamingQueryException

    from pdfplucker_spark.job import _mark_committed
    from pdfplucker_spark.streaming import stream

    in_dir, out_dir = f"{tmp_path}/in", f"{tmp_path}/out"
    stream.stage_waves(_two_wave_docs(spark).where("bno = 0"), in_dir)
    # committed wave 0 with NO out_dir/bno=0 — the simulated
    # marker-before-result reorder
    _mark_committed(out_dir + "_index", stream._index_marker(0))

    q = getattr(stream, op)(spark, in_dir, out_dir, f"{tmp_path}/ckpt")
    with pytest.raises(StreamingQueryException, match="result-before-marker"):
        q.awaitTermination(300)


def _tree(root):
    """(relative path, bytes, mtime_ns) of every file under ``root``."""
    out = []
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out.append((os.path.relpath(p, root), f.read(), os.stat(p).st_mtime_ns))
    return sorted(out)


@pytest.mark.parametrize("op", _MARKER_STREAMS)
def test_stream_retry_skips_committed_waves(spark, tmp_path, op):
    """The retry contract, for every marker-writing stream: drain once,
    drop waves >= 1 (marker, index dir, result dir), re-drain over a
    FRESH checkpoint. The replay re-reads every input file, so wave 0
    arrives again: it is marker-committed and must be skipped — its
    result and index files keep their bytes AND mtimes — while wave 1 is
    recomputed, and the output equals the first drain's."""
    import shutil

    from pdfplucker_spark.streaming import stream

    in_dir, out_dir = f"{tmp_path}/in", f"{tmp_path}/out"
    index_dir = out_dir + "_index"
    stream.stage_waves(_two_wave_docs(spark), in_dir, range(2))

    def drain(ckpt):
        q = getattr(stream, op)(spark, in_dir, out_dir, f"{tmp_path}/{ckpt}")
        assert q.awaitTermination(300)
        return {
            k: sorted(map(tuple, spark.read.parquet(f"{out_dir}/bno={k}").collect()))
            for k in range(2)
        }

    first = drain("ck1")
    assert first[1] and stream._committed_waves(index_dir) == [0, 1]
    wave0 = (_tree(f"{out_dir}/bno=0"), _tree(f"{index_dir}/bno=0"))
    shutil.rmtree(f"{out_dir}/bno=1")
    shutil.rmtree(f"{index_dir}/bno=1")
    os.remove(f"{index_dir}/_commits/{stream._index_marker(1)}")
    assert stream._committed_waves(index_dir) == [0]

    assert drain("ck2") == first
    assert (_tree(f"{out_dir}/bno=0"), _tree(f"{index_dir}/bno=0")) == wave0
    assert stream._committed_waves(index_dir) == [0, 1]


@pytest.mark.parametrize("op", _MARKER_STREAMS)
def test_stream_failed_wave_unpersists_its_frames(spark, tmp_path, op):
    """A wave whose write fails still releases the frames it persisted: a
    regular file at the output path makes wave 0's result write fail
    after the wave cached its intermediates, and the failed drain must
    leave the session's cache empty."""
    from pyspark.sql.streaming import StreamingQueryException

    from pdfplucker_spark.streaming import stream

    in_dir, out_dir = f"{tmp_path}/in", f"{tmp_path}/out"
    stream.stage_waves(_two_wave_docs(spark), in_dir, range(2))
    open(out_dir, "w").close()
    spark.catalog.clearCache()

    q = getattr(stream, op)(spark, in_dir, out_dir, f"{tmp_path}/ckpt")
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_stream_dedup_drain_releases_each_waves_guard(spark, tmp_path):
    """Wave 1 of the dedup stream guards the standing index it probes,
    and the guard persists its over-cap set: that frame is released with
    the wave's own frames, so a clean 2-wave drain leaves nothing cached
    (one frame per wave >= 1 would pile up over a long drain)."""
    from pdfplucker_spark.streaming import stream

    in_dir, out_dir = f"{tmp_path}/in", f"{tmp_path}/out"
    stream.stage_waves(_two_wave_docs(spark), in_dir, range(2))
    spark.catalog.clearCache()

    q = stream.stream_dedup_incremental(spark, in_dir, out_dir, f"{tmp_path}/ckpt")
    assert q.awaitTermination(300)
    assert stream._committed_waves(out_dir + "_index") == [0, 1]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_stream_decontaminate_drain_leaves_nothing_cached(spark):
    """The decontamination stream guards its standing eval index once per
    drain. The index is never persisted and the guard's over-cap set is
    released once its count ran, so a drain leaves the session's cache as
    it found it, not two frames per call."""
    from pdfplucker_spark.streaming.stream import (
        q_stream_decontaminate_incremental,
    )

    spark.catalog.clearCache()
    q_stream_decontaminate_incremental(spark, "/root/testdata/sf0.001").count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_stream_write_side_goes_through_one_kernel():
    """Every foreachBatch standing-index stream commits through ONE
    kernel, ``stream._wave_stream``: it is the only function that calls
    ``foreachBatch``, sets the wave-width ``maxFilesPerTrigger`` (the
    other sources read a fixed 16 files per trigger) or carries the
    result-presence pin's message, and ``_mark_committed`` is called only
    there and in ``compact_standing_index``. A stream that hand-builds
    its own wave loop fails here."""
    import ast
    import pathlib

    from pdfplucker_spark.streaming import stream

    tree = ast.parse(pathlib.Path(stream.__file__).read_text())
    sites = {"foreachBatch": set(), "_mark_committed": set(), "maxFilesPerTrigger": [], "pin": set()}
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in ("foreachBatch", "_mark_committed"):
                    sites[name].add(fn.name)
                elif (
                    name == "option"
                    and len(node.args) == 2
                    and isinstance(node.args[0], ast.Constant)
                    and node.args[0].value == "maxFilesPerTrigger"
                    and not isinstance(node.args[1], ast.Constant)
                ):
                    sites["maxFilesPerTrigger"].append(fn.name)
            elif isinstance(node, ast.Constant) and "result-before-marker" in str(node.value):
                sites["pin"].add(fn.name)
    assert sites == {
        "foreachBatch": {"_wave_stream"},
        "_mark_committed": {"_wave_stream", "compact_standing_index"},
        "maxFilesPerTrigger": ["_wave_stream"],
        "pin": {"_wave_stream"},
    }


def test_stage_waves_multi_file_contract_and_drain(spark, tmp_path):
    """Round-8 multi-file wave contract (r7 verdict #6): stage_waves with
    files_per_wave=3 writes EXACTLY three files per wave (short waves
    padded with schema-only slices), all sharing the wave mtime — and the
    dedup stream drained at maxFilesPerTrigger=3 produces the SAME screen
    results as the single-file staging of the same corpus."""
    from pdfplucker_spark.streaming.stream import (
        stage_waves,
        stream_dedup_incremental,
    )

    texts = {
        10: "alpha beta gamma delta epsilon zeta",
        11: "one two three four five six seven",
        12: "lorem ipsum dolor sit amet elit",
        30: "red green blue yellow purple orange",
        40: "alpha beta gamma delta epsilon zeta",  # dup of 10, later wave
    }
    waves = {10: 0, 11: 0, 12: 0, 30: 1, 40: 2}
    docs = spark.createDataFrame(
        [(d, texts[d], "en", "s", len(texts[d]), waves[d]) for d in sorted(texts)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long, bno int",
    )

    def _drain(tag, files_per_wave):
        in_dir = f"{tmp_path}/{tag}/in"
        out_dir = f"{tmp_path}/{tag}/out"
        stage_waves(docs, in_dir, waves=range(3), files_per_wave=files_per_wave)
        q = stream_dedup_incremental(
            spark, in_dir, out_dir, f"{tmp_path}/{tag}/ckpt",
            files_per_wave=files_per_wave,
        )
        assert q.awaitTermination(300)
        return sorted(
            map(
                tuple,
                spark.read.schema(
                    "batch_doc_id long, index_doc_id long, jaccard double, bno int"
                )
                .parquet(out_dir)
                .collect(),
            )
        )

    multi = _drain("multi", 3)
    # staging contract: exactly 3 files per wave, shared per-wave mtime,
    # strictly increasing across waves (wave 1 has ONE doc → padded to 3)
    in_dir = f"{tmp_path}/multi/in"
    names = sorted(os.listdir(in_dir))
    assert names == [
        f"{k:02d}-{i:02d}.parquet" for k in range(3) for i in range(3)
    ]
    mtimes = {
        k: {os.path.getmtime(os.path.join(in_dir, f"{k:02d}-{i:02d}.parquet"))
            for i in range(3)}
        for k in range(3)
    }
    assert all(len(v) == 1 for v in mtimes.values())  # shared within wave
    assert min(mtimes[1]) > min(mtimes[0]) and min(mtimes[2]) > min(mtimes[1])

    single = _drain("single", 1)
    assert multi == single and (40, 10, 1.0, 2) in multi


def test_stage_waves_string_doc_ids_multi_file(spark, tmp_path):
    """Round-9 (r8 verdict #7): the wave-slice key is hash-first
    (pmod(xxhash64(doc_id), n)), so the ONE staging helper honors its
    contract for STRING-keyed corpora too. Stage a string-keyed frame at
    files_per_wave=3 and drain with a wave-counting foreachBatch: slicing
    must be lossless (every row lands exactly once) and every trigger must
    contain exactly one whole wave."""
    from pdfplucker_spark.streaming.stream import stage_waves

    rows = [(f"url://site-{i}/page", i % 3) for i in range(17)]
    docs = spark.createDataFrame(rows, "doc_id string, bno int")
    in_dir = f"{tmp_path}/in"
    stage_waves(docs, in_dir, waves=range(3), files_per_wave=3)

    names = sorted(os.listdir(in_dir))
    assert names == [
        f"{k:02d}-{i:02d}.parquet" for k in range(3) for i in range(3)
    ]

    batches: list[tuple[set, list]] = []

    def _collect(batch_df, _bid):
        got = batch_df.collect()
        batches.append(
            ({r["bno"] for r in got}, sorted(r["doc_id"] for r in got))
        )

    q = (
        spark.readStream.schema("doc_id string, bno int")
        .option("maxFilesPerTrigger", 3)
        .parquet(in_dir)
        .writeStream.foreachBatch(_collect)
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    # trigger boundary == wave boundary: one wave per micro-batch, in order
    assert [b[0] for b in batches] == [{0}, {1}, {2}]
    # lossless hash slicing: every input row lands exactly once
    drained = sorted(d for _, ids in batches for d in ids)
    assert drained == sorted(r[0] for r in rows)


def test_stream_line_dedup_threshold_crossing_semantics(spark, tmp_path):
    """The counts-index contract: a segment present in ONE doc per wave
    crosses LINE_DF_THRESHOLD=3 exactly at wave 2 (cumulative 1, 2, 3) —
    so waves 0-1 emit it UNCLEANED and wave 2 (and any later wave)
    removes it. Unique filler segments are never removed anywhere."""
    from pyspark.sql import functions as F

    from pdfplucker_spark.operators.dedup import (
        LINE_DF_THRESHOLD,
        LINE_SEG_WORDS,
    )
    from pdfplucker_spark.streaming.stream import (
        stage_waves,
        stream_line_dedup_incremental,
    )

    assert LINE_DF_THRESHOLD == 3
    boiler = " ".join(f"nav{i}" for i in range(LINE_SEG_WORDS))
    rows = []
    for wave in range(4):
        filler = " ".join(f"w{wave}u{i}" for i in range(LINE_SEG_WORDS))
        rows.append((100 + wave, boiler + " " + filler, wave))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, bno int"
    ).select(
        "doc_id", "text", F.lit("en").alias("lang"), F.lit("s").alias("source"),
        F.length("text").cast("long").alias("n_chars"), "bno",
    )
    in_dir, out_dir, ckpt = (
        f"{tmp_path}/in", f"{tmp_path}/out", f"{tmp_path}/ckpt"
    )
    stage_waves(docs, in_dir, range(4))

    q = stream_line_dedup_incremental(spark, in_dir, out_dir, ckpt)
    assert q.awaitTermination(300)

    got = {
        r["doc_id"]: r
        for r in spark.read.schema(
            "doc_id long, bno int, n_segs long, n_boiler_segs long, "
            "clean_text string"
        ).parquet(out_dir).collect()
    }
    assert set(got) == {100, 101, 102, 103}
    # waves 0-1: cumulative df 1 then 2 — below threshold, emitted intact
    for d in (100, 101):
        assert got[d]["n_boiler_segs"] == 0 and boiler in got[d]["clean_text"]
    # wave 2 crosses (df 3) and wave 3 stays boiler (df 4)
    for d in (102, 103):
        assert got[d]["n_boiler_segs"] == 1 and boiler not in got[d]["clean_text"]
        assert got[d]["clean_text"].startswith(f"w{d - 100}u0")


def test_stream_topk_terms_cumulative_board_per_wave(spark, tmp_path):
    """The trending board re-ranks the CUMULATIVE counts each wave: 'hot'
    (3×/wave) leads every board; 'riser' appears only from wave 1 and
    overtakes 'steady' (1×/wave) on cumulative count at wave 2 (4 > 3);
    board rows carry the cumulative count at their own wave."""
    from pyspark.sql import functions as F

    from pdfplucker_spark.streaming.stream import (
        stage_waves,
        stream_topk_terms,
    )

    waves = {
        0: "hot hot hot steady",
        1: "hot hot hot steady riser riser",
        2: "hot hot hot steady riser riser",
    }
    docs = spark.createDataFrame(
        [(w, t, w) for w, t in waves.items()], "doc_id long, text string, bno int"
    ).select(
        "doc_id", "text", F.lit("en").alias("lang"), F.lit("s").alias("source"),
        F.length("text").cast("long").alias("n_chars"), "bno",
    )
    in_dir, out_dir, ckpt = f"{tmp_path}/in", f"{tmp_path}/out", f"{tmp_path}/ckpt"
    stage_waves(docs, in_dir, range(3))

    q = stream_topk_terms(spark, in_dir, out_dir, ckpt)
    assert q.awaitTermination(300)

    rows = spark.read.schema(
        "bno int, rank int, term string, cum_cnt long"
    ).parquet(out_dir).collect()
    board = {w: {} for w in waves}
    for r in rows:
        board[r.bno][r.term] = (r.rank, r.cum_cnt)
    assert board[0] == {"hot": (1, 3), "steady": (2, 1)}
    # riser enters at wave 1; ties (riser 2 vs steady 2) break term-asc
    assert board[1] == {"hot": (1, 6), "riser": (2, 2), "steady": (3, 2)}
    # wave 2: riser (4) strictly overtakes steady (3)
    assert board[2] == {"hot": (1, 9), "riser": (2, 4), "steady": (3, 3)}


def _line_dedup_corpus(spark):
    """4-wave corpus where the boilerplate segment crosses the df
    threshold at wave 2 (one carrier per wave 0..3, threshold 3)."""
    from pdfplucker_spark.operators.dedup import LINE_SEG_WORDS

    boiler = " ".join(f"nav{i}" for i in range(LINE_SEG_WORDS))
    uniq = lambda d: " ".join(f"u{d}w{i}" for i in range(LINE_SEG_WORDS))
    rows = []
    for w in range(4):
        rows.append((10 * w + 1, f"{boiler} {uniq(10 * w + 1)}", w))  # carrier
        rows.append((10 * w + 2, uniq(10 * w + 2), w))                # clean
    return spark.createDataFrame(
        [(d, t, "en", "s", len(t), w) for d, t, w in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long, bno int",
    )


def _read_line_dedup_out(spark, out_dir):
    return sorted(
        map(
            tuple,
            spark.read.schema(
                "doc_id long, bno int, n_segs long, n_boiler_segs long, "
                "clean_text string"
            ).parquet(out_dir).collect(),
        )
    )


def test_counts_index_compaction_preserves_results(spark, tmp_path):
    """THE sum-mergeable claim, executed: draining waves 0-1, compacting
    the standing (seg, n) counts index into one segment, then draining
    waves 2-3 through the compacted index must produce byte-identical
    per-wave results to an uncompacted single-pass drain — and the
    committed set must flip atomically to the one segment marker."""
    from pdfplucker_spark.job import committed_run_ids
    from pdfplucker_spark.streaming.stream import (
        _committed_waves,
        compact_standing_index,
        stage_waves,
        stream_line_dedup_incremental,
    )

    docs = _line_dedup_corpus(spark)

    # reference: single uncompacted drain of all four waves
    ref_in, ref_out = f"{tmp_path}/ref_in", f"{tmp_path}/ref_out"
    stage_waves(docs, ref_in, range(4))
    q = stream_line_dedup_incremental(spark, ref_in, ref_out, f"{tmp_path}/ref_ck")
    assert q.awaitTermination(300)
    ref = _read_line_dedup_out(spark, ref_out)

    # two-phase drain with compaction in between
    in2, out2, ck2 = f"{tmp_path}/in2", f"{tmp_path}/out2", f"{tmp_path}/ck2"
    index2 = out2 + "_index"
    stage_waves(docs.where("bno <= 1"), in2, [0, 1])
    q = stream_line_dedup_incremental(spark, in2, out2, ck2)
    assert q.awaitTermination(300)
    assert compact_standing_index(
        spark, index2, sum_over=(("seg",), "n")
    ) == (0, 1)
    assert committed_run_ids(index2) == ["bnoc-0-1"]  # atomic old->new flip
    assert _committed_waves(index2) == [0, 1]
    stage_waves(docs.where("bno >= 2"), in2, [2, 3])
    q = stream_line_dedup_incremental(spark, in2, out2, ck2)
    assert q.awaitTermination(300)

    got = _read_line_dedup_out(spark, out2)
    assert got == ref and got
    # the threshold genuinely crossed at wave 2 THROUGH the compacted
    # segment: wave-2/3 carriers cleaned, wave-0/1 carriers untouched.
    # (partition discovery on the bno=K dirs appends bno LAST, so the
    # tuple order is doc_id, n_segs, n_boiler_segs, clean_text, bno)
    boiler_cleaned = {r[0] for r in got if r[2] > 0}
    assert boiler_cleaned == {21, 31}
    # re-compaction folds the segment and the new waves into one
    assert compact_standing_index(spark, index2, sum_over=(("seg",), "n")) == (0, 3)
    assert committed_run_ids(index2) == ["bnoc-0-3"]


def test_membership_index_compaction_preserves_results(spark, tmp_path):
    """The dedup stream's two-table membership index (bands/toks child
    dirs) compacts by row-union: pair output through the compacted index
    equals the uncompacted single-pass run."""
    from pdfplucker_spark.streaming.stream import (
        compact_standing_index,
        stage_waves,
        stream_dedup_incremental,
    )

    texts = {
        10: "alpha beta gamma delta epsilon zeta",
        11: "one two three four five six seven",
        20: "red green blue yellow purple orange",
        30: "alpha beta gamma delta epsilon zeta",   # dup of wave-0 doc
        31: "red green blue yellow purple orange",   # dup of wave-1 doc
    }
    waves = {10: 0, 11: 0, 20: 1, 30: 2, 31: 3}
    docs = spark.createDataFrame(
        [(d, texts[d], "en", "s", len(texts[d]), waves[d]) for d in sorted(texts)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long, bno int",
    )

    def _read(out):
        return sorted(
            map(
                tuple,
                spark.read.schema(
                    "batch_doc_id long, index_doc_id long, jaccard double, bno int"
                ).parquet(out).collect(),
            )
        )

    ref_in, ref_out = f"{tmp_path}/ref_in", f"{tmp_path}/ref_out"
    stage_waves(docs, ref_in, range(4))
    q = stream_dedup_incremental(spark, ref_in, ref_out, f"{tmp_path}/ref_ck")
    assert q.awaitTermination(300)
    ref = _read(ref_out)

    in2, out2, ck2 = f"{tmp_path}/in2", f"{tmp_path}/out2", f"{tmp_path}/ck2"
    stage_waves(docs.where("bno <= 1"), in2, [0, 1])
    q = stream_dedup_incremental(spark, in2, out2, ck2)
    assert q.awaitTermination(300)
    assert compact_standing_index(
        spark, out2 + "_index", subdirs=("bands", "toks")
    ) == (0, 1)
    stage_waves(docs.where("bno >= 2"), in2, [2, 3])
    q = stream_dedup_incremental(spark, in2, out2, ck2)
    assert q.awaitTermination(300)

    got = _read(out2)
    assert got == ref
    assert (30, 10, 1.0, 2) in got and (31, 20, 1.0, 3) in got


def test_compaction_guards_gaps_and_straddles(spark, tmp_path):
    """A gapped committed set refuses to compact (a missing wave could
    still arrive and would be silently swallowed as already-committed),
    and a reader whose wave cut lands INSIDE a compacted segment raises
    (watermark-contract violation) instead of over/under-reading."""
    import pytest as _pytest

    from pdfplucker_spark.job import _mark_committed
    from pdfplucker_spark.streaming.stream import (
        _committed_waves,
        _index_wave_paths,
        compact_standing_index,
    )

    idx = f"{tmp_path}/idx"
    one = spark.createDataFrame([("s", 1)], "seg string, n long")
    for k in (0, 2):  # wave 1 never landed
        one.write.parquet(f"{idx}/bno={k}")
        _mark_committed(idx, f"bno-{k}")
    with _pytest.raises(ValueError, match="not .*contiguous|contiguous"):
        compact_standing_index(spark, idx, sum_over=(("seg",), "n"))

    idx2 = f"{tmp_path}/idx2"
    one.write.parquet(f"{idx2}/bnoc=0-3")
    _mark_committed(idx2, "bnoc-0-3")
    assert _committed_waves(idx2) == [0, 1, 2, 3]
    assert _index_wave_paths(idx2, 5) == [f"{idx2}/bnoc=0-3"]
    with _pytest.raises(RuntimeError, match="straddles"):
        _index_wave_paths(idx2, 2)


def test_vacuum_standing_index_reclaims_superseded_state(spark, tmp_path):
    """After compaction, vacuum removes the retired per-wave dirs and
    superseded markers plus any torn unmarked dir, leaves the live segment
    intact, and the committed view + reads are unchanged."""
    import os

    from pdfplucker_spark.job import _mark_committed, committed_run_ids
    from pdfplucker_spark.streaming.stream import (
        _committed_waves,
        _index_wave_paths,
        compact_standing_index,
        vacuum_standing_index,
    )

    idx = f"{tmp_path}/idx"
    for k in range(3):
        spark.createDataFrame(
            [(f"seg{k}", 1), ("shared", 1)], "seg string, n long"
        ).write.parquet(f"{idx}/bno={k}")
        _mark_committed(idx, f"bno-{k}")
    # a torn wave dir: data landed, no marker (crash before commit)
    spark.createDataFrame([("torn", 9)], "seg string, n long").write.parquet(
        f"{idx}/bno=7"
    )
    assert compact_standing_index(spark, idx, sum_over=(("seg",), "n")) == (0, 2)

    removed = vacuum_standing_index(idx)
    assert sorted(os.path.basename(p) for p in removed) == [
        "bno-0", "bno-1", "bno-2", "bno=0", "bno=1", "bno=2", "bno=7",
    ]
    assert committed_run_ids(idx) == ["bnoc-0-2"]
    assert _committed_waves(idx) == [0, 1, 2]
    merged = {
        (r.seg, r.n)
        for r in spark.read.parquet(*_index_wave_paths(idx, 3)).collect()
    }
    assert merged == {("seg0", 1), ("seg1", 1), ("seg2", 1), ("shared", 3)}
    # idempotent: nothing left to reclaim
    assert vacuum_standing_index(idx) == []


def test_stream_cms_board_replica_bounded_state_and_compaction(spark, tmp_path):
    """The CMS trending board: (a) every estimate equals a pure-Python
    replica of the cumulative d×w grid at that wave (the sketch is
    deterministic — full equality, not a bound); (b) estimates never
    underestimate the exact cumulative count; (c) the standing state is
    BOUNDED — every index wave holds ≤ d·w rows regardless of vocabulary;
    (d) the grid index is sum-mergeable: compacting after wave 1 and
    continuing produces the identical boards to an uncompacted drain."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from pdfplucker_spark.operators.sketches import CMS_D, CMS_W
    from pdfplucker_spark.streaming.stream import (
        compact_standing_index,
        stage_waves,
        stream_cms_topk_terms,
    )

    waves = {
        0: "hot hot hot steady alpha beta gamma",
        1: "hot hot hot steady riser riser delta",
        2: "hot hot hot steady riser riser epsilon zeta",
    }

    def mkdocs(ws):
        return spark.createDataFrame(
            [(w, t, w) for w, t in ws.items()], "doc_id long, text string, bno int"
        ).select(
            "doc_id", "text", F.lit("en").alias("lang"), F.lit("s").alias("source"),
            F.length("text").cast("long").alias("n_chars"), "bno",
        )

    def drain(tag, stage_plan, compact_after_first=False):
        in_dir = f"{tmp_path}/{tag}/in"
        out_dir = f"{tmp_path}/{tag}/out"
        for k, (ws, _) in enumerate(stage_plan):
            stage_waves(mkdocs(ws), in_dir, sorted(ws))
            q = stream_cms_topk_terms(spark, in_dir, out_dir, f"{tmp_path}/{tag}/ck{k}")
            assert q.awaitTermination(300)
            if compact_after_first and k == 0:
                assert compact_standing_index(
                    spark, out_dir + "_index", sum_over=(("row_i", "bucket"), "n")
                ) == (0, 1)
        return sorted(
            map(
                tuple,
                spark.read.schema(
                    "bno int, rank int, term string, cms_estimate long"
                )
                .parquet(out_dir)
                .select("bno", "rank", "term", "cms_estimate")
                .collect(),
            )
        ), out_dir

    rows, out_dir = drain("a", [(waves, None)])

    # pure-Python replica of the cumulative grid per wave
    def bucket(i, term):
        return int(hashlib.md5(f"cms{i}:{term}".encode()).hexdigest()[:15], 16) % CMS_W

    grid = [[0] * CMS_W for _ in range(CMS_D)]
    exact = {}
    replica = {}
    for w in sorted(waves):
        for t in waves[w].split():
            exact[t] = exact.get(t, 0) + 1
            for i in range(CMS_D):
                grid[i][bucket(i, t)] += 1
        for t in set(waves[w].split()):
            replica[(w, t)] = min(grid[i][bucket(i, t)] for i in range(CMS_D))
        for t, n in list(exact.items()):
            if (w, t) in replica:
                assert replica[(w, t)] >= n  # overestimate-only
    for bno, rank, term, est in rows:
        assert est == replica[(bno, term)], (bno, term, est)

    # bounded state: every committed index wave is <= d*w rows
    idx = out_dir + "_index"
    for d in os.listdir(idx):
        if d.startswith("bno"):
            assert spark.read.parquet(os.path.join(idx, d)).count() <= CMS_D * CMS_W

    # sum-mergeable: compact mid-stream, identical boards
    two_phase = {0: waves[0], 1: waves[1]}, None
    rest = {2: waves[2]}, None
    rows_c, _ = drain("b", [two_phase, rest], compact_after_first=True)
    assert rows_c == rows
