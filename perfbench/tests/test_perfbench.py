"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q

One Spark session with the event log on runs every Spark step first; the
tests then check what it recorded.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT]

from perfbench import eventlog, inputs, layers, run, workloads  # noqa: E402

SMALL_DOCS = 100


class _Drains(workloads.Incremental):
    """The incremental workload with every run draining into one fixed
    dir, so its second run reuses the first run's checkpoint."""

    def step_fns(self, spark, out):
        return [("drain", self.drain_fn(spark, self.waves, os.path.join(self.work, "fixed")))]

    def verify(self, spark, out):
        pass


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """Run every Spark step of the tests in one traced session; returns
    what the tests check."""
    mp = pytest.MonkeyPatch()
    mp.setattr(inputs, "DOCS", SMALL_DOCS)
    mp.setattr(inputs, "WARM_DOCS", SMALL_DOCS)
    work = str(tmp_path_factory.mktemp("perfbench"))
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    req = run.requested_setup(cpus=2)
    mp.setenv("SPARK_DRIVER_MEM", req["driver_mem"])
    spark = run.session(
        req, work, {**eventlog.EVENTLOG_CONF, "spark.eventLog.dir": f"file://{log_dir}"}
    )
    span = eventlog.Tracer(spark.sparkContext)
    rec = {"log_dir": log_dir}
    try:
        span("tiny", lambda: spark.range(0, 1000, 1, 4).write.parquet(os.path.join(work, "tiny")))

        dedup = workloads.DedupPass(work, 0)
        dedup.prepare()
        q = "dedup_minhash_pairs"
        rec["dedup"] = dedup

        def _dedup():
            rec["dedup_got"] = dedup.registry[q][0](spark, dedup.sf).toPandas()

        span("dedup", _dedup)

        drains = _Drains(os.path.join(work, "inc"), 0)
        drains.prepare()
        span("stage", lambda: drains.stage(spark))
        status = {"attempted": 0, "failed": 0, "errors": []}
        rec["drain_runs"] = []
        for k in range(2):  # jobs of both drains run on the stream's thread
            span(f"drain{k}", lambda: rec["drain_runs"].append(
                run.timed_runs(drains, spark, 0.0, os.path.join(work, "inc"), status)))
        rec["drain_status"] = status
    finally:
        spark.stop()
        mp.undo()
    return rec


def test_event_log_counts_a_tiny_job_exactly(recorded):
    tiny = eventlog.read_spans(recorded["log_dir"])["tiny"]
    assert len(tiny.jobs) == 1
    assert tiny.tasks == 4
    assert tiny.totals["output_records"] == 1000


def test_every_job_maps_to_exactly_one_span(recorded):
    spans = eventlog.read_spans(recorded["log_dir"])
    untagged = spans.get(eventlog.UNTAGGED, eventlog.Span(eventlog.UNTAGGED))
    assert (untagged.jobs, untagged.stages, untagged.tasks) == (set(), set(), 0)
    started = []
    for path in eventlog.event_files(recorded["log_dir"]):
        with open(path) as f:
            started += [e["Job ID"] for e in map(json.loads, f)
                        if e["Event"] == "SparkListenerJobStart"]
    tagged = [j for s in spans.values() for j in s.jobs]
    assert sorted(tagged) == sorted(started)
    assert len(set(tagged)) == len(tagged)
    assert spans["drain0"].jobs


def test_verifier_rejects_one_altered_row(recorded):
    dedup, got = recorded["dedup"], recorded["dedup_got"]
    q = "dedup_minhash_pairs"
    dedup.check(q, got)
    assert len(got)
    col = next(c for c in got.columns if got[c].dtype.kind in "iuf")
    altered = got.copy()
    altered.loc[altered.index[0], col] += 1
    with pytest.raises(workloads.VerifyError):
        dedup.check(q, altered)


def test_second_drain_on_reused_checkpoint_is_not_timed(recorded):
    first, second = recorded["drain_runs"]
    assert len(first) == 1
    assert second == []
    status = recorded["drain_status"]
    assert (status["attempted"], status["failed"]) == (2, 1)
    assert status["errors"][0].startswith("ReusedCheckpoint")


def test_benchmark_json_names_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: v[0] for k, v in layers.LAYER_METRICS.items()
    }
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_unstolen_takes_out_the_stolen_share():
    c0 = {"busy": 10.0, "steal": 1.0}
    assert run.unstolen(4.0, c0, {"busy": 16.0, "steal": 1.0}) == 4.0
    assert run.unstolen(4.0, c0, {"busy": 16.0, "steal": 3.0}) == 3.0
    assert run.unstolen(4.0, c0, c0) == 4.0
