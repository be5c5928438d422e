"""Per-layer metrics of a traced run.

``LAYER_METRICS`` lists every per-layer metric once: its unit and the
end-to-end metric (``workload.metric``) it should move. A traced run of any
workload reports all of them; a layer the workload does not touch reads 0.
The ``spark.*`` metrics cover the traced run's own steps only.
Self times are differences between wall times of spans that call nested
public functions (e.g. ``q_dedup_clusters`` minus ``q_dedup_ngram_pairs``).
"""

from __future__ import annotations

import statistics

SPARK_MOVES = "run_s of the traced workload"
STREAM_MOVES = "incremental.last_wave_s, incremental.run_s"

LAYER_METRICS = {
    "sources.scan_s": ("s", "extract_job.docs_per_s, dedup_pass.run_s"),
    "sources.scan_tasks": ("count", "extract_job.docs_per_s"),
    "sources.input_bytes": ("bytes", "extract_job.docs_per_s, dedup_pass.run_s"),
    "extract.kernel_s": ("s", "extract_job.docs_per_s"),
    "extract.python_bytes_in": ("bytes", "extract_job.docs_per_s"),
    "extract.python_bytes_out": ("bytes", "extract_job.docs_per_s"),
    "extract.task_skew": ("ratio", "extract_job.docs_per_s"),
    "extract.scaling_eff_1toN": ("ratio", "extract_job.docs_per_s"),
    "job.sink_s": ("s", "extract_job.run_s"),
    "job.output_bytes": ("bytes", "extract_job.bytes_written_per_input_byte"),
    "job.output_files": ("count", "extract_job.bytes_written_per_input_byte"),
    "job.spark_jobs": ("count", "extract_job.run_s"),
    "job.spill_bytes": ("bytes", "extract_job.run_s"),
    "hashing.fold_s": ("s", "dedup_pass.run_s, incremental.last_wave_s"),
    "guards.dropped_keys": ("count", "dedup_pass.run_s, incremental.run_s (must read 0)"),
    "dedup.minhash_pairs_s": ("s", "dedup_pass.run_s"),
    "dedup.simhash_pairs_s": ("s", "dedup_pass.run_s"),
    "dedup.ngram_pairs_s": ("s", "dedup_pass.run_s"),
    "dedup.candidate_pairs": ("count", "dedup_pass.run_s"),
    "dedup.verified_pairs": ("count", "dedup_pass.run_s"),
    "dedup.verify_yield": ("ratio", "dedup_pass.run_s"),
    "dedup.simhash_dup_factor": ("ratio", "dedup_pass.run_s"),
    "dedup.shuffle_write_bytes": ("bytes", "dedup_pass.run_s"),
    "pipeline.cc_s": ("s", "dedup_pass.run_s"),
    "pipeline.cc_rounds": ("count", "dedup_pass.run_s"),
    "pipeline.cc_spark_jobs": ("count", "dedup_pass.run_s"),
    "pipeline.decontaminate_s": ("s", "dedup_pass.run_s"),
    **{f"stream.wave_s.{k}": ("s", STREAM_MOVES) for k in range(4)},
    "stream.wave_rows": ("count", STREAM_MOVES),
    "stream.spark_jobs_per_wave": ("count", STREAM_MOVES),
    "stream.index_bytes": ("bytes", STREAM_MOVES),
    "spark.executor_run_s": ("s", SPARK_MOVES),
    "spark.executor_cpu_s": ("s", SPARK_MOVES),
    "spark.gc_s": ("s", SPARK_MOVES),
    "spark.shuffle_read_bytes": ("bytes", SPARK_MOVES),
    "spark.shuffle_write_bytes": ("bytes", SPARK_MOVES),
    "spark.fetch_wait_s": ("s", SPARK_MOVES),
    "spark.spill_bytes": ("bytes", SPARK_MOVES),
    "spark.jobs": ("count", SPARK_MOVES),
    "spark.stages": ("count", SPARK_MOVES),
    "spark.tasks": ("count", SPARK_MOVES),
    "spark.slot_busy_frac": ("ratio", SPARK_MOVES),
    "trace.overhead_frac": ("ratio", "none (bench health: traced run_s / untraced run_s)"),
}

JOIN_NODES = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")


def span_engine(spans, wall_s: float, slots: int) -> dict:
    """Engine-wide totals over ``spans`` (a list of eventlog.Span)."""
    tot = lambda k: sum(s.totals[k] for s in spans)  # noqa: E731
    run_s = tot("run_ms") / 1e3
    return {
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": tot("cpu_ns") / 1e9,
        "spark.gc_s": tot("gc_ms") / 1e3,
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spark.fetch_wait_s": tot("fetch_wait_ms") / 1e3,
        "spark.spill_bytes": tot("spill_disk_bytes"),
        "spark.jobs": sum(len(s.jobs) for s in spans),
        "spark.stages": sum(len(s.stages) for s in spans),
        "spark.tasks": sum(s.tasks for s in spans),
        "spark.slot_busy_frac": run_s / (wall_s * slots) if wall_s else 0.0,
    }


def join_rows(span) -> list[int]:
    """Output rows of every executed join node of a span, largest first."""
    rows = []
    for node in JOIN_NODES:
        rows += span.node_values(node, "number of output rows")
    return sorted(rows, reverse=True)


def _ratio(a, b) -> float:
    return a / b if b else 0.0


def task_skew(span) -> float:
    ts = [t for t in span.task_run_ms if t > 0]
    return max(ts) / statistics.median(ts) if ts else 0.0


def derive(workload: str, spans: dict, wall: dict, ctx: dict, slots: int) -> dict:
    """All per-layer metrics for one traced run.

    ``spans``: eventlog spans by name; ``wall``: span wall seconds by name;
    ``ctx``: workload facts gathered outside the event log."""
    from perfbench.eventlog import Span

    get = lambda name: spans.get(name) or Span(name)  # noqa: E731
    run_names = [n for n in wall if n.startswith("run.")]
    run_wall = sum(wall[n] for n in run_names)
    m = dict.fromkeys(LAYER_METRICS, 0)
    m.update(span_engine([get(n) for n in run_names], run_wall, slots))
    m["trace.overhead_frac"] = run_wall / ctx["untraced_run_s"]
    m["guards.dropped_keys"] = ctx["guard_drops"]

    scan = get("sources.scan")
    m["sources.scan_s"] = wall.get("sources.scan", 0.0)
    m["sources.scan_tasks"] = scan.tasks
    m["sources.input_bytes"] = ctx["input_bytes"]

    if workload == "extract_job":
        kern, job = get("extract.kernel"), get("run.job_run")
        m["extract.kernel_s"] = wall["extract.kernel"] - wall["sources.scan"]
        m["extract.python_bytes_in"] = kern.node_metric(
            "MapInArrow", "data sent to Python workers"
        )
        m["extract.python_bytes_out"] = kern.node_metric(
            "MapInArrow", "data returned from Python workers"
        )
        m["extract.task_skew"] = task_skew(kern)
        m["extract.scaling_eff_1toN"] = ctx.get("scaling_eff_1toN", 0.0)
        m["job.sink_s"] = run_wall - wall["extract.kernel"]
        m["job.output_bytes"], m["job.output_files"] = ctx["output_bytes"], ctx["output_files"]
        m["job.spark_jobs"] = len(job.jobs)
        m["job.spill_bytes"] = job.totals["spill_disk_bytes"]

    elif workload == "dedup_pass":
        scan_s = wall["sources.scan"]
        m["hashing.fold_s"] = (wall["hashing.simhash"] - scan_s) + (
            wall["hashing.minhash_sig"] - scan_s
        )
        pair_spans = ["run.dedup_minhash_pairs", "run.dedup_simhash_pairs"]
        m["dedup.minhash_pairs_s"] = wall["run.dedup_minhash_pairs"]
        m["dedup.simhash_pairs_s"] = wall["run.dedup_simhash_pairs"]
        m["dedup.ngram_pairs_s"] = wall["dedup.ngram_pairs"]
        # the band self-join is each pair query's largest join: its output
        # rows are the candidate pairs before the distinct
        cand = {n: (join_rows(get(n)) or [0])[0] for n in pair_spans}
        written = {n: get(n).totals["output_records"] for n in pair_spans}
        m["dedup.candidate_pairs"] = sum(cand.values())
        m["dedup.verified_pairs"] = sum(written.values())
        m["dedup.verify_yield"] = _ratio(m["dedup.verified_pairs"], m["dedup.candidate_pairs"])
        simhash = "run.dedup_simhash_pairs"
        m["dedup.simhash_dup_factor"] = _ratio(cand[simhash], written[simhash])
        m["dedup.shuffle_write_bytes"] = sum(
            get(n).totals["shuffle_write_bytes"] for n in (*pair_spans, "dedup.ngram_pairs")
        )
        m["pipeline.cc_s"] = wall["pipeline.clusters"] - wall["dedup.ngram_pairs"]
        m["pipeline.cc_rounds"] = ctx["cc_rounds"]
        m["pipeline.cc_spark_jobs"] = len(get("pipeline.clusters").jobs) - len(
            get("dedup.ngram_pairs").jobs
        )
        m["pipeline.decontaminate_s"] = wall["run.docs_decontaminate_incremental"]

    elif workload == "incremental":
        waves = ctx["wave_s"]
        for k, w in enumerate(waves):
            m[f"stream.wave_s.{k}"] = w
        m["stream.wave_rows"] = ctx["wave_rows"]
        m["stream.spark_jobs_per_wave"] = len(get("run.drain").jobs) / len(waves)
        m["stream.index_bytes"] = ctx["index_bytes"]
    return m
