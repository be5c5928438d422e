"""The benchmark's workloads: what one run does, how its output is checked,
and which layer spans its traced run times.

Every workload times calls into the package's public functions only. A
run is a list of named steps, each writing its result under the run's own
fresh output dir. ``verify`` checks a run's output outside the timed region
and raises ``VerifyError`` on any mismatch.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import inputs


class VerifyError(AssertionError):
    pass


class ReusedCheckpoint(RuntimeError):
    """A drain that found nothing to do: its checkpoint had already
    consumed the input, so its wall time measures no work."""


def parquet_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class Workload:
    name = ""
    input_rows = 0  # documents one run reads
    input_bytes = 0  # parquet bytes one run reads
    # JIT compilation and Python worker start-up keep shortening runs for
    # several executions; after one warm-up run the first timed run was
    # still 15% slower than the second
    warm_runs = 2

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed

    def prepare(self) -> None:
        """Make the inputs and expected outputs (no session yet)."""

    def stage(self, spark) -> None:
        """Input staging that needs a session."""

    def warm(self, spark) -> None:
        """One untimed run: JVM, codegen and Python workers. It runs on the
        real input: warm-up runs on a small one left the timed runs still
        speeding up by 10-25%."""
        out = os.path.join(self.work, "warm_out")
        self.run(spark, out)
        shutil.rmtree(out, ignore_errors=True)

    def step_fns(self, spark, out: str):
        """[(step name, fn)] of one run writing under ``out``."""
        raise NotImplementedError

    def run(self, spark, out: str, step=None) -> dict:
        """One run; returns {step: seconds}. ``step(name, fn)`` wraps each
        step (the traced run passes one that tags spans)."""
        step = step or (lambda _name, fn: timed(fn))
        steps = {}
        for name, fn in self.step_fns(spark, out):
            steps[name] = step(name, fn)
            spark.catalog.clearCache()
        return steps

    def verify(self, spark, out: str) -> None:
        raise NotImplementedError

    def layer_spans(self, spark):
        """[(span name, fn)] the traced run times after the run, each
        sinking to ``noop``."""
        return []


# ---------------------------------------------------------------------------
class ExtractJob(Workload):
    """``job.run`` over a prefix of the seeded ``bench`` tier."""

    name = "extract_job"
    # after two or three warm-up runs the first timed runs were still
    # 10-20% slower than the later ones
    warm_runs = 4

    def prepare(self):
        from pdfplucker_spark.oracle import extract_doc

        self.corpus, sample, self.poison = inputs.write_extract_corpus(
            os.path.join(self.work, "in", "corpus"), self.seed
        )
        self.expected = {}
        for doc_id, spans in sample.items():
            exp = extract_doc(doc_id, spans)
            self.expected[doc_id] = (exp["status"], exp["error"], exp["spans"])
        self.input_rows = inputs.EXTRACT_DOCS
        self.input_bytes = parquet_bytes(self.corpus)[0]

    def step_fns(self, spark, out):
        from pdfplucker_spark import job

        return [("job_run", lambda: job.run(spark, self.corpus, out))]

    def verify(self, spark, out):
        from pyspark.sql import functions as F

        from pdfplucker_spark.job import committed_view

        docs = committed_view(spark, out, "docs_out")
        agg = docs.agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("ids")).first()
        if agg["n"] != self.input_rows or agg["ids"] != self.input_rows:
            raise VerifyError(f"committed docs {agg['n']}/{agg['ids']} != {self.input_rows}")
        failed = {r.doc_id for r in docs.where(F.col("status") != "ok").select("doc_id").collect()}
        if failed != self.poison:
            raise VerifyError(f"{len(failed)} failed docs, not the {len(self.poison)} poison docs")
        got = {
            r.doc_id: r.asDict(recursive=True)
            for r in committed_view(spark, out, "spans_out")
            .where(F.col("doc_id").isin(list(self.expected)))
            .select("doc_id", "status", "error", "spans")
            .collect()
        }
        for doc_id, (status, error, spans) in self.expected.items():
            g = got.get(doc_id)
            if g is None or (g["status"], g["error"], g["spans"]) != (status, error, spans):
                raise VerifyError(f"{doc_id} differs from oracle.extract_doc")

    def layer_spans(self, spark):
        from pdfplucker_spark.operators.extract import extract_spans

        return [
            ("sources.scan", lambda: noop(spark.read.parquet(self.corpus))),
            ("extract.kernel", lambda: noop(extract_spans(spark.read.parquet(self.corpus)))),
        ]


# ---------------------------------------------------------------------------
class DocumentsWorkload(Workload):
    """Registry operators over a prefix of the ``documents`` driver table,
    each result checked against the registry's DuckDB ``oracle_sql()``
    with the strictness of ``tests/check_driver_strict.py``."""

    oracle_names: tuple = ()

    def prepare(self):
        from pdfplucker_spark.registry import all_queries
        from tests.util_compare import duck_con

        self.sf = inputs.write_documents(os.path.join(self.work, "in", "sf"), inputs.DOCS)
        self.registry = all_queries()
        con = duck_con(self.sf)
        self.oracle = {q: con.sql(self.registry[q][1]).df() for q in self.oracle_names}
        con.close()
        self.input_rows = inputs.DOCS
        self.input_bytes = os.path.getsize(os.path.join(self.sf, "documents.parquet"))

    def check(self, q: str, got) -> None:
        """Raise VerifyError unless the pandas frame ``got`` equals the
        oracle result of ``q``."""
        from tests.check_driver_strict import strict_compare

        ok, msg = strict_compare(got, self.oracle[q])
        if not ok:
            raise VerifyError(f"{q}: {msg}")


class DedupPass(DocumentsWorkload):
    """The near-dup curation chain, each result written to parquet."""

    name = "dedup_pass"
    # a chain costs as much as a timed one; after one warm-up chain the
    # first timed chain was 5-10% slower than the second, after two 5%
    warm_runs = 1
    oracle_names = (
        "dedup_minhash_pairs",
        "dedup_simhash_pairs",
        "dedup_clusters",
        "docs_decontaminate_incremental",
        "docs_substring_dedup",
    )

    def step_fns(self, spark, out):
        def write(q):
            return lambda: self.registry[q][0](spark, self.sf).write.mode("overwrite").parquet(
                os.path.join(out, q)
            )

        return [(q, write(q)) for q in self.oracle_names]

    def verify(self, spark, out):
        for q in self.oracle_names:
            self.check(q, spark.read.parquet(os.path.join(out, q)).toPandas())

    def layer_spans(self, spark):
        from pdfplucker_spark.operators.dedup import (
            q_dedup_minhash_sig,
            q_dedup_ngram_pairs,
            q_dedup_simhash,
        )
        from pdfplucker_spark.operators.pipeline import q_dedup_clusters
        from pdfplucker_spark.sources.tables import load

        sf = self.sf
        return [
            ("sources.scan", lambda: noop(load(spark, sf, "documents"))),
            ("hashing.simhash", lambda: noop(q_dedup_simhash(spark, sf))),
            ("hashing.minhash_sig", lambda: noop(q_dedup_minhash_sig(spark, sf))),
            ("dedup.ngram_pairs", lambda: noop(q_dedup_ngram_pairs(spark, sf))),
            ("pipeline.clusters", lambda: noop(q_dedup_clusters(spark, sf))),
        ]


class Incremental(DocumentsWorkload):
    """``stream_dedup_incremental`` drained with availableNow over the
    documents staged as arrival waves, each run into a fresh sink,
    checkpoint and index dir."""

    name = "incremental"
    drain = "stream_dedup_incremental"
    oracle_names = (drain,)
    SINK_SCHEMA = "batch_doc_id long, index_doc_id long, jaccard double, bno int"

    def prepare(self):
        super().prepare()
        self.warm_sf = inputs.write_documents(
            os.path.join(self.work, "in", "warm_sf"), inputs.WARM_DOCS
        )

    def stage(self, spark):
        self.waves = self._stage(spark, self.sf, "waves")
        self.warm_waves = self._stage(spark, self.warm_sf, "warm_waves")

    def _stage(self, spark, sf, name):
        """The registry entry's staging: an md5 gate on ``doc_id`` picks
        each doc's wave; ``stage_waves`` writes 3 files per wave."""
        from pyspark.sql import functions as F

        from pdfplucker_spark.functions.hashing import md5_long
        from pdfplucker_spark.streaming.stream import (
            STREAM_INC_BATCHES,
            STREAM_INC_FILES_PER_WAVE,
            stage_waves,
        )

        d = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        d = d.withColumn(
            "bno",
            (md5_long(F.concat(F.lit("sb:"), F.col("doc_id").cast("string")))
             % STREAM_INC_BATCHES).cast("int"),
        )
        path = os.path.join(self.work, "in", name)
        stage_waves(d, path, range(STREAM_INC_BATCHES), files_per_wave=STREAM_INC_FILES_PER_WAVE)
        return path

    def drain_fn(self, spark, waves: str, out: str):
        """One availableNow drain of ``waves`` into ``out``. Keeps the
        trigger latency of every wave in ``self.wave_s``."""
        from pdfplucker_spark.streaming.stream import (
            STREAM_INC_BATCHES,
            STREAM_INC_FILES_PER_WAVE,
            stream_dedup_incremental,
        )

        def _drain():
            q = stream_dedup_incremental(
                spark, waves, os.path.join(out, "sink"), os.path.join(out, "ckpt"),
                files_per_wave=STREAM_INC_FILES_PER_WAVE,
            )
            if not q.awaitTermination(150):
                q.stop()
                raise RuntimeError("drain did not finish in 150 s")
            progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
            if len(progress) != STREAM_INC_BATCHES:
                raise ReusedCheckpoint(
                    f"drain processed {len(progress)} of {STREAM_INC_BATCHES} waves"
                )
            self.progress = progress
            self.wave_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]

        return _drain

    def warm(self, spark):
        out = os.path.join(self.work, "warm_out")
        self.drain_fn(spark, self.warm_waves, out)()
        shutil.rmtree(out, ignore_errors=True)

    def step_fns(self, spark, out):
        return [("drain", self.drain_fn(spark, self.waves, out))]

    def verify(self, spark, out):
        sink = spark.read.schema(self.SINK_SCHEMA).parquet(os.path.join(out, "sink"))
        self.check(self.drain, sink.toPandas())


WORKLOADS = {w.name: w for w in (ExtractJob, DedupPass, Incremental)}
