"""Degenerate-input guards: the failure modes that only show up at scale.

- LSH bucket-size caps: a boilerplate-heavy corpus collapses into a few
  giant band buckets; the within-bucket self-join must stay bounded (keys
  over the cap are dropped-and-logged, never joined quadratically).
- connected_components loop hygiene: a long-chain graph (diameter > the old
  20-iteration cap) must still converge, with lineage truncated by periodic
  localCheckpoint so plan depth does not grow with iteration count.
"""

import logging

import pytest
from pyspark.sql import Row, functions as F

from pdfplucker_spark.operators import dedup, pipeline, similarity
from pdfplucker_spark.operators.dedup import q_dedup_ngram_pairs
from pdfplucker_spark.operators.pipeline import connected_components

BOILERPLATE = "terms of service apply to all users of this site please read carefully"


def _write_degenerate_docs(spark, path: str, n: int = 400) -> None:
    rows = [
        Row(
            doc_id=i,
            text=BOILERPLATE,
            lang="en",
            source="crawl",
            n_chars=len(BOILERPLATE),
        )
        for i in range(n)
    ]
    spark.createDataFrame(rows).write.parquet(f"{path}/documents.parquet")


def _write_degenerate_embeddings(spark, path: str, n: int = 400) -> None:
    rows = [Row(vec_id=i, embedding=[0.5] * 64, label=0) for i in range(n)]
    spark.createDataFrame(rows).selectExpr(
        "vec_id", "cast(embedding as array<float>) embedding", "label"
    ).write.parquet(f"{path}/embeddings.parquet")


# (log label, degenerate corpus, guarded operator, bounded output size).
# Every key of a constant corpus has occupancy 400 (docs_decontaminate_
# incremental's cap counts the ~40-doc eval stratum only); unguarded, each
# join is ~400²/2 rows per key. With the cap, every key is dropped and
# logged: pair operators return nothing, SemDeDup keeps every vector as
# its own canonical.
_DEGENERATE = [
    ("dedup_minhash_pairs", "docs",
     lambda s, p: dedup.q_dedup_minhash_pairs(s, p, bucket_cap=100), 0),
    ("dedup_simhash_pairs", "docs",
     lambda s, p: dedup.q_dedup_simhash_pairs(s, p, bucket_cap=100), 0),
    ("dedup_ngram_pairs", "docs",
     lambda s, p: dedup.q_dedup_ngram_pairs(s, p, bucket_cap=100), 0),
    ("dedup_containment_pairs", "docs",
     lambda s, p: dedup.q_dedup_containment_pairs(s, p, df_cap=100), 0),
    ("dedup_containment_prefix", "docs",
     lambda s, p: dedup.q_dedup_containment_prefix(s, p, df_cap=100), 0),
    ("winnow_pairs", "docs",
     lambda s, p: dedup.q_docs_winnow_pairs(s, p, bucket_cap=100), 0),
    ("dedup_incremental", "docs",
     lambda s, p: dedup.q_dedup_incremental(s, p, bucket_cap=100), 0),
    ("docs_decontaminate", "docs",
     lambda s, p: pipeline.q_docs_decontaminate(s, p, df_cap=50), 0),
    ("docs_decontaminate_incremental", "docs",
     lambda s, p: pipeline.q_docs_decontaminate_incremental(s, p, df_cap=10), 0),
    ("sim_cosine_dup_pairs", "embeddings",
     lambda s, p: similarity.q_sim_cosine_dup_pairs(s, p, bucket_cap=100), 0),
    ("sim_semdedup", "embeddings",
     lambda s, p: similarity.q_sim_semdedup(s, p, cluster_cap=100), 400),
]


@pytest.mark.parametrize(
    "label,corpus,run,n_rows", _DEGENERATE, ids=[c[0] for c in _DEGENERATE]
)
def test_guard_bounds_degenerate_corpus(spark, tmp_path, caplog, label, corpus, run, n_rows):
    """A constant corpus collapses every blocking key into one giant
    bucket: each guarded operator must return a bounded result instead of
    going quadratic, and say so — a drop logged under its own label."""
    write = _write_degenerate_docs if corpus == "docs" else _write_degenerate_embeddings
    write(spark, str(tmp_path))
    with caplog.at_level(logging.WARNING, logger="pdfplucker_spark.plans.guards"):
        rows = run(spark, str(tmp_path)).collect()
    assert len(rows) == n_rows
    # SemDeDup: no candidate pairs, so every vector is its own canonical
    assert all(r.asDict().get("keep", True) for r in rows)
    assert any(
        r.message.startswith(f"{label}: dropped") for r in caplog.records
    ), [r.message for r in caplog.records]


def test_guard_log_counts_only_non_null_buckets(spark, caplog):
    """NULL keys never equi-join, so the guard keeps NULL-keyed rows — an
    over-cap NULL bucket is therefore no drop, and the logged count must be
    exactly the over-cap buckets with a non-NULL key. The null-text docs
    of the *_nulls corpus share one NULL band key per band, over cap=1."""
    import re

    from pdfplucker_spark.operators.dedup import _band_rows, _sigs, docs_with_nulls
    from pdfplucker_spark.sources.tables import load
    from tests.test_plan_properties import SF as sf

    cap = 1
    occ = (
        _band_rows(_sigs(docs_with_nulls(load(spark, sf, "documents"))))
        .groupBy("band", "key")
        .count()
        .where(F.col("count") > cap)
    )
    assert occ.where(F.col("key").isNull()).count() > 0  # NULL buckets over cap
    expected = occ.where(F.col("key").isNotNull()).count()
    with caplog.at_level(logging.WARNING, logger="pdfplucker_spark.plans.guards"):
        dedup.q_dedup_minhash_pairs_nulls(spark, sf, bucket_cap=cap).collect()
    logged = [
        int(m.group(1))
        for r in caplog.records
        if (m := re.match(r"dedup_minhash_pairs: dropped (\d+)", r.message))
    ]
    assert logged == ([expected] if expected else []), (logged, expected)


def test_ngram_bucket_guard_silent_on_honest_corpus(spark):
    """The default cap must never fire on the driver corpus: guarded and
    unguarded results are identical at sf0.001."""
    sf = "/root/testdata/sf0.001"
    guarded = q_dedup_ngram_pairs(spark, sf)
    unguarded = q_dedup_ngram_pairs(spark, sf, bucket_cap=None)
    assert guarded.exceptAll(unguarded).count() == 0
    assert unguarded.exceptAll(guarded).count() == 0


def test_decontaminate_df_cap_silent_on_honest_corpus(spark):
    """The default cap must never fire on the driver corpus: guarded and
    unguarded results are identical at sf0.001."""
    from pdfplucker_spark.operators.pipeline import q_docs_decontaminate

    sf = "/root/testdata/sf0.001"
    guarded = q_docs_decontaminate(spark, sf)
    unguarded = q_docs_decontaminate(spark, sf, df_cap=None)
    assert guarded.exceptAll(unguarded).count() == 0
    assert unguarded.exceptAll(guarded).count() == 0


def test_connected_components_long_chain_converges(spark):
    """A 24-node chain has diameter 23: the r7 min-label loop paid one
    distributed round PER HOP; the alternating large-star/small-star loop
    must collapse it to one component in O(log n) rounds (≤5: the r7
    verdict's promotion criterion of 6, less the confirmation round the
    exact star-forest test no longer needs)."""
    n = 24
    nodes = spark.createDataFrame([Row(node=i) for i in range(n)])
    pairs = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(n - 1)])
    labels = connected_components(nodes, pairs)
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert connected_components.last_rounds <= 5, (
        connected_components.last_rounds
    )
    # lineage hygiene: per-round localCheckpoint truncates the plan — the
    # final frame's plan must carry only the label read-off join, never a
    # rounds-deep star-contraction chain
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= 4, plan[:3000]


def test_connected_components_star_forest_input_needs_no_round(spark):
    """An edge set that already is a star forest — each leaf pointing at
    its star's minimum, plus isolated nodes — is the fixpoint itself: the
    exact test stops before any contraction round (a digest comparison
    needs one round to see the edge set reproduce)."""
    stars = [(1, 0), (2, 0), (3, 0), (6, 5), (7, 5), (9, 8)]
    nodes = spark.createDataFrame([Row(node=i) for i in range(12)])
    pairs = spark.createDataFrame([Row(src=a, dst=b) for a, b in stars])
    got = {r["node"]: r["label"] for r in connected_components(nodes, pairs).collect()}
    assert connected_components.last_rounds == 0
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 5,
                   8: 8, 9: 8, 10: 10, 11: 11}


def test_connected_components_fuzz_vs_union_find(spark):
    """Random graphs vs an independent pure-Python union-find: the min-label
    fixpoint must equal the true components (same partition AND the same
    min-id label) on shapes the driver corpus never produces — stars,
    cycles, isolated nodes, multi-edges. The loop's final edge set must be
    a star forest, checked here in plain Python: every src has exactly one
    out-edge, and it points at a node that is no src."""
    import random

    def union_find_labels(n, edges):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # label = min node id of the component
        comp = {}
        for v in range(n):
            comp.setdefault(find(v), []).append(v)
        return {v: min(members) for members in comp.values() for v in members}

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        m = rng.choice([10, 35, 80])
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        nodes = spark.createDataFrame([Row(node=i) for i in range(n)])
        pairs = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])
        got = {
            r["node"]: r["label"]
            for r in connected_components(nodes, pairs).collect()
        }
        assert got == union_find_labels(n, edges), (trial, m)
        final, _, converged = pipeline._star_contract(pairs, 25)
        out = [(r["src"], r["dst"]) for r in final.collect()]
        srcs = [a for a, _ in out]
        assert converged and len(srcs) == len(set(srcs)), (trial, out)
        assert not set(srcs) & {b for _, b in out}, (trial, out)


def test_connected_components_cap_logs_not_silent(spark, caplog):
    """Hitting the safety cap before convergence must be loud. One
    large+small round cannot fully contract a 24-chain (star contraction
    only halves distances), so max_iters=1 is guaranteed non-converged."""
    n = 24
    nodes = spark.createDataFrame([Row(node=i) for i in range(n)])
    pairs = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(n - 1)])
    with caplog.at_level(logging.WARNING, logger="pdfplucker_spark.operators.pipeline"):
        connected_components(nodes, pairs, max_iters=1).collect()
    assert any("safety cap" in r.message for r in caplog.records)


def test_containment_prefix_filter_is_lossless(spark, tmp_path):
    """The PPJoin-style prefix filter must return EXACTLY the direct
    operator's pairs — on the real corpus and on a crafted quote/subset
    corpus (short doc fully embedded in a long one: containment 1.0 with
    low Jaccard, the case the operator exists for)."""
    from pyspark.sql import Row

    from pdfplucker_spark.operators.dedup import (
        q_dedup_containment_pairs,
        q_dedup_containment_prefix,
    )

    sf = "/root/testdata/sf0.001"
    direct = q_dedup_containment_pairs(spark, sf)
    prefix = q_dedup_containment_prefix(spark, sf)
    assert direct.exceptAll(prefix).count() == 0
    assert prefix.exceptAll(direct).count() == 0

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    long_doc = (
        "intro words here " + quote + " and a very long tail of unrelated "
        "content that keeps the jaccard similarity low while containment "
        "of the short quoted document stays total"
    )
    rows = [
        Row(doc_id=1, text=quote, lang="en", source="s", n_chars=len(quote)),
        Row(doc_id=2, text=long_doc, lang="en", source="s", n_chars=len(long_doc)),
        Row(doc_id=3, text="completely different material", lang="en", source="s", n_chars=29),
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/documents.parquet")
    d2 = q_dedup_containment_pairs(spark, str(tmp_path))
    p2 = q_dedup_containment_prefix(spark, str(tmp_path))
    got = {(r.doc_a, r.doc_b): r.containment for r in p2.collect()}
    assert got == {(r.doc_a, r.doc_b): r.containment for r in d2.collect()}
    assert got[(1, 2)] == 1.0  # the quote is fully contained
    assert (2, 1) not in got  # asymmetry: the long doc is NOT in the short


def test_ngram_prefix_filter_is_lossless(spark):
    """The Jaccard prefix filter must return the COMPLETE pair set: every
    all-pairs (brute-force) Jaccard >= t pair, exactly — the property the
    round-1 LSH blocking only approximated (recall ~0.97/pair). Brute
    force here is the unblocked cross-join over the same shingle sets."""
    from pdfplucker_spark.operators.dedup import (
        NGRAM_THRESHOLD,
        _verify_jaccard,
        q_dedup_ngram_pairs,
        shingles_frame,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    sh = shingles_frame(docs).withColumnRenamed("sh", "toks").persist()
    ids = sh.select("doc_id")
    allpairs = (
        ids.withColumnRenamed("doc_id", "doc_a")
        .crossJoin(ids.withColumnRenamed("doc_id", "doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
    )
    brute = _verify_jaccard(allpairs, sh, "doc_a", "doc_b", NGRAM_THRESHOLD)
    prefix = q_dedup_ngram_pairs(spark, sf)
    assert brute.exceptAll(prefix).count() == 0
    assert prefix.exceptAll(brute).count() == 0


def test_semdedup_keeps_one_canonical_per_component(spark):
    """On the real corpus: keep-set = exactly the distinct component
    labels, and every dropped vector shares a component with its keeper."""
    from pdfplucker_spark.operators.similarity import q_sim_semdedup

    out = q_sim_semdedup(spark, "/root/testdata/sf0.001").collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r.cluster_label, []).append(r)
    for label, members in by_label.items():
        keepers = [r for r in members if r.keep]
        assert len(keepers) == 1 and keepers[0].vec_id == label == min(
            r.vec_id for r in members
        )


def test_semdedup_sampled_fit_touches_only_the_sample(spark, monkeypatch):
    """The 10⁹-vector contract of q_sim_semdedup_sampled: the Lloyd fit
    runs on the deterministic md5-gated 1/SEMDEDUP_FIT_MOD sample only —
    never the full corpus. Capture the frame kmeans_fit receives and
    assert it is exactly the gate's row set, a strict subset of the
    corpus, and that its seeds are the K smallest sampled ids."""
    from pdfplucker_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    n_all = emb.count()
    expected_fit_ids = {
        r.vec_id for r in sim._semdedup_fit_sample(emb).select("vec_id").collect()
    }
    assert 0 < len(expected_fit_ids) < n_all

    seen = {}
    real_fit = sim.kmeans_fit

    def spy(fit_emb, max_iters=sim.KMEANS_MAX_ITERS, seeds=None):
        seen["fit_ids"] = {r.vec_id for r in fit_emb.select("vec_id").collect()}
        seen["seed_cids"] = {r.cid for r in seeds.select("cid").collect()}
        return real_fit(fit_emb, max_iters=max_iters, seeds=seeds)

    monkeypatch.setattr(sim, "kmeans_fit", spy)
    out = sim.q_sim_semdedup_sampled(spark, sf).collect()
    assert seen["fit_ids"] == expected_fit_ids
    assert seen["seed_cids"] == set(sorted(expected_fit_ids)[: sim.IVF_K])
    # the verdict still covers the WHOLE corpus (assignment is full-scan)
    assert len(out) == n_all


def test_stream_dedup_incremental_cap_silent_on_driver_corpus(spark, tmp_path, caplog):
    """ADVICE r6: stream_dedup_incremental caps its INDEX side at
    DEFAULT_BUCKET_CAP while the registered oracle encodes no cap, so
    correctness rests on the cap never firing on driver corpora — assert
    that directly (caplog stays guard-silent over a full fresh drain of
    the sf0.001 wave staging), mirroring the batch guards' never-fires
    tests. A firing cap would otherwise surface only as an opaque oracle
    mismatch."""
    from pyspark.sql import functions as F

    from pdfplucker_spark.functions.hashing import md5_long
    from pdfplucker_spark.streaming.stream import (
        STREAM_INC_BATCHES,
        stream_dedup_incremental,
    )
    from tests.test_streaming import _stage_wave_files

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").withColumn(
        "bno",
        (
            md5_long(F.concat(F.lit("sb:"), F.col("doc_id").cast("string")))
            % STREAM_INC_BATCHES
        ).cast("int"),
    )
    in_dir = f"{tmp_path}/in"
    _stage_wave_files(spark, d, in_dir)
    with caplog.at_level(logging.WARNING, logger="pdfplucker_spark.plans.guards"):
        q = stream_dedup_incremental(
            spark, in_dir, f"{tmp_path}/out", f"{tmp_path}/ckpt"
        )
        assert q.awaitTermination(300)
    assert not [
        r for r in caplog.records if "stream_dedup_incremental" in r.message
    ], [r.message for r in caplog.records]
    # the drain really screened: the committed index holds every wave
    from pdfplucker_spark.streaming.stream import _committed_waves

    assert _committed_waves(f"{tmp_path}/out_index") == list(
        range(STREAM_INC_BATCHES)
    )


def test_simhash_pairs_complete_vs_bruteforce(spark):
    """The Manku block banding must be COMPLETE at the radius: every pair
    within Hamming distance SIMHASH_HAM_K of the 60-bit fingerprints —
    computed brute-force over all C(500,2) pairs here — must appear in
    the operator output with the exact distance, and nothing else may."""
    from pdfplucker_spark.operators.dedup import (
        _SIMHASH60,
        _TOKEN_HASHES,
        SIMHASH_HAM_K,
        q_dedup_simhash_pairs,
    )
    from pdfplucker_spark.sources.tables import load

    sf = "/root/testdata/sf0.001"
    sh = {
        r["doc_id"]: r["simhash"]
        for r in load(spark, sf, "documents")
        .select("doc_id", F.expr(_TOKEN_HASHES).alias("__th"))
        .select("doc_id", F.expr(_SIMHASH60).alias("simhash"))
        .collect()
    }
    ids = sorted(sh)
    expect = {
        (a, b): (sh[a] ^ sh[b]).bit_count()
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (sh[a] ^ sh[b]).bit_count() <= SIMHASH_HAM_K
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in q_dedup_simhash_pairs(spark, sf).collect()
    }
    assert got == expect


def test_simhash_bucket_guard_silent_on_honest_corpus(spark):
    """The default cap must never fire on the driver corpus: guarded and
    unguarded results are identical at sf0.001."""
    from pdfplucker_spark.operators.dedup import q_dedup_simhash_pairs

    sf = "/root/testdata/sf0.001"
    guarded = q_dedup_simhash_pairs(spark, sf)
    unguarded = q_dedup_simhash_pairs(spark, sf, bucket_cap=None)
    assert guarded.exceptAll(unguarded).count() == 0
    assert unguarded.exceptAll(guarded).count() == 0


def test_simhash_pairs_null_docs_produce_no_pairs(spark):
    """The dedup-family null policy: null-text docs get NULL fingerprints
    whose band keys never equi-join — they appear in NO pair, and the
    real-doc pairs are exactly the plain operator's output."""
    from pdfplucker_spark.operators.dedup import (
        q_dedup_simhash_pairs,
        q_dedup_simhash_pairs_nulls,
    )

    sf = "/root/testdata/sf0.001"
    plain = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in q_dedup_simhash_pairs(spark, sf).collect()
    }
    with_nulls = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in q_dedup_simhash_pairs_nulls(spark, sf).collect()
    }
    assert with_nulls == plain
    assert not any(a >= 10_000_000 or b >= 10_000_000 for a, b, _ in with_nulls)


def test_operators_reach_the_guard_only_through_the_kernel():
    """Every guarded candidate join goes through the plans/guards kernel:
    no operator or streaming module may import (or name) the raw bucket
    guard — a new operator that hand-builds key → guard → join fails here."""
    import ast
    import pathlib

    import pdfplucker_spark

    kernel = {"DEFAULT_BUCKET_CAP", "guarded_self_join", "guarded_probe", "guarded_prefix_join"}
    pkg = pathlib.Path(pdfplucker_spark.__file__).parent
    files = sorted((pkg / "operators").glob("*.py")) + sorted((pkg / "streaming").glob("*.py"))
    assert files
    bad = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom) and (node.module or "").endswith("plans.guards"):
                bad += [f"{path.name}: imports {a.name}" for a in node.names if a.name not in kernel]
            elif isinstance(node, ast.Import):
                bad += [f"{path.name}: imports {a.name}" for a in node.names if a.name.endswith("plans.guards")]
            elif isinstance(node, (ast.Name, ast.Attribute)):
                ident = node.id if isinstance(node, ast.Name) else node.attr
                if ident.endswith("drop_oversized_buckets"):
                    bad.append(f"{path.name}:{node.lineno}: names {ident}")
    assert not bad, bad
