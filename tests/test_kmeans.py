"""The iterated k-means fit against an independent pure-Python replay of
the SAME arithmetic contract (decimal-quantized sums, sequential double
folds, first-max tie-break). If the distributed loop's assignment, decimal
recenter, empty-cluster handling, or stop condition drift, the centroids
diverge and the exact compare fails."""

import math
from decimal import ROUND_HALF_UP, Decimal

from pdfplucker_spark.operators.similarity import (
    IVF_K,
    kmeans_fit,
    q_sim_kmeans_fit,
)
from pdfplucker_spark.sources.tables import load

SF = "/root/testdata/sf0.001"

_Q10 = Decimal("1.0000000000")


def _ref_kmeans(vecs: dict[int, list[float]], k: int, max_iters: int = 25):
    """Pure-Python Lloyd loop mirroring the engine's arithmetic exactly:
    score = sequential-fold dot / |centroid| (first strict max wins, cids
    ascending); mean = (exact sum of HALF_UP-10dp-quantized values) -> one
    float division; stop on exact-zero movement. Returns the centroids and
    the number of assign+recenter iterations run."""
    cents = {cid: list(vecs[cid]) for cid in range(1, k + 1)}
    for it in range(1, max_iters + 1):
        assign: dict[int, int] = {}
        for vid, v in vecs.items():
            best_s, best_c = -1.0e308, -1
            for cid in sorted(cents):
                cv = cents[cid]
                acc = 0.0
                for a, b in zip(v, cv):
                    acc += a * b
                nrm = 0.0
                for b in cv:
                    nrm += b * b
                s = acc / math.sqrt(nrm)
                if s > best_s:
                    best_s, best_c = s, cid
            assign[vid] = best_c
        new_cents = {}
        moved = 0.0
        for cid, old in cents.items():
            members = [vecs[vid] for vid, c in assign.items() if c == cid]
            if not members:
                new_cents[cid] = old  # empty cluster keeps its centroid
                continue
            dim = len(old)
            cv = []
            for d in range(dim):
                # Decimal(repr(v)) — Spark's cast(double as decimal) goes
                # through BigDecimal.valueOf == Double.toString, i.e. it
                # rounds the SHORTEST repr, not the exact binary expansion
                # (probed round-4: 2.6894155 → .689416 via repr/Spark but
                # .689415 via exact-binary)
                tot = sum(
                    (
                        Decimal(repr(m[d])).quantize(_Q10, ROUND_HALF_UP)
                        for m in members
                    ),
                    Decimal(0),
                )
                cv.append(float(tot) / len(members))
            new_cents[cid] = cv
        for cid in cents:
            d2 = 0.0
            for a, b in zip(new_cents[cid], cents[cid]):
                d2 += (a - b) * (a - b)
            moved = max(moved, d2)
        cents = new_cents
        if moved == 0.0:
            break
    return cents, it


def test_kmeans_fit_matches_pure_python_replay(spark):
    emb = load(spark, SF, "embeddings")
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.select("vec_id", emb.embedding.cast("array<double>")).collect()
    }
    expected, _ = _ref_kmeans(vecs, IVF_K)
    got = {}
    for r in kmeans_fit(emb).collect():
        got[r.cid] = list(r.cv)
    assert set(got) == set(expected)
    for cid in expected:
        for d, (a, b) in enumerate(zip(got[cid], expected[cid])):
            assert a == b, (cid, d, a, b, abs(a - b))


def _jobs(spark, fn) -> int:
    """Spark jobs started by ``fn()``, counted by a fresh job group (the
    tracker keeps a group's jobs for the whole session)."""
    import uuid

    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_kmeans_fit_runs_three_jobs_per_iteration(spark):
    """The fit's state is the K×D centroids on the driver: one seed
    collect, then each Lloyd iteration is ONE query (broadcast argmax,
    cell means, ``toArrow``) — at most 3 jobs, no checkpoint job and no
    movement-aggregate jobs. Bounded by the replay's iteration count."""
    emb = load(spark, SF, "embeddings")
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.select("vec_id", emb.embedding.cast("array<double>")).collect()
    }
    _, iters = _ref_kmeans(vecs, IVF_K)
    assert 1 < iters < 25  # converges, and not in one step
    n = _jobs(spark, lambda: kmeans_fit(emb))
    assert n <= 1 + 3 * iters, (n, iters)


def test_kcenter_runs_one_job_per_round(spark):
    """The running state is checkpointed LAZILY: each round's argmax
    (a TakeOrdered that scans every partition) fills the checkpoint in
    its own job, so k rounds (the seed pick included) cost k jobs."""
    from pdfplucker_spark.operators.similarity import kcenter_sample

    emb = load(spark, SF, "embeddings")
    n = _jobs(spark, lambda: kcenter_sample(emb, k=8))
    assert n <= 8, n


def _optimized(df) -> list[str]:
    return df._jdf.queryExecution().optimizedPlan().toString().splitlines()


def _assert_cid_below_posexplode(lines):
    """The argmax fold sits in the projection BELOW the posexplode (once
    per vector), never in one above it (once per exploded cell, D×), and
    no join on ``vec_id`` brings an assignment frame back."""
    gen = [i for i, line in enumerate(lines) if "Generate posexplode" in line]
    assert len(gen) == 1, "\n".join(lines)
    assert not any("aggregate(" in line for line in lines[: gen[0]]), "\n".join(lines)
    assert any("aggregate(transform(cents" in line for line in lines[gen[0] :])
    assert not any("Join" in line and "vec_id" in line for line in lines), "\n".join(lines)


def test_recenter_cells_compute_cid_below_posexplode(spark, monkeypatch):
    """Both recenters — ``sim_ivf_recenter`` and every k-means iteration —
    build their (cid, dim, v) cells from one scan of ``emb`` with ``cid``
    computed before the explode."""
    from pdfplucker_spark.operators.similarity import q_sim_ivf_recenter

    _assert_cid_below_posexplode(_optimized(q_sim_ivf_recenter(spark, SF)))

    emb = load(spark, SF, "embeddings")
    plans = []
    real = type(emb).toArrow

    def spy(df):
        plans.append(_optimized(df))
        return real(df)

    monkeypatch.setattr(type(emb), "toArrow", spy)
    kmeans_fit(emb, max_iters=2)
    assert len(plans) == 2
    for lines in plans:
        _assert_cid_below_posexplode(lines)


def test_kmeans_query_shape_and_determinism(spark):
    out1 = q_sim_kmeans_fit(spark, SF)
    rows = out1.collect()
    assert len(rows) == IVF_K * 64  # one row per (cid, dim)
    again = {(r.cid, r.dim): r.centroid_val for r in q_sim_kmeans_fit(spark, SF).collect()}
    assert all(again[(r.cid, r.dim)] == r.centroid_val for r in rows)


def test_kmeans_empty_corpus_terminates_immediately(spark):
    """Empty embeddings: the movement aggregate is None (max over zero
    rows) — the loop must treat that as converged, not burn max_iters."""
    import time

    from pyspark.sql import types as T

    empty = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    t0 = time.time()
    out = kmeans_fit(empty).collect()
    assert out == []
    assert time.time() - t0 < 30  # one iteration, not 25


def test_embeddings_finite(spark):
    """Oracle-equivalence precondition (q_sim_kmeans_fit docstring NaN
    carve-out): the fit stops at the first NaN movement while the
    fixed-depth DuckDB unroll keeps iterating, so the replay argument only
    holds on finite-valued corpora. Assert the driver corpus is one."""
    from pyspark.sql import functions as F

    emb = load(spark, SF, "embeddings")
    n_bad = (
        emb.select(
            F.exists(
                "embedding", lambda x: F.isnan(x) | (F.abs(x) > 1e30)
            ).alias("bad")
        )
        .where("bad")
        .count()
    )
    assert n_bad == 0


def test_semdedup_sampled_k_is_a_real_parameter(spark):
    """K=4 and K=16 (both non-default vs IVF_K=8) must be green against
    the K-parameterized oracle chain — the cluster count is a call
    parameter a 10⁹-vector deployment sizes as N/target-cluster-size, so
    plan and oracle must track it together (round-6 advice #5)."""
    from pdfplucker_spark.operators.similarity import (
        _sql_semdedup_sampled,
        q_sim_semdedup_sampled,
    )
    from tests.check_driver_strict import strict_compare
    from tests.util_compare import duck_con

    sf = "/root/testdata/sf0.001"
    con = duck_con(sf)
    for k in (4, 16):
        sp = q_sim_semdedup_sampled(spark, sf, k=k).toPandas()
        du = con.sql(_sql_semdedup_sampled(k=k)).df()
        ok, msg = strict_compare(sp, du)
        assert ok, f"k={k}: {msg}"
        # different K ⇒ different blocking: the verdict frame still covers
        # every vector exactly once
        assert len(sp) == sp.vec_id.nunique()
        spark.catalog.clearCache()


def test_kcenter_greedy_matches_hand_worked_geometry(spark):
    """Colinear 64-d corpus (only dim 0 varies: x = 0, 10, 4, 7, 1):
    greedy k-center from the min-id seed must pick 0 → 10 → 4 → 7 → 1
    with coverage radii NULL, 100, 16, 9, 1 — and with only 5 points it
    must stop at 5 selections even though k=8."""
    from pdfplucker_spark.operators.similarity import kcenter_sample

    xs = {1: 0.0, 2: 10.0, 3: 4.0, 4: 7.0, 5: 1.0}
    emb = spark.createDataFrame(
        [(i, [x] + [0.0] * 63) for i, x in xs.items()],
        "vec_id long, embedding array<float>",
    )
    rows = kcenter_sample(emb, k=8).orderBy("sel_seq").collect()
    assert [(r.sel_seq, r.vec_id, r.coverage_d2) for r in rows] == [
        (1, 1, None),
        (2, 2, 100.0),
        (3, 3, 16.0),
        (4, 4, 9.0),
        (5, 5, 1.0),
    ]


def test_kcenter_coverage_radii_nonincreasing_and_deterministic(spark):
    """On the real corpus: the greedy coverage-radius sequence is
    nonincreasing (each selection covers at least as well as the last —
    the 2-approximation's invariant), all selections are distinct, and a
    second evaluation reproduces the selection bit-for-bit."""
    from pdfplucker_spark.operators.similarity import q_sim_kcenter_sample

    rows = q_sim_kcenter_sample(spark, SF).orderBy("sel_seq").collect()
    assert len(rows) == 8
    assert len({r.vec_id for r in rows}) == 8
    radii = [r.coverage_d2 for r in rows[1:]]
    assert rows[0].coverage_d2 is None
    assert all(a >= b for a, b in zip(radii, radii[1:])), radii
    assert all(r > 0 for r in radii)
    again = q_sim_kcenter_sample(spark, SF).orderBy("sel_seq").collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_pq_codes_and_adc_identify_exact_codebook_copies(spark):
    """Crafted corpus: vec 0 (the ADC query) is an exact copy of codebook
    seed 5, and vec 100 is too — so vec 100's PQ codes are 5 in every
    subspace, its ADC distance to the query is exactly 0, and it ranks
    first. A vector stitched from seed 2's first half and seed 7's second
    half gets codes [2,2,2,2,7,7,7,7] — subspaces quantize independently."""
    from pdfplucker_spark.operators.similarity import (
        PQ_M,
        _pq_codes,
        q_sim_pq_adc_topk,
    )

    import hashlib

    def vec(seed: int) -> list[float]:
        return [
            (int(hashlib.md5(f"pq{seed}:{i}".encode()).hexdigest()[:8], 16) % 997)
            / 31.0
            for i in range(64)
        ]

    rows = [(i, vec(i)) for i in range(1, 9)]          # the codebook seeds
    rows.append((0, vec(5)))                           # query == seed 5
    rows.append((100, vec(5)))                         # exact copy
    rows.append((101, vec(2)[:32] + vec(7)[32:]))      # stitched halves
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    codes = {r.vec_id: r.codes for r in _pq_codes(emb).collect()}
    assert codes[100] == [5] * PQ_M
    assert codes[101] == [2] * (PQ_M // 2) + [7] * (PQ_M // 2)
    for s in range(1, 9):  # every seed quantizes to itself
        assert codes[s] == [s] * PQ_M

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        emb.write.parquet(os.path.join(td, "embeddings.parquet"))
        top = q_sim_pq_adc_topk(spark, td).collect()
    # both zero-distance rows lead; the tie breaks vec_id ASC (5 first)
    assert (top[0].vec_id, top[0].adc_d2_micro) == (5, 0)
    assert (top[1].vec_id, top[1].adc_d2_micro) == (100, 0)
    assert all(r.adc_d2_micro > 0 for r in top[2:])


def test_ivfpq_composes_ivf_pruning_with_adc_scoring(spark):
    """The composed IVF-PQ search against its two parents: (1) probing
    ALL K lists makes the IVF stage a no-op, so the result must equal the
    flat ADC top-k row-for-row; (2) at nprobe=1 every returned vector
    must belong to the single probed inverted list (checked against the
    shared assignment helper); (3) at the default nprobe each returned
    ADC distance must equal the flat path's distance for that vec_id —
    pruning changes WHICH vectors are scored, never their scores."""
    from pdfplucker_spark.operators.similarity import (
        _ivf_assigned,
        _ivf_probe,
        q_sim_ivfpq_topk,
        q_sim_pq_adc_topk,
    )

    full = sorted(map(tuple, q_sim_ivfpq_topk(spark, SF, nprobe=IVF_K).collect()))
    flat = sorted(map(tuple, q_sim_pq_adc_topk(spark, SF).collect()))
    assert full == flat

    emb = load(spark, SF, "embeddings")
    one_cid = _ivf_probe(emb, 1).collect()[0].cid
    member = {
        r.vec_id for r in _ivf_assigned(emb).where(f"cid = {one_cid}").collect()
    }
    narrow = q_sim_ivfpq_topk(spark, SF, nprobe=1).collect()
    assert narrow and all(r.vec_id in member for r in narrow)

    flat_d = dict(flat)
    for r in q_sim_ivfpq_topk(spark, SF).collect():
        assert r.adc_d2_micro == flat_d.get(r.vec_id, r.adc_d2_micro)


def test_ivf_fitted_topk_full_probe_is_brute_force(spark):
    """The fitted-centroid IVF search against its limits: probing ALL K
    fitted lists makes the prune a no-op, so exact scoring must
    reproduce the brute-force cosine top-k row-for-row; at nprobe=1
    every returned vector must belong to the single probed fitted list
    (membership checked against the same fitted assignment)."""
    from pdfplucker_spark.operators.similarity import (
        _ivf_assigned_with,
        _ivf_probe,
        kmeans_fit,
        q_sim_cosine_topk,
        q_sim_ivf_fitted_topk,
    )

    full = sorted(map(tuple, q_sim_ivf_fitted_topk(spark, SF, nprobe=IVF_K).collect()))
    brute = sorted(map(tuple, q_sim_cosine_topk(spark, SF).collect()))
    assert full == brute

    emb = load(spark, SF, "embeddings")
    cents = kmeans_fit(emb)
    one_cid = _ivf_probe(emb, 1, cents).collect()[0].cid
    member = {
        r.vec_id
        for r in _ivf_assigned_with(emb, cents).where(f"cid = {one_cid}").collect()
    }
    narrow = q_sim_ivf_fitted_topk(spark, SF, nprobe=1).collect()
    assert narrow and all(r.vec_id in member for r in narrow)


def test_ivfpq_residual_exact_copy_of_codebook_seed_scores_zero(spark):
    """Crafted corpus validating the whole residual chain: the query
    (vec 0) and vec 100 are exact copies of codebook seed 9. Identical
    vectors get identical coarse assignments, hence bit-identical
    residuals; seed 9's residual IS codebook entry cc=1, so vec 100's
    codes are all 1, and in its own probed list the query residual
    equals codebook entry 1 exactly — LUT cell 0, total ADC distance 0.
    Both zero rows lead the ranking (vec_id ASC ties 9 before 100);
    everything else scores > 0. Also pins the returned candidates to the
    probed lists at nprobe=1."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql import Row

    from pdfplucker_spark.operators.similarity import (
        IVF_NPROBE,
        RESIDUAL_SEED_HI,
        RESIDUAL_SEED_LO,
        q_sim_ivfpq_residual_topk,
    )

    assert (RESIDUAL_SEED_LO, RESIDUAL_SEED_HI) == (9, 16)

    def vec(seed: int) -> list[float]:
        return [
            (int(hashlib.md5(f"rpq{seed}:{i}".encode()).hexdigest()[:8], 16) % 997)
            / 31.0
            for i in range(64)
        ]

    rows = [(i, vec(i)) for i in range(1, 17)]  # coarse 1..8 + codebook 9..16
    rows.append((0, vec(9)))                    # query == codebook seed 9
    rows.append((100, vec(9)))                  # exact copy in the corpus
    rows += [(200 + i, vec(50 + i)) for i in range(6)]  # fillers
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    with tempfile.TemporaryDirectory() as td:
        emb.write.parquet(os.path.join(td, "embeddings.parquet"))
        top = q_sim_ivfpq_residual_topk(spark, td, nprobe=IVF_NPROBE).collect()
        narrow = q_sim_ivfpq_residual_topk(spark, td, nprobe=1).collect()

    assert (top[0].vec_id, top[0].adc_d2_micro) == (9, 0)
    assert (top[1].vec_id, top[1].adc_d2_micro) == (100, 0)
    assert all(r.adc_d2_micro > 0 for r in top[2:])
    assert narrow and all(r.adc_d2_micro >= 0 for r in narrow)
    spark.catalog.clearCache()


def test_kcenter_round_plan_size_stays_flat(spark):
    """r10 (r9 verdict #7): chosen-id exclusion is folded into the running
    state (one equality predicate on the frame the round rewrites), so the
    per-round plan text must not grow with the selection count — the r9
    isin-list form grew O(k) literals per round."""
    from pyspark.sql import functions as F

    from pdfplucker_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sizes = []
    real_checkpoint = None

    # capture the state frame's plan size each round via the checkpoint
    # boundary: measure the ANALYZED plan just before truncation
    pts = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    seed = pts.orderBy(F.asc("vec_id")).limit(1).collect()[0]
    cvec = F.array(*[F.lit(float(x)) for x in seed.v])
    cur = (
        pts.where(F.col("vec_id") != int(seed.vec_id))
        .select("vec_id", "v", sim._d2_cols(F.col("v"), cvec).alias("best_d2"))
        .localCheckpoint(eager=False)
    )
    for i in range(2, 9):
        far = cur.orderBy(F.desc("best_d2"), F.asc("vec_id")).limit(1).collect()[0]
        cvec = F.array(*[F.lit(float(x)) for x in far.v])
        nxt = cur.where(F.col("vec_id") != int(far.vec_id)).select(
            "vec_id", "v", F.least("best_d2", sim._d2_cols(F.col("v"), cvec)).alias("best_d2")
        )
        sizes.append(len(nxt._jdf.queryExecution().analyzed().toString()))
        cur = nxt.localCheckpoint(eager=False)
    # flat: every round's pre-checkpoint plan is the same size (the center
    # literals differ in VALUE only, never in count)
    assert max(sizes) - min(sizes) < 200, sizes
