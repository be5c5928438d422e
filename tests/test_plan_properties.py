"""Plan-shape regression guards: the scale properties BENCH/PLANS.md
documents are asserted here so a refactor cannot silently lose them."""

from pyspark.sql import functions as F

from pdfplucker_spark.job import read_docs
from pdfplucker_spark.operators.extract import extract_spans
from pdfplucker_spark.operators.relational import q_pricing_summary, q_top_orders
from pdfplucker_spark.plans.partitioning import fan_out

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _plan(q_pricing_summary(spark, SF))
    scan = plan[plan.index("FileScan") :]
    assert "PushedFilters" in scan and "LessThan(l_shipdate" in scan
    # column pruning: the projection leads with the referenced columns
    # (Spark truncates the ReadSchema string, so assert the visible prefix
    # and that the pushed filter proves l_shipdate reaches the reader)
    read_schema = scan[scan.index("ReadSchema") : scan.index("ReadSchema") + 120]
    for col in ("l_quantity", "l_extendedprice", "l_discount"):
        assert col in read_schema
    assert "l_comment" not in read_schema


def test_extract_bulk_path_has_no_exchange(spark, tmp_path):
    from pdfplucker_spark.sources.tables import derived_spans_nested

    docs = derived_spans_nested(spark, SF)
    # materialize a multi-file parquet input so the plan is scan→extract,
    # not derive, on the job's own read path
    p = str(tmp_path / "docs")
    docs.repartition(4).write.parquet(p)
    plan = _plan(extract_spans(fan_out(read_docs(spark, p, "parquet"))))
    # the bulk path is scan → mapInArrow with NO exchange AND no second
    # scan — byte-balanced scan splits are the balance (bytes ≈ spans); the
    # fan-out rule stays off on an input that splits (4 × 4 > 4 slots)
    assert plan.count("Exchange") == 0, plan[:3000]
    assert plan.count("FileScan") == 1, plan[:3000]
    assert "MapInArrow" in plan


def test_top_orders_broadcasts_dimensions(spark):
    plan = _plan(q_top_orders(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the only shuffle keys are the group-by, never the join keys of the
    # broadcast dims
    assert "TakeOrderedAndProject" in plan  # top-k never sorts the world


def test_salted_agg_two_phase_shape(spark):
    from pdfplucker_spark.operators.relational import q_events_salted_agg

    plan = _plan(q_events_salted_agg(spark, SF))
    # sum/count leg: phase 1 shuffles on (event_type, salt), phase 2 on
    # event_type — the hot key fans out before it concentrates
    assert "hashpartitioning(event_type" in plan
    assert "salt" in plan
    # distinct leg: level-1 dedup shuffles on (event_type, user_id) — a
    # uniform key — never a per-key set/array merge on one reducer
    assert "user_id" in plan
    for banned in ("collect_set", "collect_list", "array_distinct", "flatten"):
        assert banned not in plan, f"{banned} rebuilds the hot reducer:\n{plan[:2500]}"


def test_lsh_keys_persisted_for_self_join(spark):
    from pdfplucker_spark.operators.similarity import (
        q_sim_ann_topk,
        q_sim_cosine_dup_pairs,
    )

    # the 16-fold plane-dot derivation feeds both sides of the candidate
    # self-join — it must come from cache, not be re-evaluated per side
    for q in (q_sim_cosine_dup_pairs, q_sim_ann_topk):
        plan = _plan(q(spark, SF))
        assert "InMemoryTableScan" in plan, plan[:3000]


def test_ivf_assignment_is_map_only(spark):
    from pdfplucker_spark.operators.similarity import _ivf_assigned
    from pdfplucker_spark.sources.tables import load

    plan = _plan(_ivf_assigned(load(spark, SF, "embeddings")))
    # the N-row side must never shuffle: centroids broadcast as ONE array
    # row, argmax is a per-row fold — the scale property of IVF assignment
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Window" not in plan
    assert "Exchange hashpartitioning" not in plan, plan[:3000]


def test_range_join_is_bucketed_hash_join(spark):
    from pdfplucker_spark.operators.pipeline import q_events_purchase_range_join

    plan = _plan(q_events_purchase_range_join(spark, SF))
    # the bucket-equality rewrite must plan as a hash join — an inequality
    # join would show a nested-loop/cartesian (O(events x purchases)/user)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_asof_single_user_shuffle(spark):
    """Gates the PLAIN cross-check build (the registered default is the
    bucketed plan — see test_asof_bucketed_has_no_unbounded_single_key_sort
    and test_asof_registry_default_is_bucketed)."""
    from pdfplucker_spark.operators.pipeline import q_events_asof_plain

    plan = _plan(q_events_asof_plain(spark, SF))
    # one exchange for the resolving window + one for the tiny purchase
    # pre-agg; an inequality-join implementation would show a cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window [last") == 1


def test_containment_join_is_hash_keyed(spark):
    """The exact set-similarity self-join must plan as hash/sort-merge
    joins on the shingle key — never a nested loop — and the df guard's
    occupancy aggregation shuffles on the same key as the join."""
    from pdfplucker_spark.operators.dedup import q_dedup_containment_pairs

    plan = _plan(q_dedup_containment_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mix_report_total_is_broadcast(spark):
    """The 1-row corpus total joins back by broadcast — the per-cell side
    must not shuffle a second time for the share division."""
    from pdfplucker_spark.operators.pipeline import q_docs_mix_report

    plan = _plan(q_docs_mix_report(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_asof_bucketed_has_no_unbounded_single_key_sort(spark):
    """The skew-proof as-of variant: the event-cardinality window must
    partition on (user_id, bucket) — a pathological user's sort is chopped
    by time — and the only user_id-alone window sits on the bucket-summary
    frame (above the per-bucket aggregate), whose per-user row count is
    time-range-bounded, not event-bounded."""
    from pdfplucker_spark.operators.pipeline import q_events_asof_bucketed

    plan = _plan(q_events_asof_bucketed(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # two last()-windows total: in-bucket (user_id, bk) + carry (user_id)
    assert plan.count("Window [last") == 2
    # the in-bucket window is keyed on BOTH columns
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*?)ASC NULLS FIRST", plan)
    keyed_by_bucket = [s for s in specs if "user_id" in s and "bk" in s]
    assert keyed_by_bucket, plan[:3000]


def test_ngram_prefix_join_is_hash_keyed(spark):
    """The PPJoin prefix candidate join must plan as hash/sort-merge joins
    on the shingle key (the position filter is a post-join predicate,
    never a nested-loop condition), and the event-grain windows rank
    within doc_id only."""
    from pdfplucker_spark.operators.dedup import q_dedup_ngram_pairs

    plan = _plan(q_dedup_ngram_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_registry_default_is_bucketed():
    """The events_asof_purchase registry name must resolve to the
    skew-proof bucketed plan (round-6 promotion), never silently revert
    to the user_id-alone single-window build."""
    from pdfplucker_spark.operators.pipeline import QUERIES, q_events_asof_bucketed

    assert QUERIES["events_asof_purchase"][0] is q_events_asof_bucketed
    assert "events_asof_bucketed" not in QUERIES  # superseded, not duplicated


def test_curation_manifest_is_single_scan_join_free(spark):
    """The composed manifest's round-7 plan contract (BENCH/PLANS.md):
    ONE corpus scan (the gopher gate is an in-line map-only filter, the
    canonical window carries source/n_chars — no audit-output join-back,
    no canon join-back), zero sort-merge joins (the only joins left are
    the broadcast shuffle-rank offsets), and the dedup window keyed on
    the uniform bag hash plus the salted domain-cap window."""
    from pdfplucker_spark.operators.pipeline import q_docs_curation_manifest

    # clean cache first: operators persist() and do NOT unpersist, so a
    # preceding test's cached frames would be substituted into this plan
    # as extra InMemoryRelations, inflating the textual FileScan count
    spark.catalog.clearCache()
    plan = _plan(q_docs_curation_manifest(spark, SF))
    assert plan.count("SortMergeJoin") == 0, plan[:3000]
    # one corpus scan + at most one reused tiny side (offsets derive from
    # the same frame); the r6 shape read the corpus 4x. _shuffle_rank
    # persists its hashed frame (CLAUDE.md multi-consumer invariant), so
    # BOTH its consumers (offsets aggregate + rank join) read the cache
    # and the gate→dedup→cap chain executes once — the plan string
    # prints the cached plan's FileScan under each of the two
    # InMemoryTableScans, hence <= 2 textual occurrences of either
    assert plan.count("FileScan") <= 2, plan.count("FileScan")
    assert plan.count("InMemoryTableScan") == 2, plan.count("InMemoryTableScan")
    import re

    specs = re.findall(r"windowspecdefinition\((.*?)\)", plan)
    assert any("bag_hash" in s for s in specs), specs
    assert any("salt" in s for s in specs), specs


def test_sim_ann_recall_sweep_consistent_and_monotone(spark):
    """The recall audit (now a sweep, r8 verdict #5) must (a) at the
    PRODUCTION probe points equal the hand-computed intersection of its
    component operators' outputs, (b) stay a well-formed recall at every
    point (0 <= n_hits <= k, recall = n_hits/k), and (c) be MONOTONE
    non-decreasing in the probe parameter per method — probing more
    tables / more lists only grows the exactly-scored candidate set, and
    a true top-k member can only be displaced by another true top-k
    member, so recall cannot drop as the probe widens. The ivfpq curve
    is checked for well-formedness and production-point consistency but
    NOT monotonicity: ADC scoring is approximate, so a wider probe can
    displace a true member with an ADC-closer false candidate — the
    inherent compressed-search tradeoff, not a bug."""
    from pdfplucker_spark.operators.similarity import (
        IVF_NPROBE,
        IVF_NPROBE_SWEEP,
        LSH_TABLE_SWEEP,
        N_TABLES,
        TOP_K,
        q_sim_ann_recall,
        q_sim_ann_topk,
        q_sim_cosine_topk,
        q_sim_ivf_topk,
        q_sim_ivfpq_topk,
    )

    exact = {r.vec_id for r in q_sim_cosine_topk(spark, SF).collect()}
    expect = {
        ("lsh", N_TABLES): len(
            {r.vec_id for r in q_sim_ann_topk(spark, SF).collect()} & exact
        ),
        ("ivf", IVF_NPROBE): len(
            {r.vec_id for r in q_sim_ivf_topk(spark, SF).collect()} & exact
        ),
        ("ivfpq", IVF_NPROBE): len(
            {r.vec_id for r in q_sim_ivfpq_topk(spark, SF).collect()} & exact
        ),
    }
    rows = {
        (r.method, r.probe_param): r for r in q_sim_ann_recall(spark, SF).collect()
    }
    assert set(rows) == (
        {("lsh", t) for t in LSH_TABLE_SWEEP}
        | {("ivf", p) for p in IVF_NPROBE_SWEEP}
        | {("ivfpq", p) for p in IVF_NPROBE_SWEEP}
    )
    for key, r in rows.items():
        assert r.k == TOP_K
        assert 0 <= r.n_hits <= TOP_K
        assert r.recall == r.n_hits / TOP_K
        if key in expect:
            assert r.n_hits == expect[key], (key, r)
    for method, sweep in (("lsh", LSH_TABLE_SWEEP), ("ivf", IVF_NPROBE_SWEEP)):
        curve = [rows[(method, p)].recall for p in sorted(sweep)]
        assert curve == sorted(curve), (method, curve)


def test_simhash_pairs_plan_cached_fingerprints_no_nested_loop(spark):
    """The 60-bit fingerprint frame feeds all 20 Manku block tables and
    both sides of the (band, key) self-join — it must come from cache,
    never be recomputed per branch; and the candidate join must be a hash
    join on the band key, never a nested-loop/cartesian."""
    from pdfplucker_spark.operators.dedup import q_dedup_simhash_pairs

    spark.catalog.clearCache()  # earlier tests' caches must not substitute
    plan = _plan(q_dedup_simhash_pairs(spark, SF))
    assert "InMemoryTableScan" in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_simhash_fingerprint_hashes_tokens_once(spark):
    """The fingerprint must be the SINGLE-PASS counts-array fold: the
    per-bit-fold alternative references the token-hash array once
    textually inside the bit lambda, so CollapseProject inlines the
    hoisted projection and the md5 tokenization re-executes once PER BIT
    (60x the corpus hash cost — invisible at test scale). Pin the shape:
    exactly one md5 in the optimized projection, and it must NOT appear
    nested inside the constant bit-sequence transform's lambda (the
    collapsed-per-bit signature)."""
    import re

    from pdfplucker_spark.operators.dedup import _SIMHASH60, _TOKEN_HASHES
    from pdfplucker_spark.sources.tables import load

    fp = (
        load(spark, SF, "documents")
        .select("doc_id", F.expr(_TOKEN_HASHES).alias("__th"))
        .select("doc_id", F.expr(_SIMHASH60).alias("simhash"))
    )
    plan = fp._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5(") == 1, plan[:3000]
    # single-pass signature: the md5 token-hash transform is the counts
    # fold's INPUT argument (aggregate(transform(array_distinct(split(
    # ...md5...) — evaluated once per row. The collapsed-per-bit shape
    # instead buries it inside the bit-sequence transform's lambda
    # (aggregate(transform(<bits>, ...aggregate(...md5...)...)), where it
    # evaluates once per bit.
    assert re.search(
        r"aggregate\(transform\(array_distinct\(split\(", plan
    ), plan[:3000]


def test_line_segmenter_tokenizes_once(spark):
    """The shared line-dedup segmenter must keep split() hoisted in its
    own projection (referenced twice textually — size + the per-element
    slice — so CollapseProject keeps it): exactly one split in the
    optimized plan. An inlined split would re-tokenize the doc once per
    SEGMENT (O(L²/w) per row) — the shape both line-dedup cadences must
    never regress to."""
    from pdfplucker_spark.operators.dedup import line_segment_rows
    from pdfplucker_spark.sources.tables import load

    plan = (
        line_segment_rows(load(spark, SF, "documents"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, plan[:2000]


def test_logppl_vocab_take_ordered_and_broadcast_only(spark):
    """The unigram-LM scorer's 100-TB shape: the top-V vocabulary comes out
    of a TakeOrderedAndProject over the vocab-cardinality counts table
    (never a global sort of the corpus), the vocab and the 1-row total
    reach the exploded token stream only via broadcast, and the only
    corpus-scale shuffles are the two hash aggregations (token counts,
    per-doc sums) — no SortMergeJoin and no range partitioning anywhere."""
    from pdfplucker_spark.operators.pipeline import (
        LOGPPL_VOCAB,
        q_docs_unigram_logppl,
    )

    spark.catalog.clearCache()  # counts.persist() — don't inherit caches
    plan = _plan(q_docs_unigram_logppl(spark, SF))
    assert f"TakeOrderedAndProject(limit={LOGPPL_VOCAB}" in plan, plan[:2500]
    assert "SortMergeJoin" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan  # vocab → exploded stream, map-side


def test_pq_adc_search_is_shuffle_free(spark):
    """The ADC search plan at 10⁹ vectors: codebook and LUT broadcast,
    scoring one map over the packed codes, top-k a TakeOrdered — ZERO
    data-moving exchanges of the N-row side (no hash/range partitioning
    anywhere in the plan) and no join by shuffle."""
    from pdfplucker_spark.operators.similarity import q_sim_pq_adc_topk

    spark.catalog.clearCache()
    plan = _plan(q_sim_pq_adc_topk(spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan[:2500]
    assert "Exchange rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_substring_dedup_two_exchanges_broadcast_dup_set(spark):
    """The ExactSubstr plan at 10¹² docs: exactly TWO data-moving
    exchanges end-to-end — the window-hash frequency count (uniform md5
    key, map-side partials) and ONE doc_id exchange that all three
    per-doc window ops AND the island aggregate reuse (hashpartitioning
    on doc_id co-locates (doc_id, island) groups, so the span aggregate
    needs no exchange of its own). The dup set joins back by broadcast at
    this scale; the scan reads only (doc_id, text) with the not-null
    filter pushed."""
    from pdfplucker_spark.operators.dedup import q_docs_substring_dedup

    spark.catalog.clearCache()
    plan = _plan(q_docs_substring_dedup(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2, plan[:3000]
    assert "Exchange rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert plan.count("InMemoryTableScan") >= 2  # wins persisted, reused
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    spark.catalog.clearCache()


def test_dsir_one_model_agg_one_doc_shuffle(spark):
    """The DSIR plan: ONE bucket-cardinality aggregate computes BOTH
    models (no second corpus pass for the target side) and the per-doc
    sum is the only other hash exchange; the 64-row model reaches the
    scoring rescan by broadcast, never sort-merge."""
    from pdfplucker_spark.operators.pipeline import q_docs_dsir_weights

    spark.catalog.clearCache()
    plan = _plan(q_docs_dsir_weights(spark, SF))
    # exchanges: bucket counts (×1 — the persisted counts frame prints
    # under both its consumers but is ONE cached exchange, so count
    # DISTINCT plan ids) + per-doc sum (×1); nothing else moves corpus data
    import re as _re

    ex_ids = set(
        _re.findall(r"Exchange hashpartitioning\([^\]]*plan_id=(\d+)", plan)
    )
    assert len(ex_ids) == 2, (ex_ids, plan[:3000])
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    spark.catalog.clearCache()


def test_ivfpq_search_is_shuffle_free(spark):
    """The composed IVF-PQ plan at 10⁹ vectors: coarse assignment is the
    broadcast argmax, probe membership a broadcast LEFT-SEMI on cid (no
    row fan-out), encode + LUT scoring map-only broadcasts, top-k a
    TakeOrdered — like the flat ADC search, ZERO data-moving exchanges of
    the N-row side and no join by shuffle."""
    from pdfplucker_spark.operators.similarity import q_sim_ivfpq_topk

    spark.catalog.clearCache()
    plan = _plan(q_sim_ivfpq_topk(spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan[:2500]
    assert "Exchange rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_bigram_logppl_broadcast_model_no_position_self_join(spark):
    """The bigram scorer's 100-TB shape: bigram positions come from ONE
    per-doc array projection (never a tok⋈tok position self-join), the
    <=V² bigram model and the top-V vocab broadcast back onto the
    position stream, the vocabulary is a TakeOrdered — no SortMergeJoin,
    no range partitioning, no nested loop anywhere."""
    from pdfplucker_spark.operators.pipeline import (
        LOGPPL_VOCAB,
        q_docs_bigram_logppl,
    )

    spark.catalog.clearCache()
    plan = _plan(q_docs_bigram_logppl(spark, SF))
    assert f"TakeOrderedAndProject(limit={LOGPPL_VOCAB}" in plan, plan[:2500]
    assert "SortMergeJoin" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # model + vocab×2 (+ semis)


def test_ivfpq_residual_search_is_shuffle_free(spark):
    """The residual IVFADC plan must keep the no-residual path's scale
    shape: zero data-moving exchanges of the N-row side, probe
    membership a broadcast LEFT-SEMI, top-k a TakeOrdered — the residual
    subtraction and per-list LUTs add only broadcasts."""
    from pdfplucker_spark.operators.similarity import q_sim_ivfpq_residual_topk

    spark.catalog.clearCache()
    plan = _plan(q_sim_ivfpq_residual_topk(spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan[:2500]
    assert "Exchange rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_cdc_chunks_and_media_dedup_plans_are_joinless(spark):
    """The r9 reassembly-family operators must stay join-free: CDC
    chunking is explode → window → agg and media dedup is map-only
    params → two windows — a Join appearing in either plan means the
    scale shape regressed (PLANS.md: 'no joins anywhere')."""
    from pdfplucker_spark.operators.dedup import q_docs_cdc_chunks
    from pdfplucker_spark.operators.multimodal import q_media_dedup_exact

    spark.catalog.clearCache()
    for q in (q_docs_cdc_chunks, q_media_dedup_exact):
        plan = _plan(q(spark, SF))
        assert "Join" not in plan, (q.__name__, plan[:2000])
        assert "CartesianProduct" not in plan


def test_cms_and_entropy_plans_broadcast_or_joinless(spark):
    """CMS reads join only BROADCAST-side (the K-row top-k frame against
    the ≤256-cell grid — never a shuffled join), and token entropy is
    two hash aggregations with no join at all."""
    from pdfplucker_spark.operators.pipeline import q_docs_token_entropy
    from pdfplucker_spark.operators.sketches import q_events_cms_heavy_hitters

    spark.catalog.clearCache()
    plan = _plan(q_events_cms_heavy_hitters(spark, SF))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    plan = _plan(q_docs_token_entropy(spark, SF))
    assert "Join" not in plan, plan[:2000]


# ---------------------------------------------------------------------------
# the guarded candidate-join kernel (plans/guards.py): every guarded pair
# operator inherits these plan properties, so they are pinned once here
# ---------------------------------------------------------------------------
def _nodes(plan: str) -> list[tuple[int, str, str]]:
    """(indent, operator name, line) for every operator line of a plan."""
    import re

    out = []
    for line in plan.splitlines():
        m = re.match(r"([\s:|+-]*)(?:\*\(\d+\)\s*)?([A-Za-z]\w*)", line)
        if m:
            out.append((len(m.group(1)), m.group(2), line))
    return out


def _assert_guarded_join_shape(plan: str, pair: str, anti: bool = True) -> None:
    """One occupancy aggregate; over-cap keys leave through a LeftAnti join
    fed by a BroadcastExchange (``anti``) — or, for the prefix shape, no
    anti-join at all; no nested-loop or cartesian join; and the ``pair``
    predicate sits below the distinct, i.e. is applied before it."""
    import re

    nodes = _nodes(plan)
    # one aggregate: the log count and every join side share its cache
    occ = set(re.findall(r"functions=\[count\(1\)\], output=\[[^\]]*_occ#(\d+)", plan))
    assert len(occ) == 1, plan[:4000]
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    antis = [i for i, (_, name, line) in enumerate(nodes)
             if name.endswith("Join") and "LeftAnti" in line]
    assert bool(antis) == anti, plan[:4000]
    for i in antis:
        ind = nodes[i][0]
        kids = []
        for c, name, _ in nodes[i + 1:]:
            if c <= ind:
                break
            if c == ind + 3:
                kids.append(name)
        assert "BroadcastExchange" in kids, (kids, plan[:4000])
    top = next(i for i, (_, name, line) in enumerate(nodes)
               if name == "HashAggregate" and "functions=[]" in line)
    hits = [i for i, (_, _, line) in enumerate(nodes) if re.search(pair, line)]
    assert hits and all(i > top and nodes[i][0] > nodes[top][0] for i in hits), plan[:4000]


def _keys_frame(spark):
    # 40 keys of 50 rows each: the cap of 30 drops every key, the plan is
    # the same either way
    return spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 40).alias("k"),
        (F.col("id") % 10 == 0).alias("is_index"),
    )


def test_guarded_self_join_plan_shape(spark):
    from pdfplucker_spark.plans.guards import guarded_self_join

    spark.catalog.clearCache()
    cand = (
        guarded_self_join(_keys_frame(spark), ("k",), "doc_id", 30, "pin")
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    _assert_guarded_join_shape(_plan(cand), r"doc_id#\d+L? < doc_id#\d+L?")
    spark.catalog.clearCache()


def test_guarded_probe_plan_shape(spark):
    from pdfplucker_spark.plans.guards import guarded_probe

    spark.catalog.clearCache()
    keys = _keys_frame(spark).persist()
    screen = guarded_probe(
        keys.where("is_index").select(F.col("doc_id").alias("index_doc_id"), "k"),
        ("k",),
        30,
        "pin",
        counted=keys,
    )
    cand = (
        screen(keys.where(~F.col("is_index")).select(F.col("doc_id").alias("probe_doc_id"), "k"))
        .select("probe_doc_id", "index_doc_id")
        .distinct()
    )
    _assert_guarded_join_shape(_plan(cand), r"NOT is_index#\d+")
    spark.catalog.clearCache()


def test_guarded_prefix_join_plan_shape(spark):
    from pdfplucker_spark.operators.dedup import shingles_frame
    from pdfplucker_spark.plans.guards import guarded_prefix_join
    from pdfplucker_spark.sources.tables import load

    spark.catalog.clearCache()
    ex = shingles_frame(load(spark, SF, "documents")).select(
        "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("g")
    )
    for asymmetric in (False, True):
        joined, _ = guarded_prefix_join(ex, "g", "doc_id", 0.35, 100, "pin", asymmetric)
        cand = joined.select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        ).distinct()
        pair = (
            r"NOT \(doc_id#\d+L? = doc_id#\d+L?\)"
            if asymmetric
            else r"doc_id#\d+L? < doc_id#\d+L?"
        )
        _assert_guarded_join_shape(_plan(cand), pair, anti=False)
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# verify measures: each expensive per-pair (or per-token) expression is
# evaluated once. Catalyst pushes a filter on a projected measure through
# the projection, so an unguarded ``measure >= t`` lands in the join
# condition and the projection evaluates the measure again.
# ---------------------------------------------------------------------------
def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_minhash_signature_hashes_tokens_once(spark):
    """Every token is split and md5'd once, in its own projection, and the
    8 affine band minima read that hash array — not 8 inlined md5 passes
    (higher-order functions get no common-subexpression elimination)."""
    from pdfplucker_spark.operators.dedup import q_dedup_minhash_sig

    plan = _optimized(q_dedup_minhash_sig(spark, SF))
    assert plan.count("md5(") == 1, plan[:3000]
    assert plan.count("split(") == 1, plan[:3000]


def _verify_lines(plan: str, measure: str) -> tuple[list, list]:
    """(nodes whose line holds ``measure``, Join nodes holding it)."""
    nodes = _nodes(plan)
    hits = [(i, n) for i, n in enumerate(nodes) if measure in n[2]]
    joins = [n for _, n in hits if n[1] == "Join"]
    return hits, joins


def test_jaccard_verify_intersects_once_above_the_size_filter(spark):
    """``_verify_jaccard``: exactly one ``array_intersect`` per plan, never
    in a Join condition, and only above the O(1) size-ratio filter — pairs
    the ratio bound rejects never reach the intersect."""
    from pdfplucker_spark.operators.dedup import (
        q_dedup_minhash_pairs,
        q_dedup_ngram_pairs,
    )

    for q in (q_dedup_minhash_pairs, q_dedup_ngram_pairs):
        spark.catalog.clearCache()
        plan = _optimized(q(spark, SF))
        assert plan.count("array_intersect(") == 1, (q.__name__, plan[:4000])
        hits, joins = _verify_lines(plan, "array_intersect(")
        assert not joins, (q.__name__, joins)
        i, (ind, _, _) = hits[0]
        ratio = [(j, n) for j, n in enumerate(_nodes(plan))
                 if "least(size(toks" in n[2] and "greatest(size(toks" in n[2]]
        assert ratio, (q.__name__, plan[:4000])
        assert all(j > i and n[0] > ind for j, n in ratio), (q.__name__, plan[:4000])
    spark.catalog.clearCache()


def test_cosine_verify_folds_the_dot_once(spark):
    """``_exact_cosine_pairs``: the interpreted sequential dot fold appears
    once, outside every Join condition (inlined, ``cos >= t`` ran it in the
    join and the projection ran it again)."""
    from pdfplucker_spark.operators.similarity import q_sim_cosine_dup_pairs

    spark.catalog.clearCache()
    plan = _optimized(q_sim_cosine_dup_pairs(spark, SF))
    assert plan.count("zip_with(v#") == 1, plan[:4000]
    assert not _verify_lines(plan, "zip_with(v#")[1], plan[:4000]
    spark.catalog.clearCache()


def test_array_intersect_only_in_the_verify_join():
    """``array_intersect`` is called only inside ``dedup._verify_jaccard``:
    a pair operator that computes its own intersect measure would bring
    back the inlined-measure shape the pins above rule out."""
    import ast
    import pathlib

    import pdfplucker_spark

    pkg = pathlib.Path(pdfplucker_spark.__file__).parent
    files = sorted((pkg / "operators").glob("*.py")) + sorted((pkg / "streaming").glob("*.py"))
    assert files
    bad, found = [], 0
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "_verify_jaccard" \
                    and path.name == "dedup.py":
                allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                hit = name == "array_intersect"
            else:
                hit = isinstance(node, ast.Constant) and isinstance(node.value, str) \
                    and "array_intersect(" in node.value
            if hit and id(node) in allowed:
                found += 1
            elif hit:
                bad.append(f"{path.name}:{node.lineno}")
    assert not bad, bad
    assert found == 1, found
