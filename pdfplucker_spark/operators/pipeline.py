"""Training-data-pipeline operators beyond the reference surface: as-of
join, per-group top-k terms (TF-IDF), exact group quantiles, deterministic
stratified sampling, canonical-document selection.

Each is expressed as the plan you'd want at 100 TB:

  - as-of join: the union + single-window formulation — ONE shuffle on the
    join key, state carried by last(ignorenulls) — instead of the naive
    inequality join (O(events x states) per key). DuckDB's native ASOF JOIN
    is the independent oracle.
  - top terms: two hash aggregations (tf per doc-term, df per term) and a
    per-doc window; ranking keys are integers (tf desc, df asc, term asc),
    so cross-engine ordering is exact — no float-ordering hazards.
  - quantiles: exact linear-interpolation percentiles (Spark `percentile`
    == DuckDB `quantile_cont`), grouped, decimal-rounded.
  - sampling: hash-gated (md5 % k), not RNG — deterministic across engines,
    scan-order-independent, and stratification is just the hash key prefix.
  - canonical docs: one row_number window per near-dup group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pdfplucker_spark.functions.hashing import md5_long, sql_md5_long
from pdfplucker_spark.sources.tables import load

TOP_TERMS_K = 3
SAMPLE_MOD = 10  # keep 1/10 per stratum
QUANTILES = (0.25, 0.5, 0.75)


# ---------------------------------------------------------------------------
# as-of join (events → latest prior purchase of the same user)
# ---------------------------------------------------------------------------
def q_events_asof_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event, the user's most recent purchase event at-or-before
    its timestamp (attribution-style as-of join, an operator Spark lacks
    natively). Union+single-window shape: purchases (state) and events
    (queries) are unioned and resolved with ONE window over (user_id, ts)
    — a single shuffle on user_id; last(ignorenulls) carries the open
    state forward. Ties: purchases are deduped to max(event_id) per
    (user, ts); state rows order before query rows at equal ts, so <=
    semantics hold.

    NOT the registered default: the window partitions on ``user_id``
    ALONE, so one pathological user serializes into one reducer sort at
    10⁹-event scale. ``q_events_asof_bucketed`` (the default under the
    ``events_asof_purchase`` registry name) chops that window by time
    bucket; this build is kept as the independent cross-check the
    bucketed plan is pytest-compared against (test_pipeline_ops.py,
    test_plan_properties.py)."""
    ev = load(spark, sf_dir, "events")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("string").alias("event_type"),
            F.struct(
                F.col("purchase_id").alias("pid"),
                F.col("ts").alias("pts"),
            ).alias("state"),
        )
    )
    queries = ev.select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        "event_id",
        "event_type",
        F.lit(None)
        .cast("struct<pid:bigint,pts:timestamp_ntz>")
        .alias("state"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    resolved = (
        purchases.unionByName(queries)
        .withColumn("asof", F.last("state", ignorenulls=True).over(w))
        .where(F.col("side") == 1)
    )
    epoch = lambda c: F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c}) div 1000000"
    )
    return resolved.select(
        "event_id",
        "user_id",
        epoch("ts").alias("ts_epoch"),
        "event_type",
        F.col("asof.pid").alias("last_purchase_id"),
        epoch("asof.pts").alias("last_purchase_ts_epoch"),
    )


SQL_EVENTS_ASOF_PURCHASE = """
WITH p AS (
  SELECT user_id, ts, MAX(event_id) AS purchase_id
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT e.event_id, e.user_id,
       CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_epoch,
       e.event_type,
       p.purchase_id AS last_purchase_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS last_purchase_ts_epoch
FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
"""


# ---------------------------------------------------------------------------
# salt-tolerant as-of join: time-bucketed state carry
# ---------------------------------------------------------------------------
ASOF_BUCKET_US = 3_600_000_000  # 1 hour


def q_events_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of semantics as ``q_events_asof_plain``, with the
    skew-proof plan — since round 6 THE DEFAULT registered under the
    ``events_asof_purchase`` name (the plain build stays as its pytest
    cross-check): the plain single window partitions on ``user_id``
    alone, so one pathological user (10⁹ events at 100 TB) serializes into
    one reducer sort. Here the event-cardinality window partitions on
    (user_id, time_bucket) — bounded by per-bucket traffic — and purchase
    state crosses bucket boundaries via a PER-BUCKET SUMMARY join (the same
    trick as ``q_events_purchase_range_join``):

      1. per (user, bucket): the last purchase inside the bucket — a hash
         aggregation (lexicographic struct max, no sort);
      2. the carry: a window over ``user_id`` alone, but on the
         BUCKET-summary frame — one row per active (user, bucket), so the
         partition is time-range-bounded, never event-bounded;
         rangeBetween(-∞, -1) reads "last purchase in any STRICTLY earlier
         bucket";
      3. in-bucket resolution: purchases ∪ events, one window per
         (user, bucket) with state rows ordering before query rows at equal
         ts (≤ semantics), exactly the union+last(ignorenulls) trick;
      4. an event's as-of purchase = in-bucket state, else the carry —
         joined back on (user, bucket), the same key the window already
         shuffled on.

    The oracle is the identical DuckDB ASOF JOIN the plain operator uses —
    two Spark plans, one truth."""
    ev = load(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    bucket = lambda c: F.floor(c / F.lit(float(ASOF_BUCKET_US)))
    e = ev.select(
        "event_id",
        "user_id",
        "event_type",
        us.alias("us"),
        bucket(us).alias("bk"),
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("pid"))
        .select("user_id", us.alias("pus"), "pid")
    )
    state = F.struct(F.col("pus").alias("pts"), F.col("pid").alias("pid"))
    # 1) last purchase per (user, bucket): hash agg, struct max = (ts, id)
    psum = p.groupBy("user_id", bucket(F.col("pus")).alias("bk")).agg(
        F.max(state).alias("bstate")
    )
    # 2) the carry over bucket summaries (bucket-cardinality rows only)
    # ONE distinct over the union (map-side partial aggregation already
    # collapses duplicates pre-shuffle) — a per-side distinct before the
    # union would pay a second full shuffle of the event-side keys
    bkeys = (
        e.select("user_id", "bk")
        .unionByName(psum.select("user_id", "bk"))
        .distinct()
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("bk")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    carried = (
        bkeys.join(psum, ["user_id", "bk"], "left")
        .withColumn("carry", F.last("bstate", ignorenulls=True).over(wb))
        .select("user_id", "bk", "carry")
    )
    # 3) in-bucket resolution: the union+window trick, chopped by bucket
    pseq = p.select(
        "user_id",
        bucket(F.col("pus")).alias("bk"),
        F.col("pus").alias("us"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("string").alias("event_type"),
        state.alias("state"),
    )
    eseq = e.select(
        "user_id",
        "bk",
        "us",
        F.lit(1).alias("side"),
        "event_id",
        "event_type",
        F.lit(None).cast("struct<pts:bigint,pid:bigint>").alias("state"),
    )
    wi = (
        Window.partitionBy("user_id", "bk")
        .orderBy("us", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inb = (
        pseq.unionByName(eseq)
        .withColumn("inb", F.last("state", ignorenulls=True).over(wi))
        .where(F.col("side") == 1)
    )
    # 4) recombine on the key the window already shuffled on
    return (
        inb.join(carried, ["user_id", "bk"], "left")
        .withColumn("asof", F.coalesce("inb", "carry"))
        .select(
            "event_id",
            "user_id",
            F.expr("us div 1000000").alias("ts_epoch"),
            "event_type",
            F.col("asof.pid").alias("last_purchase_id"),
            F.expr("asof.pts div 1000000").alias("last_purchase_ts_epoch"),
        )
    )


# The default as-of plan: the skew-proof bucketed build. Kept as a module
# alias so callers (bench, jobs) importing the operator by its semantic
# name get the plan you'd run at scale.
q_events_asof_purchase = q_events_asof_bucketed


# ---------------------------------------------------------------------------
# per-doc top terms with TF-IDF
# ---------------------------------------------------------------------------
def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k terms per document. Two hash aggs (tf, df) + one join + one
    per-doc window; rank keys are integers so cross-engine order is exact.
    TF-IDF value is reported (rounded), not ranked on — float ordering
    differences across engines would make ranks non-deterministic."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.col("doc_id"), F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_TERMS_K)
        .select(
            "doc_id",
            "rank",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


SQL_TEXT_TOP_TERMS = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents)
SELECT doc_id, rank, term, tf, df,
       round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
FROM (
  SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n,
         CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                 ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS INT)
           AS rank
  FROM tf JOIN df USING (term) CROSS JOIN n
) WHERE rank <= {TOP_TERMS_K}
"""


# ---------------------------------------------------------------------------
# unigram LM fit + per-doc log-perplexity (CCNet-style perplexity filter)
# ---------------------------------------------------------------------------
# top-V unigram vocabulary. The synthetic corpus has 31 distinct tokens,
# so V=16 exercises BOTH scoring paths (in-vocab and OOV) at every sf.
LOGPPL_VOCAB = 16
# per-token log-prob quantum: log-probs are snapped to this integer grid
LOGPPL_MICRO = 1_000_000


def _unigram_doc_scores(d, extra: tuple = ()) -> DataFrame:
    """(doc_id, *extra, n_tokens, oov_tokens, slog): the corpus-fit
    unigram LM's per-doc integer aggregates — the shared core of the
    logppl scorer and the per-language perplexity bucketing. ``extra``
    columns ride along through the explode and the per-doc group-by
    (they are doc-constant attributes like lang); the LM fit itself
    (counts, total, vocab) is identical regardless of ``extra``."""
    toks = d.select(
        "doc_id",
        *extra,
        F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")).persist()
    total = counts.agg(F.sum("cnt").alias("tot"))
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(LOGPPL_VOCAB)
        .crossJoin(F.broadcast(total))
        .select(
            "tok",
            F.expr(
                f"CAST(round(ln(CAST(cnt AS DOUBLE) / tot) * {LOGPPL_MICRO}) AS BIGINT)"
            ).alias("logp_micro"),
        )
    )
    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            *extra,
            F.coalesce(
                F.col("logp_micro"),
                F.expr(
                    f"CAST(round(ln(1.0D / (2 * tot)) * {LOGPPL_MICRO}) AS BIGINT)"
                ),
            ).alias("lp"),
            F.col("logp_micro").isNull().cast("int").alias("is_oov"),
        )
    )
    return scored.groupBy("doc_id", *extra).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("is_oov").alias("oov_tokens"),
        F.sum("lp").alias("slog"),
    )


def q_docs_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-filter signal: fit a top-V unigram LM on the
    corpus itself, then score every document with its unigram
    log-perplexity and OOV count (in-vocab p(t) = cnt/total; OOV tokens
    score p = 1/(2*total)).

    Cross-engine exactness: ``ln`` is NOT bit-identical between the JVM
    and libm (measured: ~3% of values differ by 1 ulp), so per-token
    log-probs are quantized to an integer micro-unit grid
    (``round(ln(p)*1e6) AS BIGINT``) BEFORE the per-doc sum — the group
    sum is then exact order-independent integer math on both engines, and
    a 1-ulp ln() difference only matters if ln(p)*1e6 sits within ~1e-9 of
    a rounding boundary, across just |vocab|+1 distinct ratios per corpus.

    Scale shape (100 TB): explode is map-only; the token-count agg is one
    corpus-scale shuffle whose map-side partial aggregation absorbs the
    skewed common tokens; top-V is TakeOrdered over the vocab-cardinality
    counts table (never a full sort); vocab + total broadcast back onto
    the exploded stream (map-side joins, no shuffle); the per-doc integer
    sum is the second and last shuffle, keyed on the uniform doc_id.
    ``counts`` is persisted (two consumers — the total and the top-V — and
    it is vocab-sized). The exploded frame is deliberately NOT cached: it
    is corpus×tokens scale, and its second consumer costs only a rescan +
    map, the cheaper side at scale.
    """
    agg = _unigram_doc_scores(load(spark, sf_dir, "documents"))
    # The reported mean stays ON the integer micro grid ((-slog) div n —
    # exact integer math, both operands positive so Spark's truncating
    # `div` == DuckDB's flooring `//`), then ONE IEEE division by 1e6.
    # A round(sum/(n*1e6), 6) here would be a cross-engine trap: the
    # quotient of two integers lands EXACTLY on .xxxxxx5 decimals for many
    # (slog, n), where Spark (HALF_UP on the shortest decimal repr) and
    # DuckDB (round on the raw binary double) disagree — observed at sf0.1.
    return agg.select(
        "doc_id",
        "n_tokens",
        "oov_tokens",
        (
            F.expr("(-slog) div n_tokens").cast("double")
            / F.lit(float(LOGPPL_MICRO))
        ).alias("logppl"),
    )


SQL_DOCS_UNIGRAM_LOGPPL = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
  FROM documents
),
counts AS MATERIALIZED (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
),
tot AS MATERIALIZED (
  SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM counts
),
vocab AS MATERIALIZED (
  SELECT tok,
         CAST(round(ln(CAST(cnt AS DOUBLE) / tot.tot) * {LOGPPL_MICRO}) AS BIGINT)
           AS logp_micro
  FROM counts, tot
  ORDER BY cnt DESC, tok ASC LIMIT {LOGPPL_VOCAB}
),
scored AS (
  SELECT t.doc_id,
         coalesce(v.logp_micro,
                  CAST(round(ln(1.0 / (2 * tot.tot)) * {LOGPPL_MICRO}) AS BIGINT))
           AS lp,
         CASE WHEN v.logp_micro IS NULL THEN 1 ELSE 0 END AS is_oov
  FROM toks t LEFT JOIN vocab v USING (tok), tot
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(is_oov) AS BIGINT) AS oov_tokens,
       CAST((-CAST(SUM(lp) AS BIGINT)) // COUNT(*) AS DOUBLE)
         / {float(LOGPPL_MICRO)} AS logppl
FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# per-doc token Shannon entropy (gibberish / repetition quality signal)
# ---------------------------------------------------------------------------
ENTROPY_MICRO = 1_000_000


def q_docs_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy (nats) — the classic
    gibberish/boilerplate quality signal: near-zero for a page of one
    repeated token, ~ln(n) for all-distinct text. Complements
    text_repetition (top-term share) with the full-distribution measure.

    Exactness: H = ln(N) - (1/N)·Σ c·ln(c) is computed on the same integer
    micro grid as the LM scorers — each ln is snapped to
    round(ln(x)·1e6) AS BIGINT BEFORE any sum, so the aggregation is
    order-independent integer math on both engines and the one IEEE
    division happens after the grid math (the docs_unigram_logppl
    cross-engine contract; see that docstring for the 1-ulp ln analysis).

    Scale shape: explode is map-only; term frequencies are one hash
    aggregation on the uniform composite key (doc_id, tok) with map-side
    partials; the per-doc reduce is the second and last shuffle on the
    uniform doc_id. No joins, no windows, no driver state — the same
    two-hash-agg shape as the other corpus-statistics operators."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    ln_cnt = F.expr(
        f"CAST(round(ln(CAST(cnt AS DOUBLE)) * {ENTROPY_MICRO}) AS BIGINT)"
    )
    agg = tf.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.sum(F.col("cnt") * ln_cnt).alias("slog"),
    )
    ln_n = F.expr(
        f"CAST(round(ln(CAST(n_tokens AS DOUBLE)) * {ENTROPY_MICRO}) AS BIGINT)"
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        (
            (ln_n - F.expr("slog div n_tokens")).cast("double")
            / F.lit(float(ENTROPY_MICRO))
        ).alias("token_entropy"),
    )


SQL_DOCS_TOKEN_ENTROPY = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
       CAST(CAST(round(ln(CAST(SUM(cnt) AS DOUBLE)) * {ENTROPY_MICRO}) AS BIGINT)
            - CAST(SUM(cnt * CAST(round(ln(CAST(cnt AS DOUBLE)) * {ENTROPY_MICRO})
                                  AS BIGINT)) AS BIGINT)
              // CAST(SUM(cnt) AS BIGINT)
            AS DOUBLE) / {float(ENTROPY_MICRO)} AS token_entropy
FROM tf GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# CCNet perplexity buckets: per-language head/middle/tail terciles
# ---------------------------------------------------------------------------
# two-level rank bucketing: quantized-ppl bin (monotone prefix of the
# rank key) × a hash prefix that splits ties, so a constant-ppl corpus
# can never concentrate a window sort on one key
PPL_BIN_SHIFT = 13  # ppl_micro >> 13 ≈ 0.008-logppl bins
PPL_HB_BITS = 4  # 16-way tie split inside each bin
PPL_N_BUCKETS = 3  # CCNet's head/middle/tail


def q_docs_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's language-model bucketing: within each LANGUAGE, rank docs
    by unigram log-perplexity and split the ranking into
    {PPL_N_BUCKETS} equal buckets — 0 = head (most fluent), 2 = tail.
    CCNet trains on the head/middle and drops or down-weights the tail;
    the bucket id is the signal a curation run joins on. The ranking
    order is (quantized ppl, doc-id hash, exact ppl, hash, doc_id) — a
    deterministic total order, monotone in ppl up to the ~0.008-logppl
    bin quantum (ties inside a bin split by hash: the standard
    rank-tercile definition, exact integer math end-to-end).

    Scale shape: per-doc scores ride the unigram LM core (three corpus
    shuffles inherited); ranking is the two-level `_shuffle_rank`
    pattern with the bucket key (lang, ppl-bin, hash-prefix) — the
    bucket is a PREFIX of the rank key, so bucket-ordered offsets +
    within-bucket row_number compose to the global per-lang rank, and
    NO window ever partitions on lang alone (a 3-language 10¹²-doc
    corpus would sort 10¹² rows on one key). Offsets/totals are
    bucket-cardinality frames, broadcast back."""
    d = load(spark, sf_dir, "documents")
    agg = _unigram_doc_scores(d, ("lang",))
    h = md5_long(F.concat(F.lit("pplb:"), F.col("doc_id").cast("string")))
    base = (
        agg.select(
            "doc_id",
            "lang",
            F.expr("(-slog) div n_tokens").alias("ppl_micro"),
            h.alias("h"),
        )
        .withColumn("pmb", F.shiftright("ppl_micro", PPL_BIN_SHIFT))
        .withColumn("hb", F.shiftright("h", 60 - PPL_HB_BITS))
        .persist()  # two consumers: the bucket-count offsets + rank join
    )
    counts = base.groupBy("lang", "pmb", "hb").agg(F.count(F.lit(1)).alias("n_b"))
    woff = (
        Window.partitionBy("lang")
        .orderBy("pmb", "hb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "lang",
        "pmb",
        "hb",
        F.coalesce(F.sum("n_b").over(woff), F.lit(0)).alias("offset"),
    )
    totals = counts.groupBy("lang").agg(F.sum("n_b").alias("n_lang"))
    wrk = Window.partitionBy("lang", "pmb", "hb").orderBy(
        "ppl_micro", "h", "doc_id"
    )
    ranked = (
        base.join(F.broadcast(offsets), ["lang", "pmb", "hb"])
        .join(F.broadcast(totals), "lang")
        .select(
            "doc_id",
            "lang",
            "ppl_micro",
            (F.col("offset") + F.row_number().over(wrk) - 1).alias("rnk"),
            "n_lang",
        )
    )
    # integer floor-div on both engines (operands nonnegative)
    return ranked.select(
        "doc_id",
        "lang",
        "ppl_micro",
        F.expr(f"CAST(({PPL_N_BUCKETS} * rnk) div n_lang AS INT)").alias(
            "ppl_bucket"
        ),
    )


SQL_DOCS_PPL_BUCKETS = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, lang, unnest(string_split(coalesce(text, ''), ' ')) AS tok
  FROM documents
),
counts AS MATERIALIZED (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
),
tot AS MATERIALIZED (
  SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM counts
),
vocab AS MATERIALIZED (
  SELECT tok,
         CAST(round(ln(CAST(cnt AS DOUBLE) / tot.tot) * {LOGPPL_MICRO}) AS BIGINT)
           AS logp_micro
  FROM counts, tot
  ORDER BY cnt DESC, tok ASC LIMIT {LOGPPL_VOCAB}
),
scored AS (
  SELECT t.doc_id, t.lang,
         coalesce(v.logp_micro,
                  CAST(round(ln(1.0 / (2 * tot.tot)) * {LOGPPL_MICRO}) AS BIGINT))
           AS lp
  FROM toks t LEFT JOIN vocab v USING (tok), tot
),
agg AS (
  SELECT doc_id, lang,
         (-CAST(SUM(lp) AS BIGINT)) // COUNT(*) AS ppl_micro,
         {sql_md5_long("'pplb:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM scored GROUP BY doc_id, lang
),
r AS (
  SELECT doc_id, lang, ppl_micro,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY ppl_micro >> {PPL_BIN_SHIFT},
                    h >> {60 - PPL_HB_BITS},
                    ppl_micro, h, doc_id
         ) - 1 AS rnk,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM agg
)
SELECT doc_id, lang, ppl_micro,
       CAST(({PPL_N_BUCKETS} * rnk) // n_lang AS INT) AS ppl_bucket
FROM r
"""


# ---------------------------------------------------------------------------
# bigram interpolated LM fit + per-doc log-perplexity (the CCNet filter's
# actual shape: KenLM is an interpolated n-gram model; this is its
# Jelinek-Mercer bigram core, fit on the corpus itself)
# ---------------------------------------------------------------------------
# interpolation weight: exactly 0.5 (dyadic — the multiply is IEEE-exact)
# p(w | c) = 0.5 * p_bi(w | c) + 0.5 * p_uni(w), where p_bi = cnt(c,w) /
# cnt(c) for vocab-pair bigrams seen in the corpus (else 0), and p_uni is
# the unigram op's top-V/OOV model. Denominator cnt(c) is the plain
# unigram count of the context (not "times followed by anything") — a
# smoothed variant that never needs a second context-grain aggregate.


def q_docs_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BIGRAM interpolated log-perplexity + seen-bigram count —
    the quality-filter signal one rung up from ``docs_unigram_logppl``
    (repetitive or shuffled-word docs score near the unigram model;
    natural word ORDER is what the bigram term rewards).

    Cross-engine exactness: per-position log-probs snap to the integer
    micro grid before the per-doc sum (the unigram op's contract); the
    pre-ln double is the same fixed-form IEEE expression on both engines
    over <= V² + V + 1 distinct ratio combinations. Docs with fewer than
    2 tokens have no bigram positions and are absent in BOTH engines
    (the shingle ops' convention).

    Scale shape (100 TB): bigram positions come from ONE per-doc array
    projection (transform over the hoisted split — no position self-join
    anywhere); the bigram MODEL is bounded <= V² rows by construction
    (both tokens in the top-V vocab), so it broadcasts at any corpus
    size; three corpus-scale shuffles total — unigram counts, bigram
    counts (both uniform token keys with map-side partials), and the
    final per-doc integer sum."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")).persist()
    total = counts.agg(F.sum("cnt").alias("tot"))
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(LOGPPL_VOCAB)
        .select("tok", "cnt")
    )
    # bigram positions, map-only: one hoisted split per doc, pairs from
    # adjacent slots (size guard first — sequence(0, -1) DESCENDS in Spark)
    big = (
        d.select(
            "doc_id",
            F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("t"),
        )
        .where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS c, t[i + 1] AS w))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.c", "p.w")
    )
    # the bigram model: counts over vocab-pair bigrams only (<= V² rows);
    # both membership filters are broadcast semi-joins on the tiny vocab
    vc = F.broadcast(vocab.select(F.col("tok").alias("c"), F.col("cnt").alias("cnt_c")))
    vw = F.broadcast(vocab.select(F.col("tok").alias("w"), F.col("cnt").alias("cnt_w")))
    bmodel = (
        big.join(vc, "c", "left_semi")
        .join(vw, "w", "left_semi")
        .groupBy("c", "w")
        .agg(F.count(F.lit(1)).alias("cnt_cw"))
    )
    scored = (
        big.join(F.broadcast(bmodel), ["c", "w"], "left")
        .join(vc, "c", "left")
        .join(vw, "w", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.expr(
                "CAST(round(ln("
                "0.5D * coalesce(CAST(cnt_cw AS DOUBLE) / cnt_c, 0.0D)"
                " + 0.5D * (CASE WHEN cnt_w IS NULL THEN 1.0D / (2 * tot)"
                "           ELSE CAST(cnt_w AS DOUBLE) / tot END)"
                f") * {LOGPPL_MICRO}) AS BIGINT)"
            ).alias("lp"),
            F.col("cnt_cw").isNotNull().cast("int").alias("is_seen"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("is_seen").alias("seen_bigrams"),
        F.sum("lp").alias("slog"),
    )
    # same integer-grid mean as the unigram op: (-slog) div n, then ONE
    # IEEE division (n_bigrams >= 1 for every emitted doc by construction)
    return agg.select(
        "doc_id",
        "n_bigrams",
        "seen_bigrams",
        (
            F.expr("(-slog) div n_bigrams").cast("double")
            / F.lit(float(LOGPPL_MICRO))
        ).alias("logppl2"),
    )


SQL_DOCS_BIGRAM_LOGPPL = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
  FROM documents
),
counts AS MATERIALIZED (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
),
tot AS MATERIALIZED (
  SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM counts
),
vocab AS MATERIALIZED (
  SELECT tok, cnt FROM counts
  ORDER BY cnt DESC, tok ASC LIMIT {LOGPPL_VOCAB}
),
tl AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM documents
),
big AS MATERIALIZED (
  SELECT doc_id, t[i] AS c, t[i + 1] AS w
  FROM tl CROSS JOIN UNNEST(range(1, len(t))) AS r(i)
),
bmodel AS MATERIALIZED (
  SELECT c, w, COUNT(*) AS cnt_cw FROM big
  WHERE c IN (SELECT tok FROM vocab) AND w IN (SELECT tok FROM vocab)
  GROUP BY c, w
),
scored AS (
  SELECT b.doc_id,
         CAST(round(ln(
           0.5 * coalesce(CAST(m.cnt_cw AS DOUBLE) / vc.cnt, 0.0)
           + 0.5 * (CASE WHEN vw.cnt IS NULL THEN 1.0 / (2 * tot.tot)
                    ELSE CAST(vw.cnt AS DOUBLE) / tot.tot END)
         ) * {LOGPPL_MICRO}) AS BIGINT) AS lp,
         CASE WHEN m.cnt_cw IS NULL THEN 0 ELSE 1 END AS is_seen
  FROM big b
  LEFT JOIN bmodel m ON m.c = b.c AND m.w = b.w
  LEFT JOIN vocab vc ON vc.tok = b.c
  LEFT JOIN vocab vw ON vw.tok = b.w
  CROSS JOIN tot
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(is_seen) AS BIGINT) AS seen_bigrams,
       CAST((-CAST(SUM(lp) AS BIGINT)) // COUNT(*) AS DOUBLE)
         / {float(LOGPPL_MICRO)} AS logppl2
FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# exact grouped quantiles
# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling"): hashed-n-gram bag features, a target
# vs raw bucket model, per-doc log importance weight.
# ---------------------------------------------------------------------------
DSIR_BUCKETS = 64  # production uses ~10k; 64 keeps every bucket occupied at sf0.001
DSIR_TARGET_MOD = 5  # deterministic stand-in "target domain": 20% id-hash slice


# unigram + bigram features over a hoisted token-array column ``t`` (``t``
# is referenced several times textually so the hoist survives
# CollapseProject). The IF guard matters: Spark's sequence(0, n) with n < 0
# yields a DESCENDING sequence, not an empty one.
_DSIR_FEATS_OVER_T = (
    "concat(t, IF(size(t) >= 2, "
    "transform(sequence(0, size(t) - 2), i -> concat_ws(' ', slice(t, i + 1, 2))), "
    "array()))"
)


def q_docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR log importance weight: fit two bag-of-hashed-n-gram
    bucket models — the target domain (a deterministic 1/DSIR_TARGET_MOD
    id-hash slice standing in for the curated target corpus; production
    swaps real target docs into the same plumbing) and the raw pool (the
    whole corpus) — with add-1 smoothing over DSIR_BUCKETS buckets, then
    score every doc with sum over its feature occurrences of
    ln p_target(bucket) − ln p_raw(bucket).

    Cross-engine exactness: per-bucket log-ratios snap to the integer
    micro grid before the per-doc sum (the `docs_unigram_logppl`
    contract — JVM vs libm ln differs by 1 ulp in ~3% of values; integer
    sums are exact and order-independent). `logw_micro` is the raw
    integer-grid sum, exact in both engines.

    Scale shape (100 TB): features explode map-only (~2 rows per token);
    BOTH models come from ONE bucket-cardinality hash agg over the
    exploded stream (count + filtered count — map-side partials absorb
    the Zipf head); the 64-row model broadcasts back onto a RESCAN of the
    exploded stream (map-side join, no shuffle; the exploded frame is
    corpus×features scale and deliberately NOT cached — a rescan+map
    beats materializing it); the per-doc integer sum is the single
    corpus-scale shuffle, keyed on the uniform doc_id. ``counts`` is
    persisted (two consumers: totals + the model projection)."""
    d = load(spark, sf_dir, "documents")
    is_t = (
        md5_long(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string")))
        % DSIR_TARGET_MOD
        == 0
    ).cast("int")
    feats = (
        d.where(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
        .select(
            "doc_id",
            F.explode(F.expr(_DSIR_FEATS_OVER_T)).alias("feat"),
        )
        .select(
            "doc_id",
            F.pmod(md5_long(F.col("feat")), F.lit(DSIR_BUCKETS)).alias("bucket"),
        )
        .withColumn("is_t", is_t)
    )
    counts = (
        feats.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("c_r"),
            F.sum("is_t").alias("c_t"),
        )
        .persist()
    )
    tot = counts.agg(
        F.sum("c_r").alias("tr"), F.sum("c_t").alias("tt")
    )
    model = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.expr(
            f"CAST(round((ln((c_t + 1.0D) / (tt + {DSIR_BUCKETS})) - "
            f"ln((c_r + 1.0D) / (tr + {DSIR_BUCKETS}))) * 1000000) AS BIGINT)"
        ).alias("lam"),
    )
    return (
        feats.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.max("is_t").alias("is_target"),
            F.sum("lam").alias("logw_micro"),
        )
    )


SQL_DOCS_DSIR_WEIGHTS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL
),
feats AS (
  SELECT doc_id,
         CAST({sql_md5_long("feat")} % {DSIR_BUCKETS} AS BIGINT) AS bucket,
         CASE WHEN {sql_md5_long("'dsir:' || CAST(doc_id AS VARCHAR)")}
                   % {DSIR_TARGET_MOD} = 0
              THEN 1 ELSE 0 END AS is_t
  FROM (
    SELECT doc_id,
           unnest(list_concat(
             t, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
           )) AS feat
    FROM toks
  )
),
counts AS MATERIALIZED (
  SELECT bucket, COUNT(*) AS c_r, SUM(is_t) AS c_t FROM feats GROUP BY bucket
),
tot AS MATERIALIZED (
  SELECT CAST(SUM(c_r) AS BIGINT) AS tr, CAST(SUM(c_t) AS BIGINT) AS tt
  FROM counts
),
model AS MATERIALIZED (
  SELECT bucket,
         CAST(round((ln((c_t + 1.0) / (tt + {DSIR_BUCKETS})) -
                     ln((c_r + 1.0) / (tr + {DSIR_BUCKETS}))) * 1000000)
              AS BIGINT) AS lam
  FROM counts, tot
)
SELECT f.doc_id,
       COUNT(*) AS n_feats,
       CAST(MAX(f.is_t) AS INT) AS is_target,
       CAST(SUM(m.lam) AS BIGINT) AS logw_micro
FROM feats f JOIN model m USING (bucket)
GROUP BY f.doc_id
"""


def q_docs_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR RESAMPLING — the step the importance weights exist for: keep
    each doc with probability proportional to its importance weight
    (normalized by the corpus max, so the heaviest doc keeps with p≈1),
    via the deterministic no-RNG md5 gate the sampling family uses.

    The acceptance test runs ENTIRELY on the integer micro grid: keep iff
    round(ln(u)·1e6) < logw_micro − max(logw_micro), where u ∈ (0,1] is
    the doc's md5 fraction — equivalent to u < exp(Δ) = w/w_max (an exact
    Bernoulli(w/w_max) draw) but compared in LOG space so the one ln per
    doc is quantized before any comparison and no exp() double ever meets
    an inequality (the docs_unigram_logppl cross-engine contract).

    Scale shape: the weights plan (two corpus shuffles) + a 1-row MAX
    broadcast + a map-side filter. Deterministic across engines, runs,
    partitionings."""
    # persist: the weights frame feeds BOTH the MAX aggregate and the
    # filtered output (the _shuffle_rank rule — the function creating the
    # double consumption owns the persist)
    w = q_docs_dsir_weights(spark, sf_dir).persist()
    mx = w.agg(F.max("logw_micro").alias("mx"))
    u = (
        (
            md5_long(F.concat(F.lit("dw:"), F.col("doc_id").cast("string")))
            % 1000000
            + 1
        ).cast("double")
        / 1000000.0
    )
    lhs = F.expr(
        "CAST(round(ln(CAST(u AS DOUBLE)) * 1000000) AS BIGINT)"
    )
    return (
        w.crossJoin(F.broadcast(mx))
        .withColumn("u", u)
        .where(lhs < F.col("logw_micro") - F.col("mx"))
        .select("doc_id", "n_feats", "is_target", "logw_micro")
    )


SQL_DOCS_DSIR_SAMPLE = f"""
WITH w AS MATERIALIZED ({SQL_DOCS_DSIR_WEIGHTS}),
mx AS (SELECT MAX(logw_micro) AS mx FROM w)
SELECT doc_id, n_feats, is_target, logw_micro
FROM w, mx
WHERE CAST(round(ln(CAST(({sql_md5_long("'dw:' || CAST(doc_id AS VARCHAR)")}
                          % 1000000 + 1) AS DOUBLE) / 1000000.0) * 1000000)
           AS BIGINT)
      < logw_micro - mx
"""


# ---------------------------------------------------------------------------
def q_lineitem_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of l_extendedprice per
    returnflag (Spark `percentile` == DuckDB `quantile_cont` semantics)."""
    li = load(spark, sf_dir, "lineitem")
    pct = F.expr(
        "percentile(cast(l_extendedprice as double), array("
        + ", ".join(str(q) for q in QUANTILES)
        + "))"
    )
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        *[
            F.round(F.element_at(pct, i + 1), 6).alias(f"p{int(q * 100)}")
            for i, q in enumerate(QUANTILES)
        ],
    )


SQL_LINEITEM_QUANTILES = f"""
SELECT l_returnflag, COUNT(*) AS n,
       {", ".join(
           f"round(quantile_cont(CAST(l_extendedprice AS DOUBLE), {q}), 6) AS p{int(q * 100)}"
           for q in QUANTILES
       )}
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# per-source robust length-outlier gate (Tukey fences): the curation rule
# "drop docs absurdly short/long FOR THEIR SOURCE" — absolute thresholds
# misfire across heterogeneous sources (a tweet corpus vs a book corpus).
# ---------------------------------------------------------------------------
IQR_K = 1.5  # Tukey's fence multiplier


def q_docs_length_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: its source's Tukey fences over n_chars and whether the doc
    falls outside them. Cross-engine exactness without a micro grid: the
    0.25/0.75 interpolation fractions are DYADIC (quarters), n_chars are
    integers, and 1.5·IQR is a dyadic multiple — every fence arithmetic
    step is exact in binary doubles, so the comparisons (and the reported
    fences) are bit-identical between Spark `percentile` and DuckDB
    `quantile_cont`. Scale shape: one |sources|-row percentile aggregate
    (map-side partial percentile state), fences broadcast back onto the
    corpus scan — map-only gate, one tiny shuffle total."""
    d = load(spark, sf_dir, "documents")
    base = d.where(
        F.col("doc_id").isNotNull() & F.col("n_chars").isNotNull()
    ).select("doc_id", "source", "n_chars")
    fences = base.groupBy("source").agg(
        F.expr("percentile(cast(n_chars as double), 0.25)").alias("q1"),
        F.expr("percentile(cast(n_chars as double), 0.75)").alias("q3"),
    ).select(
        "source",
        (F.col("q1") - IQR_K * (F.col("q3") - F.col("q1"))).alias("lo_fence"),
        (F.col("q3") + IQR_K * (F.col("q3") - F.col("q1"))).alias("hi_fence"),
    )
    return base.join(F.broadcast(fences), "source").select(
        "doc_id",
        "source",
        "n_chars",
        "lo_fence",
        "hi_fence",
        (
            (F.col("n_chars") < F.col("lo_fence"))
            | (F.col("n_chars") > F.col("hi_fence"))
        )
        .cast("int")
        .alias("is_outlier"),
    )


SQL_DOCS_LENGTH_OUTLIER = f"""
WITH base AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
),
fences AS (
  SELECT source,
         q1 - {IQR_K} * (q3 - q1) AS lo_fence,
         q3 + {IQR_K} * (q3 - q1) AS hi_fence
  FROM (
    SELECT source,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS q1,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS q3
    FROM base GROUP BY source
  )
)
SELECT b.doc_id, b.source, b.n_chars, f.lo_fence, f.hi_fence,
       CASE WHEN b.n_chars < f.lo_fence OR b.n_chars > f.hi_fence
            THEN 1 ELSE 0 END AS is_outlier
FROM base b JOIN fences f USING (source)
"""


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------
def q_docs_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1/{SAMPLE_MOD} sample per source stratum, gated on a content-free
    deterministic hash (md5 of 'stratum:doc_id') — reproducible across
    engines, runs, and input orderings, unlike RNG-based sample()."""
    d = load(spark, sf_dir, "documents")
    gate = md5_long(F.concat("source", F.lit(":"), F.col("doc_id").cast("string")))
    return d.where(gate % SAMPLE_MOD == 0).select("doc_id", "source", "lang")


SQL_DOCS_SAMPLE = f"""
SELECT doc_id, source, lang FROM documents
WHERE {sql_md5_long("source || ':' || CAST(doc_id AS VARCHAR)")} % {SAMPLE_MOD} = 0
"""


def q_docs_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED Bernoulli sampling — the training-mix shape
    (upweight long/high-quality docs) with the same no-RNG contract as
    ``docs_sample``: each doc keeps with probability w(doc) by comparing a
    content-free md5 fraction against the weight. Reproducible across
    engines, runs, partitionings, and scan orders; map-only at any N. Here
    w = min(n_chars/1000, 1) — swap in a quality score without touching
    the plumbing."""
    d = load(spark, sf_dir, "documents")
    w = F.least(F.col("n_chars").cast("double") / 1000.0, F.lit(1.0))
    frac = (
        md5_long(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))) % 1000000
    ).cast("double") / 1000000.0
    return d.where(frac < w).select(
        "doc_id", "source", F.round(w, 6).alias("weight")
    )


SQL_DOCS_SAMPLE_WEIGHTED = f"""
SELECT doc_id, source,
       round(least(CAST(n_chars AS DOUBLE) / 1000.0, 1.0), 6) AS weight
FROM documents
WHERE CAST({sql_md5_long("'ws:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS DOUBLE)
        / 1000000.0
      < least(CAST(n_chars AS DOUBLE) / 1000.0, 1.0)
"""


# ---------------------------------------------------------------------------
# balanced (water-filling) stratified sample: an exact total budget B,
# spread as evenly across source strata as their sizes allow — small
# strata contribute everything they have, the freed budget redistributes
# among the rest (the "balance sources" rebalancing op; Bernoulli gates
# cannot hit exact quotas).
# ---------------------------------------------------------------------------
BALANCED_BUDGET_DEN = 4  # B = N div 4 — scales with the corpus
BALANCED_BUCKET_BITS = 8  # two-level rank fan-out (see _stratified_rank)


def q_docs_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly B = N div {BALANCED_BUDGET_DEN} docs, allocated across
    source strata by integer water-filling: sort strata by size; stratum
    i (sizes ascending, cum = sizes 1..i, K strata) is taken IN FULL iff
    n_i·(K−i+1) ≤ B − cum_{i−1} (even giving every remaining stratum n_i
    still fits — the flags are a prefix of the sorted order); the
    remaining budget R spreads over the K−i* non-full strata as
    level = R div (K−i*) each, with the R mod (K−i*) leftovers going to
    the first strata in source-name order. All allocation math is
    integer, so quotas are exact and cross-engine identical. Within a
    stratum, the kept docs are the quota-first in the content-free
    deterministic hash order (md5('bs:'||source||':'||doc_id), doc_id) —
    reproducible across engines, runs, and partitionings.

    Scale shape: the allocation runs on the |sources|-row counts frame
    (window functions over K rows — driver-trivial); the per-stratum
    rank is the TWO-LEVEL bucketed ranking (`_stratified_rank` — the
    `_shuffle_rank` pattern partitioned by stratum), so no partition
    ever holds more than ~n_s/2^bits rows and a 10¹²-doc stratum never
    meets a single-reducer sort; quotas broadcast-join onto the ranked
    frame (K rows)."""
    d = load(spark, sf_dir, "documents")
    base = d.where(F.col("doc_id").isNotNull()).select("doc_id", "source")
    counts = base.groupBy("source").agg(F.count(F.lit(1)).alias("n_s")).persist()
    tot = counts.agg(
        F.expr(f"sum(n_s) div {BALANCED_BUDGET_DEN}").alias("b"),
        F.count(F.lit(1)).alias("k"),
    )
    w_srt = Window.orderBy(F.asc("n_s"), F.asc("source"))
    srt = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_s",
        "b",
        "k",
        F.row_number().over(w_srt).alias("i"),
        F.sum("n_s").over(w_srt.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    flg = srt.withColumn(
        "full",
        (F.col("n_s") * (F.col("k") - F.col("i") + 1) <= F.col("b") - (F.col("cum") - F.col("n_s"))).cast("int"),
    ).persist()
    cfg = flg.agg(
        F.max("b").alias("b"),
        F.max("k").alias("k"),
        F.sum("full").alias("istar"),
        F.coalesce(F.sum(F.when(F.col("full") == 1, F.col("n_s"))), F.lit(0)).alias(
            "cumstar"
        ),
    ).select(
        "istar",
        F.when(F.col("istar") == F.col("k"), F.lit(0))
        .otherwise(F.expr("(b - cumstar) div (k - istar)"))
        .alias("level"),
        F.when(F.col("istar") == F.col("k"), F.lit(0))
        .otherwise(F.expr("(b - cumstar) % (k - istar)"))
        .alias("extras"),
    )
    w_extra = Window.partitionBy("full").orderBy(F.asc("source"))
    quota = (
        flg.crossJoin(F.broadcast(cfg))
        .select(
            "source",
            F.when(F.col("full") == 1, F.col("n_s"))
            .otherwise(
                F.col("level")
                + (F.row_number().over(w_extra) <= F.col("extras")).cast("int")
            )
            .cast("long")
            .alias("quota"),
        )
    )
    ranked = _stratified_rank(base, "source", BALANCED_BUCKET_BITS)
    return (
        ranked.join(F.broadcast(quota), "source")
        .where(F.col("strat_rank") <= F.col("quota"))
        .select("doc_id", "source", "strat_rank")
    )


def _stratified_rank(base: DataFrame, strata_col: str, bucket_bits: int) -> DataFrame:
    """Per-stratum deterministic hash rank (1-based), two-level like
    `_shuffle_rank`: bucket on the hash's top bits, rank within
    (stratum, bucket), add per-stratum broadcast bucket offsets — the
    (stratum × 2^bits)-row offsets frame is the only non-local state, so
    a giant stratum never meets a single-reducer sort. Persists its
    hashed frame itself (offsets agg + rank join both consume it)."""
    h = md5_long(
        F.concat(
            F.lit("bs:"), F.col(strata_col), F.lit(":"), F.col("doc_id").cast("string")
        )
    )
    hashed = (
        base.withColumn("h", h)
        .withColumn("bkt", F.shiftright("h", 60 - bucket_bits))
        .persist()
    )
    bcounts = hashed.groupBy(strata_col, "bkt").agg(F.count(F.lit(1)).alias("n_b"))
    woff = Window.partitionBy(strata_col).orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bcounts.select(
        strata_col, "bkt", F.coalesce(F.sum("n_b").over(woff), F.lit(0)).alias("off")
    )
    wrk = Window.partitionBy(strata_col, "bkt").orderBy("h", "doc_id")
    return hashed.join(F.broadcast(offsets), [strata_col, "bkt"]).select(
        "doc_id",
        strata_col,
        (F.col("off") + F.row_number().over(wrk)).alias("strat_rank"),
    )


SQL_DOCS_BALANCED_SAMPLE = f"""
WITH base AS (
  SELECT doc_id, source FROM documents WHERE doc_id IS NOT NULL
),
counts AS MATERIALIZED (
  SELECT source, COUNT(*) AS n_s FROM base GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_s) // {BALANCED_BUDGET_DEN} AS BIGINT) AS b,
         COUNT(*) AS k
  FROM counts
),
flg AS MATERIALIZED (
  SELECT source, n_s, b, k,
         CASE WHEN n_s * (k - i + 1) <= b - (cum - n_s) THEN 1 ELSE 0 END AS is_full
  FROM (
    SELECT source, n_s, b, k,
           ROW_NUMBER() OVER (ORDER BY n_s ASC, source ASC) AS i,
           SUM(n_s) OVER (ORDER BY n_s ASC, source ASC) AS cum
    FROM counts CROSS JOIN tot
  )
),
cfg AS MATERIALIZED (
  SELECT istar,
         CASE WHEN istar = k THEN 0 ELSE (b - cumstar) // (k - istar) END AS level,
         CASE WHEN istar = k THEN 0 ELSE (b - cumstar) % (k - istar) END AS extras
  FROM (
    SELECT MAX(b) AS b, MAX(k) AS k, SUM(is_full) AS istar,
           COALESCE(SUM(CASE WHEN is_full = 1 THEN n_s END), 0) AS cumstar
    FROM flg
  )
),
quota AS (
  SELECT f.source,
         CAST(CASE WHEN f.is_full = 1 THEN f.n_s
              ELSE c.level + CASE WHEN ROW_NUMBER() OVER (
                       PARTITION BY f.is_full ORDER BY f.source ASC) <= c.extras
                   THEN 1 ELSE 0 END
         END AS BIGINT) AS quota
  FROM flg f CROSS JOIN cfg c
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {sql_md5_long("'bs:' || source || ':' || CAST(doc_id AS VARCHAR)")},
                    doc_id) AS strat_rank
  FROM base
)
SELECT r.doc_id, r.source, r.strat_rank
FROM ranked r JOIN quota q USING (source)
WHERE r.strat_rank <= q.quota
"""


# temperature-flattened source mixing (the multilingual-LM alpha-sampling
# scheme): target mix share of source s ∝ share_s^alpha — alpha < 1
# upweights low-resource sources relative to their natural share
MIX_TEMPERATURE = 0.7
MIX_TARGET_FRAC = 0.5  # keep ~this fraction of the corpus overall


def q_docs_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic temperature sampling across sources. Per source s
    with natural share p_s = n_s/N: target share q_s = p_s^α / Σ p^α, so
    the per-doc keep rate is r_s = min(1, t·q_s·N/n_s). The keep decision
    is a content-free md5 Bernoulli gate compared against r_s scaled to
    integer MICRO-units (round(r_s·10⁶) — an integer comparison on both
    engines, so a last-ulp double difference cannot flip a doc across the
    gate). Plan shape: one tiny per-source aggregate (|sources| rows),
    its Σ p^α / N totals broadcast back, then a map-only gate over the
    corpus — no corpus-scale shuffle at any N."""
    d = load(spark, sf_dir, "documents")
    # counts feeds BOTH the totals aggregate and the rates projection —
    # persist the |sources|-row frame or the corpus-scale scan under it
    # runs twice
    counts = d.groupBy("source").agg(F.count("*").alias("n_s")).persist()
    tot = counts.agg(
        F.sum("n_s").alias("n"),
        F.sum(F.pow(F.col("n_s").cast("double"), F.lit(MIX_TEMPERATURE))).alias(
            "wsum_raw"
        ),
    )
    # w_s computed as n_s^α (NOT (n_s/N)^α): dividing by N^α cancels in
    # q_s = w_s / Σw — fewer double ops, fewer ulp hazards, same math.
    # ACCEPTED ulp risk: keep_rate itself is a pow()-derived double, so
    # JVM Math.pow vs DuckDB libm could in principle differ by 1 ulp; the
    # micro-unit rounding would then have to land EXACTLY on a .5
    # boundary AND a doc's md5 gate exactly on the threshold value for a
    # verdict to flip — pow is correctly-rounded on glibc for these
    # ranges and no driver corpus has ever produced a boundary hit. A
    # fully-exact alternative (rational arithmetic on the integer counts)
    # does not exist for irrational exponents α, so the residual risk is
    # documented rather than hidden behind a false-precision rewrite.
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_s",
            F.least(
                F.lit(1.0),
                F.lit(MIX_TARGET_FRAC)
                * (
                    F.pow(F.col("n_s").cast("double"), F.lit(MIX_TEMPERATURE))
                    / F.col("wsum_raw")
                )
                * F.col("n").cast("double")
                / F.col("n_s").cast("double"),
            ).alias("keep_rate"),
        )
        .withColumn(
            "thresh", F.round(F.col("keep_rate") * 1e6, 0).cast("long")
        )
    )
    gate = md5_long(
        F.concat(F.lit("mt:"), F.col("doc_id").cast("string"))
    ) % 1_000_000
    return (
        d.join(F.broadcast(rates), "source")
        .where(gate < F.col("thresh"))
        .select("doc_id", "source", F.round("keep_rate", 6).alias("keep_rate"))
    )


SQL_DOCS_MIX_TEMPERATURE = f"""
WITH c AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
t AS (
  SELECT SUM(n_s) AS n,
         SUM(pow(CAST(n_s AS DOUBLE), {MIX_TEMPERATURE})) AS wsum_raw
  FROM c
),
rates AS (
  SELECT source,
         least(1.0,
               {MIX_TARGET_FRAC}
               * (pow(CAST(n_s AS DOUBLE), {MIX_TEMPERATURE}) / wsum_raw)
               * CAST(n AS DOUBLE) / CAST(n_s AS DOUBLE)) AS keep_rate
  FROM c, t
)
SELECT d.doc_id, d.source, round(r.keep_rate, 6) AS keep_rate
FROM documents d JOIN rates r ON d.source = r.source
WHERE {sql_md5_long("'mt:' || CAST(doc_id AS VARCHAR)")} % 1000000
      < CAST(round(r.keep_rate * 1000000, 0) AS BIGINT)
"""


# per-domain document cap (crawl-curation shape: no single domain may
# contribute more than K docs to the training mix)
DOMAIN_CAP = 20
DOMAIN_CAP_SALTS = 16


def q_docs_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep at most ``DOMAIN_CAP`` docs per source/domain, preferring the
    longest (n_chars DESC, doc_id ASC — a deterministic total order).
    The naive shape is one row_number window per domain — a hot domain
    (10⁸ pages of one site in a crawl) then serializes into a single
    reducer sort. Scale shape: SALTED TWO-LEVEL top-K. Level 1 windows
    on (source, md5-salt) — 16 uniform shards per domain, each sorting
    only its shard — and keeps its local top K; level 2 re-ranks the
    ≤ K·16 survivors per domain, a frame bounded by cap×salts whatever
    the domain's raw size. Same algebra as the salted aggregation
    (``events_salted_agg``), applied to order statistics: local top-K
    per shard is a superset of the global top-K's members in that shard,
    so no qualifying doc is lost. Oracle: the naive single window in
    DuckDB — two plans, one answer.

    NULL-id docs are EXCLUDED in both engines (the ``docs_shuffle_order``
    contract): the tie-break ``doc_id ASC`` sorts NULLs FIRST in Spark
    but LAST in DuckDB, so a NULL-id doc tying on n_chars would rank
    engine-differently — and a doc a manifest cannot address cannot be
    kept by a curation cap anyway."""
    d = load(spark, sf_dir, "documents")
    return _domain_cap_frame(
        d.select("doc_id", "source", "n_chars").where(
            F.col("doc_id").isNotNull()
        )
    )


def _domain_cap_frame(base: DataFrame) -> DataFrame:
    """The salted two-level per-domain top-K over ANY (doc_id, source,
    n_chars) frame — shared by the standalone operator and the curation
    manifest (which caps the quality+dedup SURVIVOR set)."""
    salt = (
        md5_long(F.concat(F.lit("dc:"), F.col("doc_id").cast("string")))
        % DOMAIN_CAP_SALTS
    ).alias("salt")
    base = base.select("doc_id", "source", "n_chars", salt)
    w1 = Window.partitionBy("source", "salt").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    survivors = base.withColumn("r1", F.row_number().over(w1)).where(
        F.col("r1") <= DOMAIN_CAP
    )
    w2 = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        survivors.withColumn("domain_rank", F.row_number().over(w2))
        .where(F.col("domain_rank") <= DOMAIN_CAP)
        .select("doc_id", "source", "n_chars", "domain_rank")
    )


SQL_DOCS_DOMAIN_CAP = f"""
SELECT doc_id, source, n_chars, domain_rank FROM (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS domain_rank
  FROM documents WHERE doc_id IS NOT NULL
) WHERE domain_rank <= {DOMAIN_CAP}
"""


# deterministic global training-shuffle order
# ---------------------------------------------------------------------------
# z-order (Morton) data layout: the multi-dimensional clustering key that
# makes min/max file skipping work for MORE THAN ONE predicate column at
# once (the Delta/Iceberg OPTIMIZE ZORDER analogue). A 1-D sort gives one
# column tight per-file ranges and leaves every other column's range as
# wide as the table; interleaving the bits of two dimensions bounds BOTH.
# ---------------------------------------------------------------------------
ZORDER_BITS = 16  # bits per dimension → 32-bit Morton key
ZORDER_FILE_SHIFT = 26  # zkey >> shift → 2^(32-26) = 64 file buckets

# Morton interleave of two ZORDER_BITS-bit ints a (odd positions) and b
# (even positions) — a pure integer fold, bit-identical in both engines
_Z_INTERLEAVE = (
    f"aggregate(sequence(0, {ZORDER_BITS - 1}), 0L, (acc, i) -> "
    "acc + shiftleft((a >> i) & 1, 2 * i + 1)"
    " + shiftleft((b >> i) & 1, 2 * i))"
)


def _zorder_dims():
    """The two clustered dimensions: a 16-bit hash of the source domain
    (the equality-predicate column) and the doc length clamped to 16 bits
    (the range-predicate column). Production swaps any two predicate
    columns into the same plumbing."""
    a = (md5_long(F.coalesce(F.col("source"), F.lit(""))) % (1 << ZORDER_BITS)).alias(
        "a"
    )
    b = F.least(
        F.greatest(F.coalesce(F.col("n_chars"), F.lit(0)), F.lit(0)),
        F.lit((1 << ZORDER_BITS) - 1),
    ).alias("b")
    return a, b


def q_docs_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc z-order assignment: (doc_id, zkey, file_bucket) — the
    layout a compaction job would repartitionByRange on before writing,
    so that BOTH a source-equality predicate AND an n_chars-range
    predicate prune most file buckets via min/max stats. Map-only: two
    projected dimensions, one integer bit-interleave fold, a shift — no
    shuffle at any N (the WRITE pays one range exchange when it
    materializes the layout; this operator is the key computation the
    driver gate can verify exactly)."""
    d = load(spark, sf_dir, "documents")
    a, b = _zorder_dims()
    return (
        d.where(F.col("doc_id").isNotNull())
        .select("doc_id", a, b)
        .select(
            "doc_id",
            F.expr(_Z_INTERLEAVE).alias("zkey"),
        )
        .select(
            "doc_id",
            "zkey",
            F.shiftright("zkey", ZORDER_FILE_SHIFT).cast("int").alias("file_bucket"),
        )
    )


def q_docs_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pruning-stats table a reader skips files with: per file bucket,
    row count and min/max of BOTH clustered dimensions — the z-order
    property is that these ranges are tight in both dims simultaneously
    (a 1-D layout bounds one and leaves the other table-wide; the pytest
    asserts the 2-D widths quantitatively). One 64-ary hash aggregate
    with map-side partials — the stats cost of a 10¹²-doc layout is one
    corpus scan."""
    d = load(spark, sf_dir, "documents")
    a, b = _zorder_dims()
    keyed = (
        d.where(F.col("doc_id").isNotNull())
        .select("doc_id", a, b)
        .select(
            "a",
            "b",
            F.shiftright(F.expr(_Z_INTERLEAVE), ZORDER_FILE_SHIFT)
            .cast("int")
            .alias("file_bucket"),
        )
    )
    return keyed.groupBy("file_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("a").alias("min_src"),
        F.max("a").alias("max_src"),
        F.min("b").alias("min_len"),
        F.max("b").alias("max_len"),
    )


def _sql_zorder_keyed() -> str:
    z = (
        f"list_sum(list_transform(range(0, {ZORDER_BITS}), i -> "
        "((a >> i) & 1) * (1::BIGINT << (2 * i + 1))"
        " + ((b >> i) & 1) * (1::BIGINT << (2 * i))))"
    )
    return f"""
  SELECT doc_id, a, b, CAST({z} AS BIGINT) AS zkey
  FROM (
    SELECT doc_id,
           {sql_md5_long("coalesce(source, '')")} % {1 << ZORDER_BITS} AS a,
           least(greatest(coalesce(n_chars, 0), 0), {(1 << ZORDER_BITS) - 1}) AS b
    FROM documents WHERE doc_id IS NOT NULL
  )
"""


SQL_DOCS_ZORDER_LAYOUT = f"""
SELECT doc_id, zkey,
       CAST(zkey >> {ZORDER_FILE_SHIFT} AS INTEGER) AS file_bucket
FROM ({_sql_zorder_keyed()})
"""

SQL_DOCS_ZORDER_STATS = f"""
SELECT CAST(zkey >> {ZORDER_FILE_SHIFT} AS INTEGER) AS file_bucket,
       COUNT(*) AS n_docs,
       CAST(MIN(a) AS BIGINT) AS min_src, CAST(MAX(a) AS BIGINT) AS max_src,
       CAST(MIN(b) AS BIGINT) AS min_len, CAST(MAX(b) AS BIGINT) AS max_len
FROM ({_sql_zorder_keyed()})
GROUP BY 1
"""


SHUFFLE_EPOCH_SEED = 1
SHUFFLE_BUCKET_BITS = 8  # top-8-bits of the 60-bit hash → 256 buckets


def q_docs_shuffle_order(
    spark: SparkSession, sf_dir: str, bucket_bits: int = SHUFFLE_BUCKET_BITS
) -> DataFrame:
    """Assign every doc its position in a deterministic GLOBAL training
    shuffle (epoch reshuffles = change the seed). The order is
    (md5(seed:doc), doc_id); a naive global row_number would be one
    single-reducer sort over the corpus, so the scale shape is two-level
    distributed ranking: the hash's top ``bucket_bits`` bits form 2^bits
    ORDERED buckets (a prefix of the sort key, so bucket-concatenation
    IS the global order), a 2^bits-row count aggregate yields broadcast
    cumulative offsets, and each bucket ranks independently with a
    per-bucket window — position = offset(bucket) + in-bucket rank.
    Every shuffle is keyed on the uniform hash; no partition ever holds
    more than ~N/2^bits rows. POSITIONS ARE INDEPENDENT OF
    ``bucket_bits`` (the bucket is a key prefix), so the knob is pure
    plan shape: the registry pins 8 for the small driver corpora; size
    production as bits ≈ log2(N / target_rows_per_sort) — 20 bits keeps
    10^12 docs near 10^6 rows per bucket sort (pytest asserts bit-equal
    output across bits 4/8/12). Oracle: the plain global ROW_NUMBER in
    DuckDB — two plan shapes, one order.

    NULL-id docs are EXCLUDED in both engines: their hash is NULL, so
    they have no well-defined place in the total order ((h, doc_id)
    collapses to (NULL, NULL) for every such row — any rank assignment
    would be engine-arbitrary), and a doc a manifest cannot address has
    no training-order position anyway."""
    d = load(spark, sf_dir, "documents")
    return _shuffle_rank(d.select("doc_id"), bucket_bits)


def _shuffle_rank(base: DataFrame, bucket_bits: int) -> DataFrame:
    """Two-level distributed shuffle ranking over ANY frame carrying
    ``doc_id`` (extra columns ride along) — shared by the standalone
    operator and the curation manifest. NULL-id rows are excluded (see
    q_docs_shuffle_order's contract)."""
    carry = [c for c in base.columns if c != "doc_id"]
    h = md5_long(
        F.concat(F.lit(f"sh{SHUFFLE_EPOCH_SEED}:"), F.col("doc_id").cast("string"))
    )
    # TWO consumers of the hashed frame (the bucket-count offsets agg and
    # the rank join): persist HERE, in the function that creates the
    # double consumption, so every caller's upstream chain — a raw scan
    # for the standalone operator, the gate→dedup→cap windows for the
    # manifest — executes exactly once (the r5/r6 multi-consumer lesson;
    # sweeps clearCache between operators)
    base = (
        base.where(F.col("doc_id").isNotNull())
        .withColumn("h", h)
        .withColumn("bkt", F.shiftright("h", 60 - bucket_bits))
        .persist()
    )
    counts = base.groupBy("bkt").agg(F.count("*").alias("n_b"))
    woff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bkt", F.coalesce(F.sum("n_b").over(woff), F.lit(0)).alias("offset")
    )
    wrk = Window.partitionBy("bkt").orderBy("h", "doc_id")
    return (
        base.join(F.broadcast(offsets), "bkt")
        .select(
            "doc_id",
            *carry,
            (F.col("offset") + F.row_number().over(wrk) - 1).alias("shuffle_pos"),
        )
    )


SQL_DOCS_SHUFFLE_ORDER = f"""
SELECT doc_id,
       ROW_NUMBER() OVER (
         ORDER BY {sql_md5_long(f"'sh{SHUFFLE_EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)")},
                  doc_id) - 1 AS shuffle_pos
FROM documents WHERE doc_id IS NOT NULL
"""


# ---------------------------------------------------------------------------
# end-to-end curation manifest: quality gate → dedup canonical → domain cap
# → epoch-shuffle order, as ONE composed query
# ---------------------------------------------------------------------------
def q_docs_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE training manifest: the sequential curation DAG a data run
    actually executes, composed from the registered operators —

      1. Gopher quality gate (``text_gopher_rules``): keep gopher_pass
         docs with addressable (non-NULL) ids;
      2. exact dedup AMONG THE GATE SURVIVORS (the
         ``_dedup_canonical_frame`` window spec applied IN-LINE on the
         gated frame so it can carry source/n_chars — true sequential
         semantics: each dup group's canonical is the longest doc that
         PASSED the gate, so a group whose corpus-wide longest member
         fails quality still contributes its best passing member);
      3. per-domain cap over the deduped survivors (a domain's cap
         counts quality-passing canonical docs, so capped domains still
         contribute K usable docs);
      4. deterministic epoch-shuffle position over the final keep set —
         a dense 0..M-1 training order.

    Every stage is hash-deterministic (no RNG) and each reuses the exact
    component LOGIC (the shared gopher gate expression, the salted
    two-level cap, the two-level shuffle ranking), so the composition
    inherits their scale shapes. Stage 1 applies ``gopher_pass_col()``
    in-line on the manifest's OWN scan — a map-only filter; joining the
    audit query's output back to the corpus would pay a corpus⋈corpus
    shuffle on doc_id just to apply a per-doc predicate. One corpus scan
    + survivor-set windows; no corpus-scale single-reducer anything. The
    oracle chains the SAME four stages as DuckDB derived tables — one
    statement, the whole pipeline."""
    from pdfplucker_spark.operators.textstats import gopher_pass_col

    d = load(spark, sf_dir, "documents")
    gated = d.select("doc_id", "text", "source", "n_chars").where(
        F.col("doc_id").isNotNull() & gopher_pass_col()
    )
    # stage 2 in-line: the SAME window spec as _dedup_canonical_frame
    # (incl. the asc_nulls_last tie-break — gated already excludes NULL
    # ids, but the two copies of the spec must not drift) CARRYING
    # source/n_chars, so the survivor set needs no join-back onto the
    # gated frame — the gated corpus shuffles exactly once (on the
    # uniform bag hash) and the whole manifest reads the corpus in a
    # single scan
    w = Window.partitionBy("bag_hash").orderBy(
        F.desc("n_chars"), F.asc_nulls_last("doc_id")
    )
    surv = (
        gated.withColumn("bag_hash", _bag_hash_key())
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "source", "n_chars")
    )
    # _shuffle_rank persists internally (it consumes its input twice),
    # so the gate → bag-hash window → domain-cap window chain executes
    # once and the corpus is genuinely read in a single scan
    capped = _domain_cap_frame(surv).select("doc_id", "source", "n_chars")
    return _shuffle_rank(capped, SHUFFLE_BUCKET_BITS)


def _sql_docs_curation_manifest() -> str:
    # the component SQL texts nest as derived tables (DuckDB allows WITH
    # inside a subquery), so the oracle is literally the chained stages
    from pdfplucker_spark.operators.textstats import SQL_TEXT_GOPHER_RULES

    order_h = sql_md5_long(
        f"'sh{SHUFFLE_EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)"
    )
    canon_over_gated = _SQL_DEDUP_CANONICAL_TMPL.format(src="gated")
    return f"""
WITH gpass AS (
  SELECT doc_id FROM ({SQL_TEXT_GOPHER_RULES}) WHERE gopher_pass
),
gated AS (
  -- semi-join, not inner join: the Spark side applies the gopher gate as
  -- a pure FILTER, so a duplicated doc_id must not fan out rows here
  -- (r7 advice). The canon stage below still assumes doc_id uniqueness —
  -- the canonical window itself is only well-defined per distinct doc_id.
  SELECT d.doc_id, d.text, d.source, d.n_chars
  FROM documents d
  WHERE d.doc_id IS NOT NULL
    AND d.doc_id IN (SELECT doc_id FROM gpass)
),
canon AS (
  SELECT canonical_doc_id AS doc_id FROM ({canon_over_gated})
),
surv AS (
  SELECT doc_id, source, n_chars
  FROM gated JOIN canon USING (doc_id)
),
capped AS (
  SELECT doc_id, source, n_chars FROM (
    SELECT doc_id, source, n_chars,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id ASC) AS rnk
    FROM surv
  ) WHERE rnk <= {DOMAIN_CAP}
)
SELECT doc_id, source, n_chars,
       ROW_NUMBER() OVER (ORDER BY {order_h}, doc_id) - 1 AS shuffle_pos
FROM capped
"""


# ---------------------------------------------------------------------------
# canonical-document selection per near-dup group
# ---------------------------------------------------------------------------
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick ONE canonical doc per bag-of-tokens dup group (the keep-side of
    dedup): longest text wins, doc_id breaks ties. One window per group —
    the shuffle key is the group hash, uniform by construction."""
    d = load(spark, sf_dir, "documents")
    return _dedup_canonical_frame(d)


def _bag_hash_key():
    """THE bag-of-tokens group key (md5 of the sorted distinct token set)
    — one definition shared by the canonical operator and the manifest's
    in-line dedup window."""
    return F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
    )


def _dedup_canonical_frame(docs: DataFrame) -> DataFrame:
    """Canonical-per-bag-of-tokens-group over ANY (doc_id, text, n_chars)
    frame — the standalone operator runs it on the full corpus; the
    curation manifest applies the SAME window spec in-line (to carry
    source/n_chars through, dedup-ing AMONG quality-gate survivors — keep
    the two copies of the spec in sync). The doc_id tie-break is
    asc_nulls_last: Spark's
    plain ASC sorts NULLs FIRST while DuckDB's sorts them LAST, so a
    NULL-id doc tying a real doc on n_chars inside one bag group would
    pick engine-different canonicals (the docs_domain_cap divergence
    class); NULLS LAST matches the oracle's default and keeps NULL-id
    docs from ever shadowing an addressable canonical. Identical output
    on NULL-free corpora — the driver record is unaffected."""
    w = Window.partitionBy("bag_hash").orderBy(
        F.desc("n_chars"), F.asc_nulls_last("doc_id")
    )
    return (
        docs.select("doc_id", "n_chars", _bag_hash_key().alias("bag_hash"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "group_size", F.count("*").over(Window.partitionBy("bag_hash"))
        )
        .where(F.col("rn") == 1)
        .select(
            "bag_hash",
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("n_chars").alias("canonical_n_chars"),
            "group_size",
        )
    )


# authored WITH the {src} placeholder (not reverse-engineered by string
# replace — the q_regional_revenue_sql lesson): the standalone oracle
# formats src="documents", the manifest oracle formats its gated CTE
_SQL_DEDUP_CANONICAL_TMPL = """
SELECT bag_hash, canonical_doc_id, canonical_n_chars, group_size FROM (
  SELECT md5(coalesce(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '), '')) AS bag_hash,
         doc_id AS canonical_doc_id, n_chars AS canonical_n_chars,
         ROW_NUMBER() OVER (PARTITION BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))) AS group_size
  FROM {src}
) WHERE rn = 1
"""

SQL_DEDUP_CANONICAL = _SQL_DEDUP_CANONICAL_TMPL.format(src="documents")


# ---------------------------------------------------------------------------
# connected-component dup clusters (alternating large-star / small-star)
# ---------------------------------------------------------------------------
def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): for every node u with neighborhood N(u), let
    m = min(N(u) ∪ {u}); re-point every STRICTLY LARGER neighbor v > u at
    m. One symmetrized-edges⋈per-node-min join; output edges are always
    (larger, smaller), i.e. canonical form."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mn = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    # no trailing distinct: every caller pipes this straight into
    # _small_star, whose min-aggregate ignores duplicates and whose own
    # trailing distinct dedups the round's output — dropping it removes
    # one corpus-scale exchange per round (pre-distinct volume here is
    # O(E) regardless: each symmetrized edge emits at most one row)
    return (
        sym.join(mn, "src")
        .where(F.col("dst") > F.col("src"))
        .select(
            F.col("dst").alias("src"),
            F.least(F.col("mn"), F.col("src")).alias("dst"),
        )
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round over CANONICAL (src > dst) edges: for every
    node u, m = min of its smaller neighbors; re-point u and all its
    smaller neighbors at m. One edges⋈per-node-min join; output stays
    canonical (every emitted (v, m) has v ≥ m, self-pairs filtered)."""
    mn = edges.groupBy("src").agg(F.min("dst").alias("mn"))
    j = edges.join(mn, "src")
    return (
        j.select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .union(mn.select(F.col("src"), F.col("mn").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """The star-contraction fixpoint, tested exactly on a canonical edge
    set: every ``src`` has exactly one out-edge and no ``dst`` is also a
    ``src`` — each edge points a leaf straight at its star's root, which
    is its component minimum. One aggregate action: per node, its out- and
    in-degree; then the max out-degree and the count of nodes with both."""
    deg = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("node"), F.lit(1).alias("o")),
                    F.struct(F.col("dst").alias("node"), F.lit(0).alias("o")),
                )
            ).alias("e")
        )
        .groupBy("e.node")
        .agg(F.sum("e.o").alias("o"), F.count("*").alias("d"))
    )
    row = deg.agg(
        F.max("o").alias("max_out"),
        F.count(F.when((F.col("o") > 0) & (F.col("d") > F.col("o")), 1)).alias("mid"),
    ).collect()[0]
    # empty edge set (max is NULL): every node is its own star
    return (row["max_out"] or 0) <= 1 and row["mid"] == 0


def connected_components(
    nodes: DataFrame, pairs: DataFrame, max_iters: int = 25
) -> DataFrame:
    """Connected components via ALTERNATING large-star / small-star rounds
    (Kiveris et al. 2014) — the O(log n)-round star-contraction algorithm.
    Each round is two join+aggregate passes over the edge set; the loop
    stops at the algorithm's fixpoint, a star forest (every node points
    straight at its component minimum — ``_is_star_forest``), so labels
    read off with one final aggregate. This replaces the round-7 min-label
    propagation loop, which needed O(diameter) rounds: a chain-heavy
    web-graph dup component paid one distributed join PER HOP, while star
    contraction halves distances every round (the 24-chain test converges
    in ≤5 rounds; an input that already is a star forest in 0).

    Loop hygiene at cluster scale: every round LAZY-``localCheckpoint``s
    the new edge set — lineage truncates immediately (the star plans
    reference their input many times, so an untruncated loop plan grows
    exponentially in rounds) while materialization happens inside the
    star-forest test's job, so each round costs ONE action where the r9
    eager form paid a checkpoint job plus a test job. The test is exact
    (no hash), and its 1-row result is the only driver traffic.
    ``max_iters`` is a safety net that LOGS when hit (star contraction may
    then not have merged distant nodes — silence would misread as
    convergence). ``connected_components.last_rounds`` records the
    executed round count (test/diagnostic hook).

    Args: ``nodes`` — one column ``node``; ``pairs`` — columns
    ``(src, dst)``, one direction per undirected edge. Returns
    ``(node, label)``."""
    import logging

    edges, rounds, converged = _star_contract(pairs, max_iters)
    connected_components.last_rounds = rounds
    if not converged:
        logging.getLogger(__name__).warning(
            "connected_components: hit the %d-round safety cap before "
            "convergence — distant nodes of a component may not have "
            "merged yet",
            max_iters,
        )
    # star forest: every non-minimum node has its component min as its one
    # out-edge (min() tolerates a not-yet-converged cap-hit state, where a
    # node may still carry several out-edges); component minima and
    # isolated nodes have none → label = self
    lab = edges.groupBy("src").agg(F.min("dst").alias("lab"))
    return nodes.join(lab, nodes["node"] == lab["src"], "left").select(
        "node", F.coalesce("lab", F.col("node")).alias("label")
    )


def _star_contract(
    pairs: DataFrame, max_iters: int
) -> tuple[DataFrame, int, bool]:
    """The contraction loop of ``connected_components``: canonical edges of
    ``pairs`` → alternating large/small-star rounds until the edge set is a
    star forest or ``max_iters`` rounds ran. Returns (edges, rounds,
    converged)."""
    # canonical undirected edge set: (larger, smaller), no self-loops —
    # exactly the form small-star consumes and both stars emit
    edges = (
        pairs.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the test's action fills the lazy checkpoint: one job per round
    converged = _is_star_forest(edges)
    rounds = 0
    while not converged and rounds < max_iters:
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        rounds += 1
        converged = _is_star_forest(edges)
    return edges, rounds, converged


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from the n-gram pair graph: connected components
    (large-star/small-star contraction, see ``connected_components``). Dup
    clusters have tiny diameters (near-cliques), so convergence is 2-3
    rounds. The oracle is an independent formulation: DuckDB recursive-CTE
    transitive closure."""
    from pdfplucker_spark.operators.dedup import q_dedup_ngram_pairs

    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    pairs = q_dedup_ngram_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(docs, pairs)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


def _sql_dedup_clusters() -> str:
    from pdfplucker_spark.operators.dedup import SQL_DEDUP_NGRAM_PAIRS

    return f"""
WITH RECURSIVE pairs AS ({SQL_DEDUP_NGRAM_PAIRS}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
),
lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
"""


# ---------------------------------------------------------------------------
# the end-to-end dedup verdict: what the pipeline actually consumes
# ---------------------------------------------------------------------------
def q_docs_dedup_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's DELIVERABLE: one keep/drop verdict per document
    — near-dup clusters from the n-gram pair graph (connected components),
    one canonical winner per cluster (longest text, doc_id tie-break), every
    other member dropped. Composes the cluster operator + one window per
    cluster id (uniform key: the component min-label). A downstream
    training job anti-joins `keep = false` and is done."""
    clusters = q_dedup_clusters(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        clusters.join(d, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("rn") == 1).alias("keep"),
        )
    )


def _sql_docs_dedup_verdict() -> str:
    return f"""
WITH clus AS (SELECT * FROM ({_sql_dedup_clusters()}) c),
j AS (
  SELECT clus.doc_id, clus.cluster_id, clus.cluster_size, d.n_chars
  FROM clus JOIN documents d USING (doc_id)
)
SELECT doc_id, cluster_id, cluster_size, rn = 1 AS keep FROM (
  SELECT doc_id, cluster_id, cluster_size,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM j
)
"""


def q_docs_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup governance report: per source, how many docs the keep-list
    drops and the duplication rate — the number a data-quality dashboard
    publishes after each dedup run. Composes the verdict with one
    doc_id-keyed hash join against documents' compact (doc_id, source)
    projection (both sides corpus-scale but uniform on the join key; AQE
    picks the strategy) and one hash aggregation."""
    v = q_docs_dedup_verdict(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    dropped = F.sum(F.when(~F.col("keep"), 1).otherwise(0))
    return (
        v.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            dropped.alias("n_dropped"),
            F.round(dropped.cast("double") / F.count("*"), 6).alias("dup_rate"),
        )
    )


def _sql_docs_dedup_rate_report() -> str:
    return f"""
WITH verdict AS ({_sql_docs_dedup_verdict()})
SELECT d.source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN NOT v.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       round(CAST(SUM(CASE WHEN NOT v.keep THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*), 6) AS dup_rate
FROM verdict v JOIN documents d USING (doc_id)
GROUP BY d.source
"""


AGREEMENT_MICRO = 1_000_000


def q_docs_winnow_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third detector's cluster table: star-contraction components
    over the winnowing (MOSS) shared-fingerprint pair graph — completing
    the detector→cluster matrix (n-gram Jaccard via ``dedup_clusters``,
    SimHash via ``dedup_simhash_clusters``, winnowing here), so the
    agreement diff can be read at CLUSTER grain, not just pair grain.
    Same scale shape as the siblings: guarded pair generation, O(log n)
    star rounds, recursive-CTE oracle."""
    from pdfplucker_spark.operators.dedup import q_docs_winnow_pairs

    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    pairs = q_docs_winnow_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(docs, pairs)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


def _sql_docs_winnow_clusters() -> str:
    from pdfplucker_spark.operators.dedup import SQL_DOCS_WINNOW_PAIRS

    return f"""
WITH RECURSIVE pairs AS ({SQL_DOCS_WINNOW_PAIRS}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
),
lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
"""


def q_dedup_pairs_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-set AGREEMENT matrix across the three near-dup detectors —
    the governance table a curation team reviews when choosing the
    production detector: n-gram Jaccard (exact, threshold 0.35 on token
    trigrams), MinHash banding (verified token-set Jaccard ≥ 0.8), and
    SimHash Hamming ≤ 3. The detectors define DIFFERENT similarity
    spaces, so this is deliberately an overlap matrix, not a
    recall-vs-truth audit (that framing only exists inside one space —
    ``sim_ann_recall`` covers it for the ANN paths): one row per method
    pair with both set sizes, the intersection, and the pair-set Jaccard.

    Exactness: the overlap ratio is integer-grid division
    ((common·1e6) div union — the logppl quotient contract; a
    round(c/u, 6) would land on .xxxxxx5 midpoints where the engines'
    round modes split). Scale shape: each pair set is already
    banding/prefix-guarded upstream (bounded candidate volume by
    construction); each is persisted once (three consumers: its own
    count + two intersections); intersections join on the uniform
    canonical (doc_a, doc_b) key; every aggregate is a 1-row count and
    the result is exactly 3 rows."""
    from pdfplucker_spark.operators.dedup import (
        q_dedup_minhash_pairs,
        q_dedup_ngram_pairs,
        q_dedup_simhash_pairs,
    )

    sets = {
        "minhash": q_dedup_minhash_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .persist(),
        "ngram": q_dedup_ngram_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .persist(),
        "simhash": q_dedup_simhash_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .persist(),
    }
    out = None
    for ma, mb in (("minhash", "ngram"), ("minhash", "simhash"), ("ngram", "simhash")):
        a, b = sets[ma], sets[mb]
        row = (
            a.agg(F.count(F.lit(1)).alias("n_a"))
            .crossJoin(b.agg(F.count(F.lit(1)).alias("n_b")))
            .crossJoin(
                a.join(b, ["doc_a", "doc_b"]).agg(
                    F.count(F.lit(1)).alias("n_common")
                )
            )
            .select(
                F.lit(ma).alias("method_a"),
                F.lit(mb).alias("method_b"),
                "n_a",
                "n_b",
                "n_common",
                F.when(
                    F.col("n_a") + F.col("n_b") - F.col("n_common") > 0,
                    F.expr(
                        f"(n_common * {AGREEMENT_MICRO}) div "
                        "(n_a + n_b - n_common)"
                    ).cast("double")
                    / F.lit(float(AGREEMENT_MICRO)),
                )
                .otherwise(F.lit(1.0))
                .alias("overlap_jaccard"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _sql_dedup_pairs_agreement() -> str:
    from pdfplucker_spark.operators.dedup import (
        SQL_DEDUP_MINHASH_PAIRS,
        SQL_DEDUP_NGRAM_PAIRS,
        SQL_DEDUP_SIMHASH_PAIRS,
    )

    rows = []
    for ma, mb, ta, tb in (
        ("minhash", "ngram", "mh", "ng"),
        ("minhash", "simhash", "mh", "sh"),
        ("ngram", "simhash", "ng", "sh"),
    ):
        rows.append(f"""
SELECT '{ma}' AS method_a, '{mb}' AS method_b,
       (SELECT COUNT(*) FROM {ta}) AS n_a,
       (SELECT COUNT(*) FROM {tb}) AS n_b,
       (SELECT COUNT(*) FROM {ta} JOIN {tb} USING (doc_a, doc_b)) AS n_common,
       CASE WHEN (SELECT COUNT(*) FROM {ta}) + (SELECT COUNT(*) FROM {tb})
                 - (SELECT COUNT(*) FROM {ta} JOIN {tb} USING (doc_a, doc_b)) > 0
         THEN CAST(((SELECT COUNT(*) FROM {ta} JOIN {tb} USING (doc_a, doc_b))
                      * {AGREEMENT_MICRO})
                   // ((SELECT COUNT(*) FROM {ta}) + (SELECT COUNT(*) FROM {tb})
                       - (SELECT COUNT(*) FROM {ta} JOIN {tb} USING (doc_a, doc_b)))
                   AS DOUBLE) / {float(AGREEMENT_MICRO)}
         ELSE 1.0 END AS overlap_jaccard""")
    union = "\nUNION ALL\n".join(rows)
    return f"""
WITH mh AS MATERIALIZED ({SQL_DEDUP_MINHASH_PAIRS}),
ng AS MATERIALIZED ({SQL_DEDUP_NGRAM_PAIRS}),
sh AS MATERIALIZED ({SQL_DEDUP_SIMHASH_PAIRS})
{union}
"""


def q_dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from the SIMHASH Hamming pair graph — the same
    star-contraction components as ``q_dedup_clusters`` but fed by the
    block-banded Hamming join instead of the n-gram Jaccard join. The two
    candidate generators disagree on borderline pairs (bit-sketch vs exact
    set overlap), so a curation pipeline runs both and diffs the cluster
    tables; this operator is the simhash side of that diff. Scale shape is
    inherited end to end: the pair graph is occupancy-guarded before its
    self-join (plans/guards.py) and the components converge in O(log n)
    star rounds. Oracle: independent recursive-CTE transitive closure over
    the same pair SQL."""
    from pdfplucker_spark.operators.dedup import q_dedup_simhash_pairs

    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    pairs = q_dedup_simhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(docs, pairs)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


def _sql_dedup_simhash_clusters() -> str:
    from pdfplucker_spark.operators.dedup import SQL_DEDUP_SIMHASH_PAIRS

    return f"""
WITH RECURSIVE pairs AS ({SQL_DEDUP_SIMHASH_PAIRS}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
),
lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
"""


# ---------------------------------------------------------------------------
# range join: events within each purchase's attribution window
# ---------------------------------------------------------------------------
RANGE_WINDOW_US = 3_600_000_000  # 1 hour


def q_events_purchase_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN — the second interval operator Spark lacks natively
    (beside as-of): count each user's events inside the 1-hour window
    starting at each purchase. The naive inequality join plans as a
    BroadcastNestedLoop/cartesian (O(events × purchases) per user); the
    scale shape BUCKETS time at the window width: a 1-hour window overlaps
    at most 2 hour-buckets, so the purchase side explodes into its 2
    buckets and the join runs on (user_id, bucket) EQUALITY — an ordinary
    hash join — with the exact range check as a residual filter. The
    purchase event itself falls inside its own window (>= start)."""
    ev = load(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    e = ev.select(
        "user_id",
        us.alias("eus"),
        F.floor(us / F.lit(float(RANGE_WINDOW_US))).alias("bk"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        us.alias("pus"),
        F.floor(us / F.lit(float(RANGE_WINDOW_US))).alias("pbk"),
    )
    pb = p.select(
        "user_id",
        "purchase_id",
        "pus",
        F.explode(F.array(F.col("pbk"), F.col("pbk") + 1)).alias("bk"),
    )
    counts = (
        pb.join(e, ["user_id", "bk"])
        .where(
            (F.col("eus") >= F.col("pus"))
            & (F.col("eus") < F.col("pus") + RANGE_WINDOW_US)
        )
        .groupBy("purchase_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        p.join(counts, "purchase_id", "left")
        .select(
            "purchase_id",
            "user_id",
            F.coalesce("n", F.lit(0)).alias("n_events_1h"),
        )
    )


SQL_EVENTS_PURCHASE_RANGE_JOIN = f"""
WITH p AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id,
       CAST(COUNT(e.user_id) AS BIGINT) AS n_events_1h
FROM p LEFT JOIN events e
  ON e.user_id = p.user_id
 AND epoch_us(e.ts) >= p.pus
 AND epoch_us(e.ts) < p.pus + {RANGE_WINDOW_US}
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# benchmark decontamination: n-gram overlap vs a held-out set
# ---------------------------------------------------------------------------
DECONTAM_MIN_SHARED = 3  # flag a train doc sharing >= this many shingles
# corpus-wide document-frequency cap on a join shingle; never fires on the
# driver corpora (max df at sf0.1 is orders of magnitude below) — see the
# guard rationale in q_docs_decontaminate
DECONTAM_DF_CAP = 100_000


def q_docs_decontaminate(
    spark: SparkSession, sf_dir: str, df_cap: int | None = DECONTAM_DF_CAP
) -> DataFrame:
    """Training-set decontamination: flag corpus documents sharing >=
    {DECONTAM_MIN_SHARED} distinct 3-gram shingles with any HELD-OUT doc
    (here: the deterministic docs_sample stratum plays the benchmark set).
    Scale shape: both sides explode to (shingle, doc) pairs and join on the
    shingle — a uniform string key; the eval side is sample-sized, so AQE
    broadcasts it and the train-side scan never shuffles. Returns one row
    per contaminated (train, eval) pair with the overlap count — the
    actionable removal list, not just a boolean.

    Hot-shingle guard: shingles are distinct per doc, so a shingle's row
    count in the exploded frame IS its document frequency, and the join's
    per-key fan-out is df_train(g) × df_eval(g) — a boilerplate trigram in
    1% of both sides of a 100-TB corpus makes that quadratic on one key.
    ``df_cap`` (default {DECONTAM_DF_CAP}) drops-and-logs shingles above
    that corpus-wide document frequency via the same bucket guard the LSH
    joins use; a shingle that common is non-discriminative BY DEFINITION
    (boilerplate, not benchmark leakage), so dropping it is also *better*
    decontamination, not just a bounded plan. The occupancy count shuffles
    on the join's own key, so the exchange is reused."""
    # the shingle definition is dedup.py's — one source in each engine,
    # with the tokenization hoisted to its own projection (see
    # dedup._SHINGLE_OVER_TOKENS for why inlining is O(words²)/doc)
    from pdfplucker_spark.operators.dedup import _SHINGLE_OVER_TOKENS
    from pdfplucker_spark.plans.guards import guarded_probe

    # fan_out: the corpus-wide shingle explode feeding the persisted frame
    # is heavy pre-exchange map work (interleaved A/B: 1.66 -> 1.39 s min)
    d = load(spark, sf_dir, "documents", fan_out=True)
    gate = md5_long(F.concat("source", F.lit(":"), F.col("doc_id").cast("string")))
    # one exploded frame, persisted: it feeds the df-occupancy count AND
    # both join sides (the eval/train split is a cheap filter over it)
    ex = (
        d.select(
            "doc_id",
            (gate % SAMPLE_MOD == 0).alias("is_eval"),
            F.split("text", " ").alias("__tk"),
        )
        .select(
            "doc_id",
            "is_eval",
            F.explode(F.expr(_SHINGLE_OVER_TOKENS)).alias("g"),
        )
        .persist()
    )

    def side(pred, name):
        return ex.where(pred).select(F.col("doc_id").alias(name), "g")

    # the cap counts corpus-wide document frequency (the oracle's `ok`)
    screen = guarded_probe(
        side(F.col("is_eval"), "eval_doc_id"),
        ("g",),
        df_cap,
        "docs_decontaminate",
        counted=ex,
    )
    return (
        screen(side(~F.col("is_eval"), "train_doc_id"))
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
        .where(F.col("n_shared_ngrams") >= DECONTAM_MIN_SHARED)
    )


from pdfplucker_spark.operators.dedup import SQL_SHINGLE_LIST as _SQL_SHINGLES

SQL_DOCS_DECONTAMINATE = f"""
WITH sh AS (
  SELECT doc_id,
         {sql_md5_long("source || ':' || CAST(doc_id AS VARCHAR)")} % {SAMPLE_MOD} AS gate,
         UNNEST({_SQL_SHINGLES}) AS g
  FROM documents
),
-- the same document-frequency cap the engine applies (shingles are
-- distinct per doc, so COUNT(*) per g is its document frequency)
ok AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= {DECONTAM_DF_CAP})
SELECT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id,
       COUNT(*) AS n_shared_ngrams
FROM (SELECT doc_id, g FROM sh JOIN ok USING (g) WHERE gate <> 0) t
JOIN (SELECT doc_id, g FROM sh JOIN ok USING (g) WHERE gate = 0) e USING (g)
GROUP BY 1, 2
HAVING COUNT(*) >= {DECONTAM_MIN_SHARED}
"""


def q_docs_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-side audit that complements ``docs_decontaminate``: per
    HELD-OUT doc, how much of it already leaks into the train corpus —
    distinct-shingle count, how many of those shingles occur in ≥1 train
    doc, and the contamination fraction on the integer micro grid
    ((n_cont·10⁶) div n_shingles — exact integer math, no cross-engine
    rounding hazard). This is what decides whether a BENCHMARK is still
    usable, where the pair operator decides which TRAIN docs to drop.

    Scale shape: one exploded shingle frame (persisted — the train and
    eval filters both consume it); the train side collapses to a DISTINCT
    shingle set (one corpus-scale hash distinct on the uniform shingle
    key — map-side partials); the eval⋈train-set join has per-key fan-out
    ≤ 1 BY CONSTRUCTION (the right side is distinct), so unlike the pair
    operator it needs no df-occupancy guard — a boilerplate shingle costs
    one probe hit per eval occurrence, never df_train × df_eval rows. The
    final agg is eval-sized. Eval docs with zero shingles (short/empty
    text) have no well-defined fraction and are absent in both engines."""
    from pdfplucker_spark.operators.dedup import _SHINGLE_OVER_TOKENS

    d = load(spark, sf_dir, "documents", fan_out=True)
    gate = md5_long(F.concat("source", F.lit(":"), F.col("doc_id").cast("string")))
    ex = (
        d.select(
            "doc_id",
            (gate % SAMPLE_MOD == 0).alias("is_eval"),
            F.split("text", " ").alias("__tk"),
        )
        .select(
            "doc_id",
            "is_eval",
            F.explode(F.expr(_SHINGLE_OVER_TOKENS)).alias("g"),
        )
        .persist()
    )
    train_set = ex.where(~F.col("is_eval")).select("g").distinct()
    eval_side = ex.where(F.col("is_eval")).select(
        F.col("doc_id").alias("eval_doc_id"), "g"
    )
    hits = (
        eval_side.join(train_set.select("g", F.lit(1).alias("hit")), "g", "left")
        .groupBy("eval_doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_contaminated"),
        )
    )
    return hits.select(
        "eval_doc_id",
        "n_shingles",
        "n_contaminated",
        F.expr("(n_contaminated * 1000000) div n_shingles").alias("contam_micro"),
    )


SQL_DOCS_CONTAMINATION_REPORT = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id,
         {sql_md5_long("source || ':' || CAST(doc_id AS VARCHAR)")} % {SAMPLE_MOD} AS gate,
         UNNEST({_SQL_SHINGLES}) AS g
  FROM documents
),
train_set AS (
  SELECT DISTINCT g FROM sh WHERE gate <> 0
)
SELECT e.doc_id AS eval_doc_id,
       COUNT(*) AS n_shingles,
       CAST(COALESCE(SUM(CASE WHEN t.g IS NOT NULL THEN 1 END), 0) AS BIGINT)
         AS n_contaminated,
       CAST((COALESCE(SUM(CASE WHEN t.g IS NOT NULL THEN 1 END), 0) * 1000000)
            // COUNT(*) AS BIGINT) AS contam_micro
FROM (SELECT doc_id, g FROM sh WHERE gate = 0) e
LEFT JOIN train_set t USING (g)
GROUP BY e.doc_id
"""


# Bloom-filter decontamination (the Dolma/BFF pattern): the eval side is
# represented by an m-bit Bloom filter instead of its raw shingle set, so
# the broadcast state is capped at BLOOM_M positions NO MATTER how large
# the held-out corpus grows — the sublinear-memory path that takes over
# from q_docs_decontaminate's raw-shingle join when the eval side itself
# is web-scale. m = 2^20 keeps the driver-corpora false-positive rate
# near zero ((fill·k/m)^k ≈ 1e-4 per probe at sf0.1) while the bit table
# stays a ~1 M-row broadcast ceiling.
BLOOM_M = 1 << 20  # Bloom bit-space size
BLOOM_K = 3  # hash functions per shingle


def q_docs_bloom_decontaminate(
    spark: SparkSession,
    sf_dir: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Sublinear-memory decontamination: probe every TRAIN doc's trigram
    shingles against a Bloom filter built from the HELD-OUT set's
    shingles (k positions per shingle in an m-bit space; a shingle is a
    *bloom hit* iff all k of its bits are set). Per train doc: total
    shingle count, bloom-hit count, and the flag (hits >=
    DECONTAM_MIN_SHARED against the eval UNION — one-sided: every doc the
    exact pair operator flags is flagged here, never the reverse; false
    positives are possible by construction, false negatives are not).

    Scale shape: the filter is the DISTINCT set of set bit positions —
    bounded by m rows REGARDLESS of eval-corpus size (the whole point vs
    broadcasting raw shingles) — and the probe is k chained BROADCAST
    LEFT-SEMI joins (one per hash function), which never fan out and
    never shuffle the corpus; the only corpus-scale exchange is the final
    per-doc count. No df-occupancy guard is needed: a semi-join's per-key
    output is <= its left input by definition. Docs whose text yields no
    shingles (NULL/empty) are absent in both engines, as in
    q_docs_contamination_report. Bit positions use the cross-engine
    md5-60bit hash (functions/hashing.py) salted with the function index,
    so both engines replay the identical filter."""
    from pdfplucker_spark.operators.dedup import _SHINGLE_OVER_TOKENS

    d = load(spark, sf_dir, "documents")
    gate = md5_long(F.concat("source", F.lit(":"), F.col("doc_id").cast("string")))
    # one exploded frame, persisted: it feeds the filter build, the probe
    # side, and the per-doc totals
    ex = (
        d.select(
            "doc_id",
            (gate % SAMPLE_MOD == 0).alias("is_eval"),
            F.split("text", " ").alias("__tk"),
        )
        .select(
            "doc_id",
            "is_eval",
            F.explode(F.expr(_SHINGLE_OVER_TOKENS)).alias("g"),
        )
        .persist()
    )

    def bit(i: int):
        return F.pmod(md5_long(F.concat(F.col("g"), F.lit(f"#{i}"))), F.lit(m))

    # the filter: distinct set bit positions (<= m rows by construction);
    # persisted — one semi-join per hash function consumes it
    bits = (
        ex.where(F.col("is_eval"))
        .select(F.explode(F.array(*[bit(i) for i in range(k)])).alias("bit"))
        .distinct()
        .persist()
    )
    probe = ex.where(~F.col("is_eval")).select(
        "doc_id", *[bit(i).alias(f"b{i}") for i in range(k)]
    )
    for i in range(k):
        probe = probe.join(
            F.broadcast(bits.withColumnRenamed("bit", f"b{i}")),
            f"b{i}",
            "left_semi",
        )
    hits = probe.groupBy("doc_id").agg(F.count("*").alias("n_bloom_hits"))
    totals = (
        ex.where(~F.col("is_eval"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"))
    )
    nh = F.coalesce("n_bloom_hits", F.lit(0))
    return totals.join(hits, "doc_id", "left").select(
        F.col("doc_id").alias("train_doc_id"),
        "n_shingles",
        nh.alias("n_bloom_hits"),
        (nh >= DECONTAM_MIN_SHARED).alias("flagged"),
    )


def _sql_docs_bloom_decontaminate(m: int = BLOOM_M, k: int = BLOOM_K) -> str:
    idx = ", ".join(str(i) for i in range(k))
    pos = sql_md5_long("g || '#' || CAST(i AS VARCHAR)") + f" % {m}"
    return f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id,
         {sql_md5_long("source || ':' || CAST(doc_id AS VARCHAR)")} % {SAMPLE_MOD} AS gate,
         UNNEST({_SQL_SHINGLES}) AS g
  FROM documents
),
bits AS MATERIALIZED (
  SELECT DISTINCT {pos} AS bit
  FROM (SELECT g FROM sh WHERE gate = 0) e
  CROSS JOIN (SELECT UNNEST([{idx}]) AS i) ids
),
tb AS (
  SELECT doc_id, g, {pos} AS bit
  FROM (SELECT doc_id, g FROM sh WHERE gate <> 0) t
  CROSS JOIN (SELECT UNNEST([{idx}]) AS i) ids
),
-- a (doc, shingle) is a bloom hit iff every one of its k position rows
-- finds its bit set (duplicate positions join independently, matching
-- the engine's per-hash-function semi-joins)
hit AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bloom_hits FROM (
    SELECT doc_id, g FROM tb JOIN bits USING (bit)
    GROUP BY doc_id, g HAVING COUNT(*) = {k}
  ) GROUP BY doc_id
),
tot AS (
  SELECT doc_id, COUNT(*) AS n_shingles
  FROM sh WHERE gate <> 0 GROUP BY doc_id
)
SELECT tot.doc_id AS train_doc_id,
       tot.n_shingles,
       CAST(COALESCE(h.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
       COALESCE(h.n_bloom_hits, 0) >= {DECONTAM_MIN_SHARED} AS flagged
FROM tot LEFT JOIN hit h USING (doc_id)
"""


SQL_DOCS_BLOOM_DECONTAMINATE = _sql_docs_bloom_decontaminate()


DECONTAM_BATCH_MOD = 20  # the arriving crawl batch: 1/20 of train docs


def q_docs_decontaminate_incremental(
    spark: SparkSession, sf_dir: str, df_cap: int | None = DECONTAM_DF_CAP
) -> DataFrame:
    """Incremental decontamination — the production CADENCE: an arriving
    train BATCH is screened against the STANDING eval-shingle index, never
    a corpus self-scan (mirror of ``dedup_incremental``'s batch-vs-index
    shape). The join is batch-shingles ⋈ eval-index on the shingle key:
    candidate volume is Σ_g df_batch(g)·df_eval(g) — it tracks the BATCH
    size, and the standing index guards its own key distribution with the
    df cap (drop-and-log, plans/guards). Here a deterministic 1/20 slice
    of the train docs plays the arriving batch. Output = the full-scan
    operator's rows restricted to batch docs (asserted by pytest — the
    caps never fire on the driver corpora)."""
    from pdfplucker_spark.operators.dedup import _SHINGLE_OVER_TOKENS
    from pdfplucker_spark.plans.guards import guarded_probe

    d = load(spark, sf_dir, "documents")
    gate = md5_long(F.concat("source", F.lit(":"), F.col("doc_id").cast("string")))
    bgate = (
        md5_long(F.concat(F.lit("dbatch:"), F.col("doc_id").cast("string")))
        % DECONTAM_BATCH_MOD
    )
    # the gates are doc-level predicates, so docs outside eval ∪ batch are
    # dropped BEFORE the shingle explode — the incremental cadence never
    # tokenizes the standing train corpus it is not screening (at the
    # driver gates that skips ~90% of the explode; at production scale the
    # batch slice is the whole point of the operator)
    ex = (
        d.select(
            "doc_id",
            (gate % SAMPLE_MOD == 0).alias("is_eval"),
            (bgate == 0).alias("in_batch"),
            "text",
        )
        .where(F.col("is_eval") | F.col("in_batch"))
        .select("doc_id", "is_eval", "in_batch", F.split("text", " ").alias("__tk"))
        .select(
            "doc_id",
            "is_eval",
            "in_batch",
            F.explode(F.expr(_SHINGLE_OVER_TOKENS)).alias("g"),
        )
        .persist()
    )
    screen = guarded_probe(
        ex.where(F.col("is_eval")).select(F.col("doc_id").alias("eval_doc_id"), "g"),
        ("g",),
        df_cap,
        "docs_decontaminate_incremental",
    )
    batch = ex.where(~F.col("is_eval") & F.col("in_batch")).select(
        F.col("doc_id").alias("train_doc_id"), "g"
    )
    return (
        screen(batch)
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
        .where(F.col("n_shared_ngrams") >= DECONTAM_MIN_SHARED)
    )


SQL_DOCS_DECONTAMINATE_INCREMENTAL = f"""
WITH sh AS (
  SELECT doc_id,
         {sql_md5_long("source || ':' || CAST(doc_id AS VARCHAR)")} % {SAMPLE_MOD} AS gate,
         {sql_md5_long(chr(39) + "dbatch:" + chr(39) + " || CAST(doc_id AS VARCHAR)")} % {DECONTAM_BATCH_MOD} AS bgate,
         UNNEST({_SQL_SHINGLES}) AS g
  FROM documents
),
-- the standing index guards its OWN key distribution: the cap counts
-- eval-side document frequency only
ok AS (SELECT g FROM sh WHERE gate = 0 GROUP BY g HAVING COUNT(*) <= {DECONTAM_DF_CAP})
SELECT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id,
       COUNT(*) AS n_shared_ngrams
FROM (SELECT doc_id, g FROM sh WHERE gate <> 0 AND bgate = 0) t
JOIN (SELECT doc_id, g FROM sh JOIN ok USING (g) WHERE gate = 0) e USING (g)
GROUP BY 1, 2
HAVING COUNT(*) >= {DECONTAM_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# deterministic token-budget shard packing
# ---------------------------------------------------------------------------
# the ORACLE-pinned stream count: the registry pair must agree on one
# static value so the DuckDB SQL and the Spark plan pack identically; the
# production entry point derives the count from the cluster instead
ORACLE_PACK_STREAMS = 16
PACK_BUDGET = 256  # tokens per shard


def q_docs_pack_shards(
    spark: SparkSession, sf_dir: str, pack_streams: int | None = None
) -> DataFrame:
    """Pack documents into token-budget training shards. Packing is
    inherently sequential, so the scale shape is S independent pack
    STREAMS: each doc hashes to a stream (uniform md5 key — the window
    shuffle key is never hot), and within a stream a running token cumsum
    assigns it to shard floor(start_offset / budget). Docs may straddle a
    budget boundary (streaming-style packing: a shard owns every doc that
    STARTS inside it) — the same contract as sequence-packing data loaders.
    Deterministic for a given ``pack_streams``: same corpus → same shards,
    any partitioning, any order.

    ``pack_streams`` defaults to ``defaultParallelism``: each stream's
    cumsum window is one sorted partition holding 1/S of the corpus, so S
    must scale with the cluster — a hard-coded S=16 would make each window
    a single-reducer sort over 1/16 of 100 TB. Shard ids stay globally
    unique across any S via shard_id = stream_id·2³² + shard_seq."""
    if pack_streams is None:
        pack_streams = spark.sparkContext.defaultParallelism
    d = load(spark, sf_dir, "documents")
    stream = (
        md5_long(F.concat(F.lit("pk:"), F.col("doc_id").cast("string")))
        % pack_streams
    ).cast("int")
    base = d.select(
        "doc_id",
        stream.alias("stream_id"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("stream_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset")
    return base.select("doc_id", "stream_id", "n_tokens", start).select(
        "doc_id",
        "stream_id",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / PACK_BUDGET).cast("int").alias("shard_seq"),
        (
            F.col("stream_id").cast("long") * F.lit(1 << 32)
            + F.floor(F.col("start_offset") / PACK_BUDGET)
        ).alias("shard_id"),
    )


def sql_docs_pack_shards(pack_streams: int) -> str:
    """The DuckDB oracle, built from the SAME stream count as the Spark
    call it is compared against (any fixed S is correct; S only has to
    match across engines)."""
    cum = (
        "SUM(n_tokens) OVER (PARTITION BY stream_id ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST({sql_md5_long("'pk:' || CAST(doc_id AS VARCHAR)")} % {pack_streams} AS INT) AS stream_id,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT doc_id, stream_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST({cum} - n_tokens AS BIGINT) AS start_offset,
       CAST(floor(({cum} - n_tokens) / {PACK_BUDGET}) AS INT) AS shard_seq,
       CAST(stream_id AS BIGINT) * {1 << 32}
         + CAST(floor(({cum} - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS shard_id
FROM base
"""


def _q_docs_pack_shards_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: stream count pinned to ORACLE_PACK_STREAMS so the
    static oracle string matches regardless of the driver's parallelism."""
    return q_docs_pack_shards(spark, sf_dir, pack_streams=ORACLE_PACK_STREAMS)


SQL_DOCS_PACK_SHARDS = sql_docs_pack_shards(ORACLE_PACK_STREAMS)


# ---------------------------------------------------------------------------
# training-mix accounting: per-(source, lang) token shares
# ---------------------------------------------------------------------------
def q_docs_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mix report every training-data pipeline publishes: per
    (source, lang) document and token counts plus each cell's share of the
    corpus token budget. One hash aggregation + a broadcast of the 1-row
    total — the N-row side never shuffles twice."""
    d = load(spark, sf_dir, "documents")
    # persist: per feeds BOTH the output and the total — unpersisted, the
    # corpus scan + tokenization run twice
    per = d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens"),
    ).persist()
    total = per.agg(F.sum("n_tokens").alias("t"))
    return per.crossJoin(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("t"), 6).alias(
            "token_share"
        ),
    )


SQL_DOCS_MIX_REPORT = """
WITH per AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
)
SELECT source, lang, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE)
               / (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM per), 6)
         AS token_share
FROM per
"""


# ---------------------------------------------------------------------------
# the composite cleaning pipeline (what a training-data team actually runs)
# ---------------------------------------------------------------------------
QUALITY_MIN = 0.34  # ~median of the synthetic corpus — keeps a real subset


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning as ONE declarative query: language gate
    (stopword-vote en) AND quality gate (composite score) AND dedup gate
    (canonical doc of its bag group). The per-row gates are map-only and
    evaluated before the dedup window, so only gate-surviving rows shuffle —
    at 100 TB the filters prune the exchange, not the other way around."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    en = ", ".join(f"'{w}'" for w in ["the", "and", "of", "to", "in", "is", "a"])
    n_stop = F.expr(
        f"size(filter(split(text, ' '), t -> array_contains(array({en}), t)))"
    )
    quality = F.round(
        n_dis.cast("double") / n_tok * 0.5
        + n_stop.cast("double") / n_tok * 0.3
        + F.least(F.length("text").cast("double") / n_tok / 10.0, F.lit(1.0)) * 0.2,
        6,
    )
    votes = {}
    from pdfplucker_spark.operators.textstats import _STOP

    for lang, words in _STOP.items():
        ws = ", ".join(f"'{w}'" for w in words)
        votes[lang] = F.expr(
            f"size(filter(split(text, ' '), t -> array_contains(array({ws}), t)))"
        )
    is_en = (
        (votes["en"] >= votes["es"])
        & (votes["en"] >= votes["de"])
        & (votes["en"] >= votes["fr"])
    )
    bag = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    gated = d.select(
        "doc_id", "source", "n_chars", bag.alias("bag_hash"), quality.alias("q")
    ).where(is_en & (quality >= QUALITY_MIN))
    w = Window.partitionBy("bag_hash").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "source", F.col("q").alias("quality_score"))
    )


SQL_CORPUS_FILTER = f"""
WITH t AS (
  SELECT doc_id, source, n_chars,
         md5(coalesce(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '), '')) AS bag_hash,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_dis,
         len(list_filter(string_split(text, ' '),
             t -> list_contains(['the','and','of','to','in','is','a'], t))) AS v_en,
         len(list_filter(string_split(text, ' '),
             t -> list_contains(['el','la','de','que','y','en','un'], t))) AS v_es,
         len(list_filter(string_split(text, ' '),
             t -> list_contains(['der','die','und','das','ist','ein','zu'], t))) AS v_de,
         len(list_filter(string_split(text, ' '),
             t -> list_contains(['le','la','et','les','des','un','une'], t))) AS v_fr,
         length(text) AS nc
  FROM documents
),
gated AS (
  SELECT doc_id, source, n_chars, bag_hash,
         round(CAST(n_dis AS DOUBLE) / n_tok * 0.5
               + CAST(v_en AS DOUBLE) / n_tok * 0.3
               + least(CAST(nc AS DOUBLE) / n_tok / 10.0, 1.0) * 0.2, 6) AS q
  FROM t
  WHERE v_en >= v_es AND v_en >= v_de AND v_en >= v_fr
)
SELECT doc_id, source, q AS quality_score FROM (
  SELECT doc_id, source, q,
         ROW_NUMBER() OVER (PARTITION BY bag_hash ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM gated WHERE q >= {QUALITY_MIN}
) WHERE rn = 1
"""


QUERIES = {
    # the DEFAULT is the skew-proof bucketed plan (round-6 promotion); the
    # plain single-window build survives as q_events_asof_plain, gated by
    # the pytest cross-checks (test_pipeline_ops, test_plan_properties)
    "events_asof_purchase": (q_events_asof_bucketed, SQL_EVENTS_ASOF_PURCHASE),
    "corpus_filter": (q_corpus_filter, SQL_CORPUS_FILTER),
    "text_top_terms": (q_text_top_terms, SQL_TEXT_TOP_TERMS),
    "docs_dsir_weights": (q_docs_dsir_weights, SQL_DOCS_DSIR_WEIGHTS),
    "docs_dsir_sample": (q_docs_dsir_sample, SQL_DOCS_DSIR_SAMPLE),
    "docs_unigram_logppl": (q_docs_unigram_logppl, SQL_DOCS_UNIGRAM_LOGPPL),
    "docs_token_entropy": (q_docs_token_entropy, SQL_DOCS_TOKEN_ENTROPY),
    "docs_bigram_logppl": (q_docs_bigram_logppl, SQL_DOCS_BIGRAM_LOGPPL),
    "docs_ppl_buckets": (q_docs_ppl_buckets, SQL_DOCS_PPL_BUCKETS),
    "lineitem_quantiles": (q_lineitem_quantiles, SQL_LINEITEM_QUANTILES),
    "docs_length_outlier": (q_docs_length_outlier, SQL_DOCS_LENGTH_OUTLIER),
    "docs_sample": (q_docs_sample, SQL_DOCS_SAMPLE),
    "docs_sample_weighted": (q_docs_sample_weighted, SQL_DOCS_SAMPLE_WEIGHTED),
    "docs_balanced_sample": (q_docs_balanced_sample, SQL_DOCS_BALANCED_SAMPLE),
    "docs_mix_temperature": (q_docs_mix_temperature, SQL_DOCS_MIX_TEMPERATURE),
    "docs_shuffle_order": (q_docs_shuffle_order, SQL_DOCS_SHUFFLE_ORDER),
    "docs_zorder_layout": (q_docs_zorder_layout, SQL_DOCS_ZORDER_LAYOUT),
    "docs_zorder_stats": (q_docs_zorder_stats, SQL_DOCS_ZORDER_STATS),
    "docs_domain_cap": (q_docs_domain_cap, SQL_DOCS_DOMAIN_CAP),
    "docs_curation_manifest": (
        q_docs_curation_manifest,
        _sql_docs_curation_manifest(),
    ),
    "docs_mix_report": (q_docs_mix_report, SQL_DOCS_MIX_REPORT),
    "dedup_clusters": (q_dedup_clusters, _sql_dedup_clusters()),
    "dedup_simhash_clusters": (
        q_dedup_simhash_clusters,
        _sql_dedup_simhash_clusters(),
    ),
    "dedup_pairs_agreement": (
        q_dedup_pairs_agreement,
        _sql_dedup_pairs_agreement(),
    ),
    "docs_winnow_clusters": (
        q_docs_winnow_clusters,
        _sql_docs_winnow_clusters(),
    ),
    "docs_dedup_verdict": (q_docs_dedup_verdict, _sql_docs_dedup_verdict()),
    "docs_dedup_rate_report": (
        q_docs_dedup_rate_report,
        _sql_docs_dedup_rate_report(),
    ),
    "dedup_canonical": (q_dedup_canonical, SQL_DEDUP_CANONICAL),
    "docs_pack_shards": (_q_docs_pack_shards_pinned, SQL_DOCS_PACK_SHARDS),
    "docs_decontaminate": (q_docs_decontaminate, SQL_DOCS_DECONTAMINATE),
    "docs_contamination_report": (
        q_docs_contamination_report,
        SQL_DOCS_CONTAMINATION_REPORT,
    ),
    "docs_bloom_decontaminate": (
        q_docs_bloom_decontaminate,
        SQL_DOCS_BLOOM_DECONTAMINATE,
    ),
    "docs_decontaminate_incremental": (
        q_docs_decontaminate_incremental,
        SQL_DOCS_DECONTAMINATE_INCREMENTAL,
    ),
    "events_purchase_range_join": (
        q_events_purchase_range_join,
        SQL_EVENTS_PURCHASE_RANGE_JOIN,
    ),
}
