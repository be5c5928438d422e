"""Deduplication operators for a training-data pipeline over ``documents``.

Exact (hash-groupBy), bag-of-tokens near-exact, MinHash signatures,
MinHash+LSH banded candidate pairs with exact-Jaccard verification, SimHash,
and n-gram-shingle Jaccard pairs.

Scale notes (100 TB honesty):
  - signatures/simhash/fingerprints are pure per-row higher-order-function
    expressions — map-only, no shuffle, whole-stage codegen.
  - the LSH pair stage shuffles on (band, key) — the standard banded
    self-join; band keys are ~uniform (md5-derived) so no skew.
  - exact-Jaccard verification joins candidates back to token sets — only
    candidate pairs pay the set-intersection cost.

All hashes are the portable md5-60bit (functions/hashing.py) so DuckDB
oracles match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pdfplucker_spark.functions.hashing import (
    duckdb_minhash_band,
    spark_minhash_band,
    sql_expr_md5_long,
    sql_md5_long,
)
from pdfplucker_spark.plans.guards import (
    DEFAULT_BUCKET_CAP,
    guarded_prefix_join,
    guarded_probe,
    guarded_self_join,
)
from pdfplucker_spark.sources.tables import load

N_HASHES = 8
N_BANDS = 4  # rows-per-band r = 2
JACCARD_THRESHOLD = 0.8
NGRAM_THRESHOLD = 0.35


# ---------------------------------------------------------------------------
# exact + bag dedup
# ---------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("n_docs"),
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_docs
FROM documents GROUP BY md5(text)
"""


def _bag_groups(d: DataFrame) -> DataFrame:
    key = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " ")))))
    return d.groupBy(key.alias("bag_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("n_docs"),
    )


def q_dedup_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact: same multiset-insensitive token SET (sorted distinct)."""
    return _bag_groups(load(spark, sf_dir, "documents"))


def _sql_bag(table: str = "documents", prelude: str = "") -> str:
    return f"""
{prelude}SELECT md5(coalesce(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '), '')) AS bag_hash,
       -- coalesce: Spark's concat_ws maps a NULL token array to '' — match it
       MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_docs
FROM {table}
GROUP BY 1
"""


SQL_DEDUP_BAG = _sql_bag()


# ---------------------------------------------------------------------------
# null-text corpus tier: the same operators over a corpus that CONTAINS
# null-text documents, so the null-propagation choices in the keys
# (F.concat vs DuckDB ||, concat_ws('')-vs-coalesce) are exercised by the
# oracle gate where they matter — not just claimed in comments. The view is
# derived deterministically and identically in both engines: every 97th doc
# reappears (doc_id + 10^7) with NULL text.
# ---------------------------------------------------------------------------
def docs_with_nulls(d: DataFrame) -> DataFrame:
    nulls = d.where(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.lit(None).cast("string").alias("text"),
        "lang",
        "source",
        F.lit(0).cast("long").alias("n_chars"),
    )
    return d.unionByName(nulls)


SQL_DOCS_WITH_NULLS_CTE = """documents_nulls AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 10000000, CAST(NULL AS VARCHAR), lang, source, CAST(0 AS BIGINT)
  FROM documents WHERE doc_id % 97 = 0
)"""


def q_dedup_bag_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag dedup over the null-bearing corpus: all null-text docs collapse
    into the md5('') group in BOTH engines (Spark concat_ws maps a NULL
    token array to ''; the oracle coalesces to match)."""
    return _bag_groups(docs_with_nulls(load(spark, sf_dir, "documents")))


SQL_DEDUP_BAG_NULLS = _sql_bag(
    "documents_nulls", f"WITH {SQL_DOCS_WITH_NULLS_CTE}\n"
)


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------
_TOKS_EXPR = "array_distinct(split(text, ' '))"


def _sig_cols():
    """k=8 minhash over the token set — one affine sketch per band over the
    shared md5 family (functions/hashing.py); map-only, codegen-friendly."""
    return [
        F.expr(spark_minhash_band(_TOKS_EXPR, i, N_HASHES)).alias(f"sig{i}")
        for i in range(N_HASHES)
    ]


def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (k=8) — map-only, no shuffle."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", *_sig_cols())


_SQL_TOKS = "list_distinct(string_split(text, ' '))"


def _sql_sigs() -> str:
    return ",\n  ".join(
        f"{duckdb_minhash_band(_SQL_TOKS, i, N_HASHES)} AS sig{i}"
        for i in range(N_HASHES)
    )


SQL_DEDUP_MINHASH_SIG = f"""
SELECT doc_id,
  {_sql_sigs()}
FROM documents
"""


def q_dedup_minhash_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """LSH banding (4 bands × 2 rows) → candidate pairs → exact-Jaccard
    verification at {threshold}. The scalable near-dup pipeline. Band keys
    over ``bucket_cap`` occupancy are dropped-and-logged before the
    self-join (plans/guards.py) — a degenerate corpus cannot make the
    within-bucket join quadratic."""
    return _minhash_pairs(load(spark, sf_dir, "documents"), bucket_cap)


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, key) rows from a minhash signature table — THE band
    key definition, shared by every consumer (self-join, incremental).
    F.concat (not concat_ws): null-propagating, matching the oracle's
    ``||`` — a null-text doc gets a NULL key on BOTH sides and never joins,
    so engine and oracle agree on null-text rows."""
    bands = None
    for b in range(N_BANDS):
        part = sigs.select(
            "doc_id",
            F.lit(b).alias("band"),
            F.concat(
                F.col(f"sig{2*b}").cast("string"),
                F.lit("_"),
                F.col(f"sig{2*b+1}").cast("string"),
            ).alias("key"),
        )
        bands = part if bands is None else bands.unionByName(part)
    return bands


def _verify_jaccard(
    cand: DataFrame, toks: DataFrame, left: str, right: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs — THE verify join,
    shared by every pair operator. Includes the lossless size filter
    (set-similarity join standard): |I| <= min(|A|,|B|) and |U| >=
    max(|A|,|B|), so jaccard <= min/max — pairs failing the O(1)
    length-ratio bound skip the O(|A|+|B|) intersect/union entirely (37%
    of candidates on the sf0.1 corpus; far more at production thresholds).
    ``toks`` must have columns (doc_id, toks) and should be persisted by
    the caller (it feeds both aliases)."""
    ratio = F.least(F.size("ta.toks"), F.size("tb.toks")).cast(
        "double"
    ) / F.greatest(F.size("ta.toks"), F.size("tb.toks"))
    # ONE array pass per surviving pair: both sides are distinct arrays, so
    # |U| = |A| + |B| - |I| exactly — the same two integers divide, so the
    # double (and its round) is bit-identical to the intersect/union form,
    # at half the per-pair hash-set work (array_union cost ~ array_intersect)
    isz = F.size(F.array_intersect("ta.toks", "tb.toks"))
    return (
        cand.join(toks.alias("ta"), F.col(left) == F.col("ta.doc_id"))
        .join(toks.alias("tb"), F.col(right) == F.col("tb.doc_id"))
        .where(ratio >= threshold)
        .select(
            left,
            right,
            (
                isz.cast("double")
                / (F.size("ta.toks") + F.size("tb.toks") - isz)
            ).alias("jac"),
        )
        .where(F.col("jac") >= threshold)
        .select(left, right, F.round("jac", 6).alias("jaccard"))
    )


def _minhash_pairs(d: DataFrame, bucket_cap: int | None) -> DataFrame:
    # persist: the signature table feeds BOTH sides of the banded self-join;
    # without it the minhash scan of the corpus runs twice. Per-doc sigs are
    # 8 longs — ~80 GB at 1e9 docs, spillable (MEMORY_AND_DISK default).
    sigs = d.select("doc_id", *_sig_cols()).persist()
    cand = (
        guarded_self_join(
            _band_rows(sigs), ("band", "key"), "doc_id", bucket_cap, "dedup_minhash_pairs"
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # persisted: referenced by BOTH aliases of the verification join
    toks = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    ).persist()
    return _verify_jaccard(cand, toks, "doc_a", "doc_b", JACCARD_THRESHOLD)


def _sql_band_cte() -> str:
    """The oracle-side band key definition — single source, mirrored by
    the engine-side _band_rows."""
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, CAST(sig{2*b} AS VARCHAR) || '_' || CAST(sig{2*b+1} AS VARCHAR) AS key FROM sigs"
        for b in range(N_BANDS)
    )


def _sql_minhash_pairs(table: str = "documents", prelude: str = "") -> str:
    return f"""
WITH {prelude}sigs AS (
  SELECT doc_id,
  {_sql_sigs()}
  FROM {table}
),
bands AS (
  {_sql_band_cte()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM {table})
SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(ta.t, tb.t)) AS DOUBLE)
           / len(list_distinct(ta.t || tb.t)) AS jac
  FROM cand JOIN toks ta ON ta.doc_id = doc_a JOIN toks tb ON tb.doc_id = doc_b
) WHERE jac >= {JACCARD_THRESHOLD}
"""


SQL_DEDUP_MINHASH_PAIRS = _sql_minhash_pairs()


def q_dedup_minhash_pairs_nulls(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """The LSH pair pipeline over the null-bearing corpus: null-text docs
    get NULL signatures, and the band key uses null-PROPAGATING concat
    (F.concat, matching the oracle's ||) so they never join — engine and
    oracle must agree that null-text docs produce no candidate pairs."""
    return _minhash_pairs(
        docs_with_nulls(load(spark, sf_dir, "documents")), bucket_cap
    )


SQL_DEDUP_MINHASH_PAIRS_NULLS = _sql_minhash_pairs(
    "documents_nulls", f"{SQL_DOCS_WITH_NULLS_CTE},\n"
)


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing index (the production shape)
# ---------------------------------------------------------------------------
def q_dedup_incremental(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """Incremental near-dup detection — the shape a live pipeline actually
    runs: an arriving BATCH is checked against the standing INDEX (band
    keys of previously accepted docs), never against itself. The join is
    batch-bands ⋈ index-bands on (band, key): index-side cardinality is
    corpus-scale but the output tracks the batch's dup mass, and no N×N
    self-join ever forms. Here the deterministic sample stratum plays the
    arriving batch; everything else is the index. Returns each batch doc's
    verified duplicates in the index."""
    from pdfplucker_spark.functions.hashing import md5_long

    d = load(spark, sf_dir, "documents")
    sigs = d.select("doc_id", *_sig_cols()).persist()
    # persisted: both slices read it, and the cap counts occupancy over
    # all of it — batch and index bands alike
    bands = _band_rows(sigs).persist()
    gate = md5_long(F.concat(F.lit("inc:"), F.col("doc_id").cast("string"))) % 10

    def side(pred, name):
        return bands.where(pred).select(F.col("doc_id").alias(name), "band", "key")

    screen = guarded_probe(
        side(gate != 0, "index_doc_id"),
        ("band", "key"),
        bucket_cap,
        "dedup_incremental",
        counted=bands,
    )
    cand = screen(side(gate == 0, "batch_doc_id")).select(
        "batch_doc_id", "index_doc_id"
    ).distinct()
    toks = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    ).persist()
    return _verify_jaccard(
        cand, toks, "batch_doc_id", "index_doc_id", JACCARD_THRESHOLD
    )


def _sql_dedup_incremental() -> str:
    from pdfplucker_spark.functions.hashing import sql_md5_long

    gate = f"{sql_md5_long(chr(39) + 'inc:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')} % 10"
    return f"""
WITH sigs AS (
  SELECT doc_id,
  {_sql_sigs()}
  FROM documents
),
bands AS (
  {_sql_band_cte()}
),
gated AS (SELECT doc_id, band, key, {gate} AS gate FROM bands),
cand AS (
  SELECT DISTINCT a.doc_id AS batch_doc_id, b.doc_id AS index_doc_id
  FROM (SELECT * FROM gated WHERE gate = 0) a
  JOIN (SELECT * FROM gated WHERE gate <> 0) b
    ON a.band = b.band AND a.key = b.key
),
toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents)
SELECT batch_doc_id, index_doc_id, round(jac, 6) AS jaccard FROM (
  SELECT batch_doc_id, index_doc_id,
         CAST(len(list_intersect(ta.t, tb.t)) AS DOUBLE)
           / len(list_distinct(ta.t || tb.t)) AS jac
  FROM cand JOIN toks ta ON ta.doc_id = batch_doc_id
            JOIN toks tb ON tb.doc_id = index_doc_id
) WHERE jac >= {JACCARD_THRESHOLD}
"""


SQL_DEDUP_INCREMENTAL = _sql_dedup_incremental()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per doc — nested higher-order fns, map-only."""
    d = load(spark, sf_dir, "documents")
    h = sql_expr_md5_long("t")
    expr = f"""
      aggregate(
        transform(sequence(0, 31), b ->
          CASE WHEN aggregate(
                 transform(array_distinct(split(text, ' ')),
                           t -> CASE WHEN (shiftright({h}, b) & 1) = 1 THEN 1 ELSE -1 END),
                 0, (x, y) -> x + y) > 0
               THEN shiftleft(1L, b) ELSE 0L END),
        0L, (x, y) -> x + y)
    """
    return d.select("doc_id", F.expr(expr).alias("simhash"))


SQL_DEDUP_SIMHASH = f"""
SELECT doc_id,
  list_reduce(
    [CAST(0 AS BIGINT)] ||
    list_transform(range(32), b ->
      CASE WHEN list_reduce([0] ||
             list_transform(list_distinct(string_split(text, ' ')),
                            t -> CASE WHEN ({sql_md5_long('t')} >> b) & 1 = 1 THEN 1 ELSE -1 END),
             (x, y) -> x + y) > 0
           THEN CAST(1 AS BIGINT) << b ELSE 0 END),
    (x, y) -> x + y) AS simhash
FROM documents
"""


# ---------------------------------------------------------------------------
# SimHash near-dup PAIRS — Hamming-distance join via Manku block banding.
#
# The 32-bit fingerprint above is the per-doc diagnostic; the PAIR operator
# needs enough bits that block keys discriminate at corpus scale, so it
# computes a 60-bit simhash (all bits of the portable md5-60bit token hash)
# in a SINGLE pass over the tokens: one aggregate folds every token's hash
# into a 60-element ±1 counts array (per-token zip_with), then one cheap
# zip_with packs the sign bits. The per-bit-fold alternative (the 32-bit
# diagnostic's shape) references the token-hash array once TEXTUALLY but
# inside the bit lambda, so CollapseProject inlines the hoisted projection
# (single textual reference = collapsible) and the md5 tokenization
# re-executes once PER BIT — 60x the corpus hash cost, invisible at test
# scale (caught by the plan pin below). The single-pass form is immune:
# however Catalyst inlines it, the token array is consumed by exactly one
# fold, so each token hashes once per doc.
#
# Banding is the Manku et al. (WWW'07) pigeonhole scheme, sized for
# 10^9+ docs: split 60 bits into 6 blocks of 10; hamming(a,b) <= 3 means
# at most 3 blocks differ, so >= 3 blocks agree, so a and b collide in at
# least one of the C(6,3) = 20 tables keyed on a 30-bit block triple.
# 30-bit keys put ~N/2^30 docs in a bucket (~1 at 10^9 docs) — the 4x8-bit
# banding a 32-bit fingerprint would allow puts N/256 there (quadratic
# blowup at any web scale). 20 cheap shift/mask projections of the ONE
# persisted simhash frame, never 20 recomputations. Candidate generation
# is COMPLETE (no false negatives <= the radius); false positives are
# killed by the exact bit_count verify.
# ---------------------------------------------------------------------------
SIMHASH_BITS = 60
SIMHASH_HAM_K = 3  # report pairs with hamming <= 3
_SIMHASH_BLOCK_BITS = 10
_SIMHASH_TABLES = tuple(
    (j1, j2, j3) for j1 in range(6) for j2 in range(j1 + 1, 6) for j3 in range(j2 + 1, 6)
)  # C(6,3) = 20 block triples


# null text -> NULL token array -> NULL fingerprint -> NULL band keys,
# which never equi-join: null-text docs produce NO candidate pairs — the
# same null POLICY as the minhash family (null-propagating band concat),
# asserted cross-engine by the _nulls variant (the oracle explicitly
# propagates NULL past its fold, whose CASE would otherwise yield 0 and
# pair every null doc at distance 0)
_TOKEN_HASHES = (
    f"transform(array_distinct(split(text, ' ')), t -> {sql_expr_md5_long('t')})"
)

_SIMHASH60 = f"""
  aggregate(
    zip_with(
      aggregate(
        __th,
        transform(sequence(0, {SIMHASH_BITS - 1}), b -> 0),
        (acc, h) -> zip_with(acc, sequence(0, {SIMHASH_BITS - 1}),
                             (c, b) -> c + IF((shiftright(h, b) & 1) = 1, 1, -1))),
      sequence(0, {SIMHASH_BITS - 1}),
      (c, b) -> IF(c > 0, shiftleft(1L, b), 0L)),
    0L, (x, y) -> x + y)
"""


def _simhash_block_key(j1: int, j2: int, j3: int, col: str = "simhash") -> str:
    """30-bit key = the (j1, j2, j3) block triple packed numerically."""
    b = _SIMHASH_BLOCK_BITS
    m = (1 << b) - 1
    return (
        f"(shiftright({col}, {b * j1}) & {m}) * {1 << (2 * b)}"
        f" + (shiftright({col}, {b * j2}) & {m}) * {1 << b}"
        f" + (shiftright({col}, {b * j3}) & {m})"
    )


def q_dedup_simhash_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """All document pairs within SimHash Hamming distance {SIMHASH_HAM_K},
    via the block-banded candidate join described above. Output:
    (doc_a, doc_b, hamming). Over-capacity block keys are dropped-and-
    logged before the self-join (plans/guards.py) — a boilerplate corpus
    collapsing into one fingerprint cannot go quadratic; the oracle
    encodes the same cap."""
    # fan_out: the fingerprint fold is the heaviest per-row map work in
    # the module — a single-row-group scan would run it on one core
    return _simhash_pairs(
        load(spark, sf_dir, "documents", fan_out=True), bucket_cap
    )


def q_dedup_simhash_pairs_nulls(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """The Hamming pair pipeline over the null-bearing corpus: null-text
    docs get NULL fingerprints, so their band keys never equi-join —
    engine and oracle must agree that null-text docs produce no pairs
    (the dedup-family null policy; without the oracle-side NULL
    propagation every null doc would pair at distance 0)."""
    return _simhash_pairs(
        docs_with_nulls(load(spark, sf_dir, "documents", fan_out=True)),
        bucket_cap,
    )


def _simhash_pairs(d: DataFrame, bucket_cap: int | None) -> DataFrame:
    # persist: the 60-bit fingerprint frame feeds the 20-key band explode
    # AND (via bands) both sides of the candidate self-join
    sh = (
        d.select("doc_id", F.expr(_TOKEN_HASHES).alias("__th"))
        .select("doc_id", F.expr(_SIMHASH60).alias("simhash"))
        .persist()
    )
    # ONE pass emits all 20 table keys per doc (explode of a 20-element
    # array of cheap shift/masks) instead of a 20-way union of projections
    # of the cached frame: one cache read and one Generate per stage, and
    # the partition count stays the scan's instead of multiplying 20x.
    # Each key packs (table id, 30-bit block triple) into ONE long — a
    # single-column hash/compare in the occupancy agg and the self-join,
    # and a narrower shuffle row than (int band, long key). A NULL
    # fingerprint yields 20 NULL-key rows, exactly as the union did.
    key_exprs = [
        f"{band * (1 << 30)}L + ({_simhash_block_key(j1, j2, j3)})"
        for band, (j1, j2, j3) in enumerate(_SIMHASH_TABLES)
    ]
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.expr("array(" + ", ".join(key_exprs) + ")")).alias("bkey"),
    )
    # hamming computed and filtered BEFORE the dedup: bit_count is a cheap
    # codegen expression, hamming is functionally determined by the pair,
    # and most within-bucket collisions fail the radius — so the distinct
    # shuffles only matching pairs (<= 20x multiplicity) instead of every
    # candidate row with two 8-byte fingerprints in tow
    return (
        guarded_self_join(bands, ("bkey",), "doc_id", bucket_cap, "dedup_simhash_pairs")
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_HAM_K)
        .distinct()
    )


def _sql_simhash_pairs(
    cap: int = DEFAULT_BUCKET_CAP, table: str = "documents", prelude: str = ""
) -> str:
    b = _SIMHASH_BLOCK_BITS
    m = (1 << b) - 1
    band_sql = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {band} AS band, "
        f"((simhash >> {b * j1}) & {m}) * {1 << (2 * b)}"
        f" + ((simhash >> {b * j2}) & {m}) * {1 << b}"
        f" + ((simhash >> {b * j3}) & {m}) AS key FROM sh"
        for band, (j1, j2, j3) in enumerate(_SIMHASH_TABLES)
    )
    return f"""
WITH {prelude}th AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split(text, ' ')),
                        t -> {sql_md5_long('t')}) AS th
  FROM {table}
),
sh AS (
  SELECT doc_id,
    CASE WHEN th IS NULL THEN NULL ELSE
    list_reduce(
      [CAST(0 AS BIGINT)] ||
      list_transform(range({SIMHASH_BITS}), b ->
        CASE WHEN list_reduce([0] ||
               list_transform(th, h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END),
               (x, y) -> x + y) > 0
             THEN CAST(1 AS BIGINT) << b ELSE 0 END),
      (x, y) -> x + y)
    END AS simhash
  FROM th
),
bands AS (
  {band_sql}
),
ok AS (SELECT band, key FROM bands GROUP BY band, key HAVING COUNT(*) <= {cap}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa, b.doc_id AS doc_b, b.simhash AS sb
  FROM bands a
  JOIN ok ON ok.band = a.band AND ok.key = a.key
  JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {SIMHASH_HAM_K}
"""


SQL_DEDUP_SIMHASH_PAIRS = _sql_simhash_pairs()

SQL_DEDUP_SIMHASH_PAIRS_NULLS = _sql_simhash_pairs(
    table="documents_nulls", prelude=f"{SQL_DOCS_WITH_NULLS_CTE},\n"
)


# ---------------------------------------------------------------------------
# n-gram shingle Jaccard
# ---------------------------------------------------------------------------
# tokenization HOISTED into its own projection: higher-order lambdas are
# interpreted with no CSE, so inlining split() into the per-element slice()
# re-tokenizes the document once PER SHINGLE — O(words²)/doc (measured 3×
# slower on the sf0.1 corpus). CollapseProject keeps the hoist because the
# alias is multi-referenced and non-cheap.
_SHINGLE_OVER_TOKENS = (
    "array_distinct(transform(sequence(1, greatest(size(__tk) - 2, 1)), "
    "i -> concat_ws(' ', slice(__tk, i, 3))))"
)


def shingles_frame(d: DataFrame) -> DataFrame:
    """(doc_id, sh: array<string>) — each doc's distinct token trigrams,
    with tokenization hoisted to its own projection (see
    ``_SHINGLE_OVER_TOKENS``)."""
    return d.select("doc_id", F.split("text", " ").alias("__tk")).select(
        "doc_id", F.expr(_SHINGLE_OVER_TOKENS).alias("sh")
    )


def q_dedup_ngram_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """3-gram (token trigram) Jaccard near-dup pairs via LOSSLESS prefix
    filtering (PPJoin-style), replacing the round-1 MinHash-LSH blocking
    (recall ≈0.97 per pair at the threshold): if J(A,B) ≥ t then
    |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, so the element of A∩B that is SMALLEST in a
    global (df ASC, shingle ASC) ordering must sit inside BOTH docs'
    (|X| − ⌈t·|X|⌉ + 1)-prefixes — only prefixes join, and rarest-first
    ordering collapses the join volume from Σ_g df(g)² to rare-key terms.
    Candidates are then exact-Jaccard verified, so the output is the
    COMPLETE pair set (asserted vs the all-pairs direct computation by
    ``test_ngram_prefix_filter_is_lossless``) — deterministic, no banding
    recall knob, and no per-doc minhash folds at all. Shingles above
    ``bucket_cap`` document frequency are dropped-and-logged
    (plans/guards.py) exactly as in the containment joins; the cap never
    fires on the driver corpora (test_scale_guards)."""
    # fan_out: tokenize+shingle is the heaviest pre-exchange map work in
    # the prefix-join pipeline (interleaved A/B: 1.99 -> 1.86 s min)
    d = load(spark, sf_dir, "documents", fan_out=True)
    # persist: sh feeds the explode AND the exact-Jaccard verify join;
    # the exploded index feeds the df aggregation, the rank window and the
    # prefix self-join
    sh = shingles_frame(d).persist()
    # sz rides the explode: |sh(X)| is size(sh) — no per-doc counting
    # aggregation (and no sizes join) is needed, the exploded row count per
    # doc IS the array length. The kernel ranks shingles rarest-first by
    # the guard's own document frequencies and self-joins the prefixes.
    ex = sh.select("doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("g"))
    joined, _ = guarded_prefix_join(
        ex, "g", "doc_id", NGRAM_THRESHOLD, bucket_cap, "dedup_ngram_pairs"
    )
    # PPJoin position filter, also lossless: for the FIRST common element
    # in the global order, matched at ranks (r_a, r_b), the overlap can be
    # at most 1 + min(sz_a − r_a, sz_b − r_b); a valid pair needs overlap
    # ≥ ⌈t/(1+t)·(sz_a+sz_b)⌉ (|I| ≥ t·|U| with |U| = sz_a+sz_b−|I|), so
    # a valid pair always survives via its first common element. The 1e-9
    # slack keeps the bound WEAK under double rounding of t/(1+t) (a
    # too-strict ceil at an exact-integer boundary could drop a valid
    # pair; a too-weak one only passes junk the exact verify removes).
    o_req = F.ceil(
        F.lit(NGRAM_THRESHOLD / (1.0 + NGRAM_THRESHOLD))
        * (F.col("a.sz") + F.col("b.sz"))
        - F.lit(1e-9)
    )
    cand = (
        joined.where(
            1 + F.least(F.col("a.sz") - F.col("a.r"), F.col("b.sz") - F.col("b.r"))
            >= o_req
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # shared verify join (size filter + exact Jaccard); the rename is a
    # projection over the persisted sh frame — the cache is still hit
    return _verify_jaccard(
        cand,
        sh.withColumnRenamed("sh", "toks"),
        "doc_a",
        "doc_b",
        NGRAM_THRESHOLD,
    )


# the oracle-side trigram shingle definition — single source, mirrored by
# the engine-side _SHINGLE_OVER_TOKENS; decontamination imports both
SQL_SHINGLE_LIST = (
    "list_distinct(list_transform("
    "range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1), "
    "i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))"
)


SQL_DEDUP_NGRAM_PAIRS = f"""
WITH sh AS (
  SELECT doc_id, {SQL_SHINGLE_LIST} AS sh
  FROM documents
),
ex AS (SELECT doc_id, UNNEST(sh) AS g FROM sh),
dfreq AS (
  SELECT g, COUNT(*) AS df FROM ex GROUP BY g
  HAVING COUNT(*) <= {DEFAULT_BUCKET_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
ranked AS (
  SELECT ex.doc_id, ex.g, s.sz,
         ROW_NUMBER() OVER (PARTITION BY ex.doc_id ORDER BY d.df ASC, ex.g ASC) AS r
  FROM ex JOIN dfreq d USING (g) JOIN sizes s USING (doc_id)
),
pfx AS (
  SELECT doc_id, g, r, sz FROM ranked
  WHERE r <= sz - CAST(ceil({NGRAM_THRESHOLD} * sz) AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pfx a JOIN pfx b USING (g)
  WHERE a.doc_id < b.doc_id
    AND 1 + least(a.sz - a.r, b.sz - b.r)
        >= CAST(ceil({NGRAM_THRESHOLD / (1.0 + NGRAM_THRESHOLD)!r} * (a.sz + b.sz) - 1e-9) AS BIGINT)
)
SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / len(list_distinct(a.sh || b.sh)) AS jac
  FROM cand JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b
) WHERE jac >= {NGRAM_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# asymmetric containment pairs: |sh(A) ∩ sh(B)| / |sh(A)|
# ---------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.6


def q_dedup_containment_pairs(
    spark: SparkSession, sf_dir: str, df_cap: int | None = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs: doc A is flagged against doc
    B when |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ {threshold} — the
    quote/subset-duplication measure Jaccard cannot see (a short doc fully
    embedded in a long one has low Jaccard but containment 1.0), which is
    also why MinHash-LSH blocking is the WRONG candidate generator here
    (it approximates Jaccard). The exact set-similarity-join shape instead:
    explode to (shingle, doc), self-join on the shingle, and the per-pair
    row count IS |∩| (shingles are distinct per doc) — no array intersect
    pass at all. Scale guard: the join's per-key fan-out is df(g)², so
    shingles above ``df_cap`` corpus document frequency are dropped-and-
    logged exactly as in the decontamination join; the containment
    denominator stays the UNguarded |shingles(A)| in both engines.
    Production corpora would add prefix filtering on top; the df cap is
    what makes the worst case bounded."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    ex = shingles_frame(d).select("doc_id", F.explode("sh").alias("g"))
    # sizes reads the frame the kernel persists
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz_a"))
    pairs = (
        guarded_self_join(
            ex, ("g",), "doc_id", df_cap, "dedup_containment_pairs", asymmetric=True
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    # filter on the RAW ratio (like every other threshold in this module),
    # round only the reported value — filtering post-round would diverge
    # from the oracle for ratios in [threshold - 5e-7, threshold)
    raw = F.col("n_shared").cast("double") / F.col("sz_a")
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .where(raw >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a", "doc_b", "n_shared", F.round(raw, 6).alias("containment")
        )
    )


SQL_DEDUP_CONTAINMENT_PAIRS = f"""
WITH sh AS (
  SELECT doc_id, UNNEST({SQL_SHINGLE_LIST}) AS g FROM documents
),
ok AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= {DEFAULT_BUCKET_CAP}),
sizes AS (SELECT doc_id, COUNT(*) AS sz_a FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM (SELECT doc_id, g FROM sh JOIN ok USING (g)) a
  JOIN (SELECT doc_id, g FROM sh JOIN ok USING (g)) b USING (g)
  WHERE a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       round(CAST(n_shared AS DOUBLE) / sz_a, 6) AS containment
FROM pairs JOIN sizes ON sizes.doc_id = doc_a
WHERE CAST(n_shared AS DOUBLE) / sz_a >= {CONTAINMENT_THRESHOLD}
"""


def q_dedup_containment_prefix(
    spark: SparkSession, sf_dir: str, df_cap: int | None = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """The SCALE path for containment: LOSSLESS prefix filtering
    (PPJoin-style). If |sh(A) ∩ sh(B)| ≥ t·|sh(A)| then A's
    (|A| − ⌈t·|A|⌉ + 1) RAREST shingles (global df ascending, shingle
    tie-break) must intersect sh(B) — so only A's prefix joins against the
    index, and because the prefix is chosen rarest-first the join volume
    collapses from Σ_g df(g)² to Σ_g df_prefix(g)·df(g) with
    df_prefix skewed to rare keys. Candidates are then verified with the
    EXACT shared-shingle count, so the result is bit-identical to
    ``q_dedup_containment_pairs`` (asserted by pytest). The df cap still
    guards the degenerate corpus; the df ordering it needs is the same
    aggregation, shared."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    # sz rides the explode (shingles are distinct per doc, so size(sh) is
    # the per-doc row count); A's prefix joins B's full guarded index
    ex = shingles_frame(d).select(
        "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("g")
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz_a"))
    joined, index = guarded_prefix_join(
        ex,
        "g",
        "doc_id",
        CONTAINMENT_THRESHOLD,
        df_cap,
        "dedup_containment_prefix",
        asymmetric=True,
    )
    cand = joined.select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).distinct()
    # exact verify: the true shared count over the GUARDED key set (the
    # same |∩| the direct operator counts), denominator = full |sh(A)|
    shared = (
        cand.join(index.alias("xa"), (F.col("doc_a") == F.col("xa.doc_id")))
        .join(
            index.alias("xb"),
            (F.col("doc_b") == F.col("xb.doc_id"))
            & (F.col("xa.g") == F.col("xb.g")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    raw = F.col("n_shared").cast("double") / F.col("sz_a")
    return (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .where(raw >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a", "doc_b", "n_shared", F.round(raw, 6).alias("containment")
        )
    )


SQL_DEDUP_CONTAINMENT_PREFIX = f"""
WITH sh AS (
  SELECT doc_id, UNNEST({SQL_SHINGLE_LIST}) AS g FROM documents
),
dfreq AS (SELECT g, COUNT(*) AS df FROM sh GROUP BY g HAVING COUNT(*) <= {DEFAULT_BUCKET_CAP}),
sizes AS (SELECT doc_id, COUNT(*) AS sz_a FROM sh GROUP BY doc_id),
ranked AS (
  SELECT sh.doc_id, sh.g, s.sz_a,
         ROW_NUMBER() OVER (PARTITION BY sh.doc_id ORDER BY d.df ASC, sh.g ASC) AS r
  FROM sh JOIN dfreq d USING (g) JOIN sizes s USING (doc_id)
),
prefix AS (
  SELECT doc_id, g FROM ranked
  WHERE r <= sz_a - CAST(ceil({CONTAINMENT_THRESHOLD} * sz_a) AS BIGINT) + 1
),
idx AS (SELECT doc_id, g FROM sh JOIN dfreq USING (g)),
cand AS (
  SELECT DISTINCT p.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix p JOIN idx b USING (g)
  WHERE p.doc_id <> b.doc_id
),
shared AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
  FROM cand c
  JOIN idx xa ON xa.doc_id = c.doc_a
  JOIN idx xb ON xb.doc_id = c.doc_b AND xb.g = xa.g
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, n_shared,
       round(CAST(n_shared AS DOUBLE) / sz_a, 6) AS containment
FROM shared JOIN sizes ON sizes.doc_id = doc_a
WHERE CAST(n_shared AS DOUBLE) / sz_a >= {CONTAINMENT_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Line-level dedup (RefinedWeb/CCNet boilerplate-segment removal).
#
# The intra-corpus counterpart of decontamination: segments repeated across
# many DOCUMENTS are navigation/boilerplate, and the pipeline removes the
# SEGMENT (keeping the doc) rather than dropping whole docs. The synthetic
# corpus has no newline structure, so the segmenter is fixed
# ``LINE_SEG_WORDS``-word windows — production swaps split-on-newline into
# the same plumbing (segment → cross-doc frequency → drop → ordered
# reassembly) without touching anything else.
#
# Scale shape: segments explode to ~N·L/w rows; the document-frequency
# aggregation is (seg, doc_id)-distinct → per-seg count (both uniform
# hash-agg keys with map-side partials); the boiler set joins back on the
# segment key (small build side — only over-threshold segments). There is
# NO self-join anywhere, so no occupancy guard is needed: a hot segment
# costs one counter and one anti-join probe, never a quadratic bucket.
# Reassembly is a per-DOC sort of that doc's own segments (doc-grain,
# bounded by the doc length — never a hot-key array merge).
# ---------------------------------------------------------------------------
LINE_SEG_WORDS = 8
LINE_DF_THRESHOLD = 3  # a segment in >= 3 distinct docs is boilerplate

# THE segmenter, over a hoisted token-array column ``t`` — shared by the
# batch operator and the streaming wave loop (one definition, like
# _SHINGLE_OVER_TOKENS). ``t`` is referenced twice textually (size + the
# per-element slice), so CollapseProject keeps the hoist and tokenization
# runs once per doc — inlining split() here would re-tokenize once per
# SEGMENT (O(L²/w)/row, the CLAUDE.md anti-pattern).
_SEGMENTS_OVER_T = (
    f"transform(sequence(0, CAST(ceil(size(t) / {LINE_SEG_WORDS}.0) AS INT) - 1), "
    f"i -> concat_ws(' ', slice(t, i * {LINE_SEG_WORDS} + 1, {LINE_SEG_WORDS})))"
)


def line_segment_rows(d: DataFrame) -> DataFrame:
    """(doc_id, seg_idx, seg) — the exploded segment rows for non-null-text
    docs; the ONE segmenter both line-dedup cadences build on."""
    return (
        d.where(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
        .select(
            "doc_id",
            F.posexplode(F.expr(_SEGMENTS_OVER_T)).alias("seg_idx", "seg"),
        )
    )


def q_docs_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: segment count, boilerplate-segment count, and the cleaned
    text with boilerplate segments removed (order-preserving reassembly).
    Output: (doc_id, n_segs, n_boiler_segs, clean_text)."""
    d = load(spark, sf_dir, "documents")
    # persist: the exploded segment frame feeds the df aggregation AND the
    # flag join + reassembly
    segs = line_segment_rows(d).persist()
    boiler = (
        segs.select("seg", "doc_id")
        .distinct()
        .groupBy("seg")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= LINE_DF_THRESHOLD)
        .select("seg", F.lit(1).alias("b"))
    )
    flagged = segs.join(boiler, "seg", "left").select(
        "doc_id", "seg_idx", "seg", F.coalesce("b", F.lit(0)).alias("b")
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segs"),
        F.sum("b").alias("n_boiler_segs"),
        F.expr(
            "concat_ws(' ', transform(filter(array_sort(collect_list("
            "struct(seg_idx, seg, b))), x -> x.b = 0), x -> x.seg))"
        ).alias("clean_text"),
    )


SQL_DOCS_LINE_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL
),
segs AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(t[(i * {LINE_SEG_WORDS} + 1):((i + 1) * {LINE_SEG_WORDS})], ' ') AS seg
  FROM toks, UNNEST(range(CAST(ceil(len(t) / {LINE_SEG_WORDS}.0) AS BIGINT))) AS u(i)
),
boiler AS (
  SELECT seg FROM (
    SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg
  ) WHERE df >= {LINE_DF_THRESHOLD}
),
flagged AS (
  SELECT s.doc_id, s.seg_idx, s.seg,
         CASE WHEN b.seg IS NULL THEN 0 ELSE 1 END AS b
  FROM segs s LEFT JOIN boiler b USING (seg)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(b) AS BIGINT) AS n_boiler_segs,
       COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE b = 0), '') AS clean_text
FROM flagged
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr variant).
#
# Stride-1 w-token windows; a window whose FULL TEXT occurs >= 2 times
# anywhere in the corpus marks its token interval [pos, pos+w) as
# duplicated; per doc, overlapping-or-touching marked intervals merge into
# maximal removal spans (gaps-and-islands). This reports ALL occurrences of
# duplicated runs — the keep-one-copy policy is a downstream choice the
# span table supports either way.
#
# Scale shape: the published method builds a suffix array; the Spark-first
# equivalent keys windows on their md5 (group-by + join on a uniform
# 128-bit key — no suffix-array construction, no self-join, no occupancy
# guard needed: each window row matches at most one dup-set row). Windows
# explode to ~N·L rows but carry a 32-char hash, never the w-token string,
# past the first projection. The frequency count is one corpus shuffle with
# map-side partials; the dup set joins back on the same uniform key; the
# interval merge is a per-DOC window function (doc-grain, bounded by doc
# length — the accepted reassembly pattern, never a hot key). Reported
# columns are all integers, so cross-engine order and hashes are exact.
# ---------------------------------------------------------------------------
SUBSTR_W = 8  # window width in tokens

# stride-1 window hashes over a hoisted token-array column ``t`` (referenced
# multiple times textually — the hoist survives CollapseProject). The IF
# guard matters: Spark's sequence(0, n) with n < 0 yields a DESCENDING
# sequence, not an empty one.
_WINTEXT_OVER_T = (
    f"IF(size(t) >= {SUBSTR_W}, "
    f"transform(sequence(0, size(t) - {SUBSTR_W}), "
    f"i -> concat_ws(' ', slice(t, i + 1, {SUBSTR_W}))), "
    "array())"
)


def _substr_wins(d) -> DataFrame:
    """(doc_id, pos, wh) stride-1 window-hash rows, persisted — every
    ExactSubstr variant consumes this frame at least twice (frequency/
    keeper aggregation + mark join), so the frame that creates the double
    consumption owns the persist (house rule).

    The md5 runs in a codegen projection AFTER the posexplode, not inside
    the interpreted transform lambda (measured −31% on the materialize at
    sf0.1; same hashes). The exploded window TEXT exists only transiently
    inside the map stage — the persisted frame and everything shuffled
    downstream still carry the 32-char hash, never the w-token string."""
    return (
        d.where(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
        .select(
            "doc_id", F.posexplode(F.expr(_WINTEXT_OVER_T)).alias("pos", "wtext")
        )
        .select("doc_id", "pos", F.md5("wtext").alias("wh"))
        .persist()
    )


def _substr_spans_from_marked(marked) -> DataFrame:
    """Merge a (doc_id, pos) marked-window frame into maximal removal
    spans via gaps-and-islands — the shared tail of every marking
    policy (doc-grain windows, bounded by doc length)."""
    w_ord = Window.partitionBy("doc_id").orderBy(F.asc("pos"))
    isl = marked.select(
        "doc_id",
        "pos",
        F.when(
            F.lag("pos").over(w_ord).isNull()
            | (F.col("pos") > F.lag("pos").over(w_ord) + SUBSTR_W),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    ).select(
        "doc_id",
        "pos",
        F.sum("brk").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias("island"),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("tok_start"),
        (F.max("pos") + SUBSTR_W).alias("tok_end"),
        F.count(F.lit(1)).alias("n_windows"),
    )
    return spans.select(
        "doc_id",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy(F.asc("tok_start")))
        .alias("span_seq"),
        "tok_start",
        "tok_end",
        "n_windows",
    )


def q_docs_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring spans per document:
    (doc_id, span_seq, tok_start, tok_end, n_windows) — tok_end exclusive,
    spans ordered by tok_start, n_windows = marked stride-1 windows merged
    into the span."""
    # fan_out: stride-1 window hashing is token-grain map work — a
    # single-row-group scan would hash the whole corpus on one core
    wins = _substr_wins(load(spark, sf_dir, "documents", fan_out=True))
    dup = (
        wins.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("wh")
    )
    marked = wins.join(dup, "wh").select("doc_id", "pos")
    return _substr_spans_from_marked(marked)


# The ExactSubstr SQL is assembled from shared parts — tokenize/window,
# a per-POLICY ``marked`` CTE, and the gaps-and-islands merge — so every
# variant (report, remove-all apply, keep-one apply) provably agrees on
# what a window and a span are.
_SQL_SUBSTR_WINS_CTES = f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL
),
wins AS MATERIALIZED (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         md5(array_to_string(t[(CAST(i AS INTEGER) + 1):(CAST(i AS INTEGER) + {SUBSTR_W})], ' ')) AS wh
  FROM toks, UNNEST(range(len(t) - {SUBSTR_W} + 1)) AS u(i)
)"""

# remove-all policy: every occurrence of a duplicated window is marked
_SQL_SUBSTR_MARKED_ALL = """dup AS (
  SELECT wh FROM (SELECT wh, COUNT(*) AS c FROM wins GROUP BY wh) WHERE c >= 2
),
marked AS (
  SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (wh)
)"""

# keep-one policy: the lexicographically-first (doc_id, pos) occurrence
# of each duplicated window is the KEEPER; all other occurrences are
# marked. Arg-min as two chained aggregates (min doc, then min pos
# within that doc) — no per-wh window sort anywhere, so a boilerplate
# run repeated 10⁸ times costs two counters, never a hot-key sort.
_SQL_SUBSTR_MARKED_KEEP_ONE = """k1 AS MATERIALIZED (
  SELECT wh, MIN(doc_id) AS kd FROM wins GROUP BY wh HAVING COUNT(*) >= 2
),
k2 AS MATERIALIZED (
  SELECT w.wh, MIN(w.pos) AS kp
  FROM wins w JOIN k1 ON w.wh = k1.wh AND w.doc_id = k1.kd
  GROUP BY w.wh
),
marked AS (
  SELECT w.doc_id, w.pos
  FROM wins w JOIN k1 USING (wh) JOIN k2 USING (wh)
  WHERE NOT (w.doc_id = k1.kd AND w.pos = k2.kp)
)"""

_SQL_SUBSTR_MERGE_CTES = f"""isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                   OR pos > lag(pos) OVER w + {SUBSTR_W}
              THEN 1 ELSE 0 END AS brk
  FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, MIN(pos) AS tok_start,
         MAX(pos) + {SUBSTR_W} AS tok_end, COUNT(*) AS n_windows
  FROM grp GROUP BY doc_id, island
)"""

SQL_DOCS_SUBSTRING_DEDUP = f"""
WITH {_SQL_SUBSTR_WINS_CTES},
{_SQL_SUBSTR_MARKED_ALL},
{_SQL_SUBSTR_MERGE_CTES}
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tok_start) AS INT)
         AS span_seq,
       CAST(tok_start AS INTEGER) AS tok_start,
       CAST(tok_end AS INTEGER) AS tok_end,
       CAST(n_windows AS BIGINT) AS n_windows
FROM spans
"""

# the apply (cut) tail shared by both removal policies
_SQL_SUBSTR_APPLY_TAIL = """pos AS (
  SELECT doc_id, t, CAST(i AS INTEGER) AS i, t[CAST(i AS INTEGER) + 1] AS tok
  FROM toks, UNNEST(range(len(t))) AS u(i)
),
flagged AS (
  SELECT p.doc_id, p.i, p.tok,
         EXISTS (
           SELECT 1 FROM spans s
           WHERE s.doc_id = p.doc_id
             AND p.i >= s.tok_start AND p.i < s.tok_end
         ) AS covered
  FROM pos p
)
SELECT doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_tokens,
       CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS INTEGER) AS n_removed,
       COALESCE(string_agg(CASE WHEN covered THEN NULL ELSE tok END, ' '
                           ORDER BY i), '') AS clean_text
FROM flagged
GROUP BY doc_id"""


def q_docs_substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL pass over the ExactSubstr reporter's merged spans
    (Lee et al.'s deletion step): every marked token interval is cut out
    of every occurrence (the remove-ALL-occurrences policy — simple,
    deterministic, needs no global keep-one election; the span table
    supports a keep-one policy downstream if wanted). Emits
    (doc_id, n_tokens, n_removed, clean_text) for every non-NULL-text
    doc — docs without duplicated spans pass through verbatim (split/
    join on a single space is an exact round trip, empty-string tokens
    included).

    Scale shape: the spans fold to ONE array row per doc (doc-grain,
    bounded by doc length — the accepted per-doc reassembly pattern, as
    in docs_line_dedup), the rebuild joins docs⋈spans on the uniform
    doc_id, and the cut is a per-row array_except over the position
    range — no token-grain join, no self-join, no new guard surface."""
    return _substr_apply(
        load(spark, sf_dir, "documents"), q_docs_substring_dedup(spark, sf_dir)
    )


def _substr_apply(d, spans) -> DataFrame:
    """The shared cut tail of both removal policies: fold ``spans`` to
    one array row per doc, join on the uniform doc_id, cut by
    array_except over the position range, rebuild text."""
    sp = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("tok_start", "tok_end"))).alias("sp")
    )
    docs = d.where(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("t")
    )
    kept = (
        "CASE WHEN sp IS NULL THEN t ELSE "
        "transform(array_except(sequence(0, size(t) - 1), "
        "flatten(transform(sp, s -> sequence(s.tok_start, s.tok_end - 1)))), "
        "i -> t[i]) END"
    )
    return (
        docs.join(sp, "doc_id", "left")
        .select("doc_id", F.col("t").alias("t"), F.expr(kept).alias("kept"))
        .select(
            "doc_id",
            F.size("t").alias("n_tokens"),
            (F.size("t") - F.size("kept")).alias("n_removed"),
            F.concat_ws(" ", F.col("kept")).alias("clean_text"),
        )
    )


def q_docs_substring_dedup_keep_one(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The KEEP-ONE removal policy (what Lee et al.'s released dedup
    actually does): for every duplicated window the lexicographically
    first (doc_id, pos) occurrence is the KEEPER and survives; every
    other occurrence is marked and cut. Same output shape as the
    remove-all apply. The corpus keeps exactly one copy of every
    duplicated run (modulo overlap with OTHER duplicated windows — the
    policy is window-level, as published).

    Scale shape: the keeper election is TWO chained hash aggregates on
    the uniform window-hash key (min doc_id per hash, then min pos
    within that doc) — an arg-min with map-side partials, NEVER a
    per-hash window sort, so a boilerplate run repeated 10⁸ times costs
    two counters, not a 10⁸-row single-key sort. The mark join and the
    cut tail are shared with the other variants."""
    # one fan-out load feeds both the window hashing and the cut tail
    # (interleaved A/B vs a separate plain load for the tail: no slowdown)
    d = load(spark, sf_dir, "documents", fan_out=True)
    wins = _substr_wins(d)
    k1 = (
        wins.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("c"), F.min("doc_id").alias("kd"))
        .where(F.col("c") >= 2)
        .select("wh", "kd")
    )
    k2 = (
        wins.join(k1, "wh")
        .where(F.col("doc_id") == F.col("kd"))
        .groupBy("wh")
        .agg(F.min("pos").alias("kp"))
    )
    marked = (
        wins.join(k1, "wh")
        .join(k2, "wh")
        .where(~((F.col("doc_id") == F.col("kd")) & (F.col("pos") == F.col("kp"))))
        .select("doc_id", "pos")
    )
    return _substr_apply(d, _substr_spans_from_marked(marked))


SQL_DOCS_SUBSTRING_DEDUP_APPLY = f"""
WITH {_SQL_SUBSTR_WINS_CTES},
{_SQL_SUBSTR_MARKED_ALL},
{_SQL_SUBSTR_MERGE_CTES},
{_SQL_SUBSTR_APPLY_TAIL}
"""

SQL_DOCS_SUBSTRING_DEDUP_KEEP_ONE = f"""
WITH {_SQL_SUBSTR_WINS_CTES},
{_SQL_SUBSTR_MARKED_KEEP_ONE},
{_SQL_SUBSTR_MERGE_CTES},
{_SQL_SUBSTR_APPLY_TAIL}
"""


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
# algorithm): from each window of W consecutive k-gram hashes, select the
# RIGHTMOST MINIMAL hash. Guarantees: any shared run of at least
# K + W - 1 tokens shares at least one selected fingerprint (the
# detection floor), and expected density is 2/(W+1) — a principled,
# position-robust sample of the document instead of stride-S truncation.
# ---------------------------------------------------------------------------
WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 4  # k-gram hashes per winnowing window

# hoisted k-gram hash array over the token array ``t``. The IF guard
# matters (sequence(0, n) DESCENDS for n < 0); the downstream window
# transform references ``hs`` THREE times textually, so CollapseProject
# keeps this projection hoisted (the r9 simhash lesson) — plan-pinned.
_WINNOW_HS = (
    f"IF(size(t) >= {WINNOW_K}, "
    f"transform(sequence(0, size(t) - {WINNOW_K}), i -> "
    + sql_expr_md5_long(f"concat_ws(' ', slice(t, i + 1, {WINNOW_K}))")
    + "), array())"
)

# per-window rightmost-minimal selection: ascending fold with h <= acc.h
# (ties replace → rightmost), init above any 60-bit hash
_WINNOW_FPS = (
    f"IF(size(hs) >= {WINNOW_W}, "
    f"transform(sequence(0, size(hs) - {WINNOW_W}), "
    f"j -> aggregate(sequence(j, j + {WINNOW_W} - 1), "
    "named_struct('h', 9223372036854775807L, 'p', -1), "
    "(acc, i) -> IF(hs[i] <= acc.h, named_struct('h', hs[i], 'p', i), acc))), "
    "array())"
)


def q_docs_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection: (doc_id, fp_pos, fp_hash) — the
    distinct (position, hash) pairs the MOSS window rule selects. Two
    docs sharing any K+W-1-token run share at least one fp_hash (the
    guarantee a fingerprint JOIN then exploits for candidate pairing,
    at ~2/(W+1) of the k-gram volume). Docs with fewer than K+W-1
    tokens emit nothing (no complete window) in BOTH engines.

    Scale shape: map-only until the final distinct — one hoisted k-gram
    hash projection (md5 ONCE per k-gram; the collapsed alternative
    re-hashes once per window, plan-pinned out), one per-window fold
    projection, explode, then a (doc_id, pos, hash) distinct on uniform
    keys. No joins anywhere. The md5 stays INSIDE the k-gram transform
    (unlike the ExactSubstr r10 hoist) because the window fold consumes
    the hash ARRAY in place — moving the hash post-explode would need a
    re-collect shuffle. fan_out: the per-k-gram md5 is heavy pre-exchange
    map work."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    return (
        d.where(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
        .select("doc_id", F.expr(_WINNOW_HS).alias("hs"))
        .select("doc_id", F.explode(F.expr(_WINNOW_FPS)).alias("fp"))
        .select(
            "doc_id",
            F.col("fp.p").cast("int").alias("fp_pos"),
            F.col("fp.h").alias("fp_hash"),
        )
        .distinct()
    )


# the fingerprint-selection CTE chain, shared by the fingerprint table
# and the candidate-pair join so both agree on what a fingerprint is
_SQL_WINNOW_CTES = f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL
),
ks AS MATERIALIZED (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         {sql_md5_long(f"array_to_string(t[(CAST(i AS INTEGER) + 1):(CAST(i AS INTEGER) + {WINNOW_K})], ' ')")} AS h
  FROM toks, UNNEST(range(len(t) - {WINNOW_K} + 1)) AS u(i)
),
nk AS (SELECT doc_id, COUNT(*) AS nk FROM ks GROUP BY doc_id),
sel AS (
  SELECT doc_id, pos, h FROM (
    SELECT j.doc_id, j.pos AS jpos, k.pos, k.h,
           ROW_NUMBER() OVER (PARTITION BY j.doc_id, j.pos
                              ORDER BY k.h ASC, k.pos DESC) AS rn
    FROM ks j
    JOIN nk USING (doc_id)
    JOIN ks k ON k.doc_id = j.doc_id
             AND k.pos BETWEEN j.pos AND j.pos + {WINNOW_W} - 1
    WHERE j.pos <= nk.nk - {WINNOW_W}
  ) WHERE rn = 1
)"""

SQL_DOCS_WINNOW_FINGERPRINTS = f"""
WITH {_SQL_WINNOW_CTES}
SELECT DISTINCT doc_id, CAST(pos AS INTEGER) AS fp_pos, h AS fp_hash
FROM sel
"""


def q_docs_winnow_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """Candidate near-dup pairs from shared winnowing fingerprints:
    (doc_a, doc_b, n_shared_fps) for every doc pair sharing at least one
    selected hash — the MOSS matching step. By the winnowing guarantee,
    any pair sharing a K+W-1-token run appears here.

    Scale shape: the self-join runs on the (doc_id, fp_hash)-distinct
    fingerprint table through ``guarded_self_join`` on fp_hash —
    the join's own shuffle key (house rule: a hash shared by more docs
    than the cap is boilerplate, non-discriminative by definition, and
    would go quadratic); the pair count is one hash aggregation on the
    uniform (doc_a, doc_b) key. The fingerprint table is ~2/(W+1) of
    the k-gram volume, so this joins a principled SAMPLE of the corpus,
    not its every window (the ExactSubstr reporter covers that need)."""
    fps = q_docs_winnow_fingerprints(spark, sf_dir).select("doc_id", "fp_hash").distinct()
    return (
        guarded_self_join(fps, ("fp_hash",), "doc_id", bucket_cap, "winnow_pairs")
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )


def _sql_winnow_pairs(cap: int = DEFAULT_BUCKET_CAP) -> str:
    return f"""
WITH {_SQL_WINNOW_CTES},
fph AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM sel),
ok AS (SELECT h FROM fph GROUP BY h HAVING COUNT(*) <= {cap})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_fps
FROM fph a
JOIN ok ON ok.h = a.h
JOIN fph b ON b.h = a.h AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
"""


SQL_DOCS_WINNOW_PAIRS = _sql_winnow_pairs()


# ---------------------------------------------------------------------------
# Content-defined chunking (FastCDC/gear-style, token granularity).
#
# Boundaries depend on CONTENT, not position: token t closes a chunk iff
# hash(t) % CDC_DIVISOR == 0, so inserting a token early in a document
# shifts only its own chunk's boundary — every later chunk re-aligns
# (the property that makes chunk-grain dedup robust to edits, which
# fixed-stride segments like LINE_SEG_WORDS are not). Average chunk
# length ≈ CDC_DIVISOR tokens by construction.
#
# Scale shape: explode is map-only; the cut flag is one portable md5 per
# token; chunk membership is a per-DOC running count of preceding cut
# flags (doc-grain window — the accepted reassembly pattern); reassembly
# is the standard ordered-struct sort per (doc, chunk). No joins.
# ---------------------------------------------------------------------------
CDC_DIVISOR = 8


def q_docs_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_idx, n_tokens, chunk_text, chunk_hash) — the
    content-defined chunk table. A cut token TERMINATES its chunk (it is
    the chunk's last member); the final chunk may end cut-less at EOF."""
    from pdfplucker_spark.functions.hashing import md5_long

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias(
            "i", "tok"
        ),
    )
    cut = (
        md5_long(F.concat(F.lit("cdc:"), F.col("tok"))) % CDC_DIVISOR == 0
    ).cast("int")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = toks.select("doc_id", "i", "tok", cut.alias("cut")).withColumn(
        "chunk_idx", F.coalesce(F.sum("cut").over(w), F.lit(0)).cast("int")
    )
    chunks = marked.groupBy("doc_id", "chunk_idx").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list(struct(i, tok))), "
            "x -> x.tok))"
        ).alias("chunk_text"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "n_tokens",
        "chunk_text",
        F.md5("chunk_text").alias("chunk_hash"),
    )


_SQL_CDC_CHUNKS_CTE = f"""
toks AS (
  SELECT doc_id,
         unnest(string_split(coalesce(text, ''), ' ')) AS tok,
         unnest(range(len(string_split(coalesce(text, ''), ' ')))) AS i
  FROM documents
),
marked AS (
  SELECT doc_id, i, tok,
         CASE WHEN {sql_md5_long("'cdc:' || tok")} % {CDC_DIVISOR} = 0
              THEN 1 ELSE 0 END AS cut
  FROM toks
),
numbered AS (
  SELECT doc_id, i, tok,
         CAST(coalesce(SUM(cut) OVER (PARTITION BY doc_id ORDER BY i
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS INT) AS chunk_idx
  FROM marked
),
chunks AS (
  SELECT doc_id, chunk_idx,
         COUNT(*) AS n_tokens,
         string_agg(tok, ' ' ORDER BY i) AS chunk_text
  FROM numbered GROUP BY doc_id, chunk_idx
)"""

SQL_DOCS_CDC_CHUNKS = f"""
WITH {_SQL_CDC_CHUNKS_CTE}
SELECT doc_id, chunk_idx, n_tokens, chunk_text, md5(chunk_text) AS chunk_hash
FROM chunks
"""

CDC_RATIO_MICRO = 1_000_000


def q_docs_cdc_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source chunk-grain dedup POTENTIAL — the number a storage/dedup
    planner reads before running chunk-level dedup: total chunks, distinct
    chunk hashes, and the duplicate fraction. Two-level distinct (uniform
    (source, chunk_hash) shuffle → per-source count — the hot-key
    invariant; a boilerplate chunk costs one counter, never an array
    merge); the ratio is integer-grid division (the logppl quotient
    contract)."""
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("d_id"), "source"
    )
    # persist: the hashed-chunk join feeds BOTH the total and the distinct
    # branches (the _shuffle_rank rule)
    c = (
        q_docs_cdc_chunks(spark, sf_dir)
        .join(d, F.col("doc_id") == F.col("d_id"))
        .select("source", "chunk_hash")
        .persist()
    )
    total = c.groupBy("source").agg(F.count(F.lit(1)).alias("n_chunks"))
    distinct = (
        c.distinct().groupBy("source").agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    return (
        total.join(distinct, "source")
        .select(
            "source",
            "n_chunks",
            F.col("n_distinct").alias("n_distinct_chunks"),
            (
                F.expr(
                    f"((n_chunks - n_distinct) * {CDC_RATIO_MICRO}) div n_chunks"
                ).cast("double")
                / F.lit(float(CDC_RATIO_MICRO))
            ).alias("dup_ratio"),
        )
    )


SQL_DOCS_CDC_DEDUP_RATIO = f"""
WITH {_SQL_CDC_CHUNKS_CTE},
hashed AS (
  SELECT d.source, md5(c.chunk_text) AS chunk_hash
  FROM chunks c JOIN documents d USING (doc_id)
),
tot AS (SELECT source, COUNT(*) AS n_chunks FROM hashed GROUP BY source),
dis AS (
  SELECT source, COUNT(*) AS n_distinct
  FROM (SELECT DISTINCT source, chunk_hash FROM hashed)
  GROUP BY source
)
SELECT t.source, t.n_chunks, d.n_distinct AS n_distinct_chunks,
       CAST(((t.n_chunks - d.n_distinct) * {CDC_RATIO_MICRO}) // t.n_chunks
            AS DOUBLE) / {float(CDC_RATIO_MICRO)} AS dup_ratio
FROM tot t JOIN dis d USING (source)
"""


CDC_INC_MOD = 10  # 1/10 id-hash slice plays the arriving batch


def q_docs_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-grain INCREMENTAL dedup — the third grain of the incremental
    family (doc-grain minhash ``dedup_incremental``, segment-grain
    ``docs_line_dedup``'s streaming cadence, now CDC chunks): an arriving
    batch's chunks are screened against the standing index of previously
    accepted chunk hashes, and because CDC boundaries are content-defined
    the screen stays robust to edits (a doc that prepends a header to an
    indexed doc still matches on every realigned chunk — the property
    fixed-stride segments lose). Per batch doc: chunk count, how many of
    its chunks already exist in the index, and the duplicated fraction
    (integer grid).

    Scale shape: never a self-join — batch chunks LEFT-join the DISTINCT
    index hash set on the uniform chunk_hash key (index side deduped, so
    each batch row matches ≤ 1 row; a boilerplate chunk is one index row,
    never a fan-out); output tracks the batch, not the index."""
    c = q_docs_cdc_chunks(spark, sf_dir).select("doc_id", "chunk_hash")
    from pdfplucker_spark.functions.hashing import md5_long

    gate = (
        md5_long(F.concat(F.lit("cinc:"), F.col("doc_id").cast("string")))
        % CDC_INC_MOD
    )
    # persisted: the gated chunk frame feeds the batch side AND the index
    g = c.withColumn("gate", gate).persist()
    batch = g.where(F.col("gate") == 0).select("doc_id", "chunk_hash")
    index = (
        g.where(F.col("gate") != 0)
        .select("chunk_hash")
        .distinct()
        .withColumn("b", F.lit(1))
    )
    flagged = batch.join(index, "chunk_hash", "left")
    dup = F.sum(F.coalesce("b", F.lit(0)))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        dup.alias("n_dup_chunks"),
        (
            F.expr(
                f"((sum(coalesce(b, 0))) * {CDC_RATIO_MICRO}) div count(*)"
            ).cast("double")
            / F.lit(float(CDC_RATIO_MICRO))
        ).alias("dup_ratio"),
    )


SQL_DOCS_CDC_INCREMENTAL = f"""
WITH {_SQL_CDC_CHUNKS_CTE},
hashed AS (
  SELECT doc_id, md5(chunk_text) AS chunk_hash,
         {sql_md5_long("'cinc:' || CAST(doc_id AS VARCHAR)")} % {CDC_INC_MOD}
           AS gate
  FROM chunks
),
idx AS (SELECT DISTINCT chunk_hash FROM hashed WHERE gate <> 0),
flagged AS (
  SELECT h.doc_id, CASE WHEN i.chunk_hash IS NULL THEN 0 ELSE 1 END AS b
  FROM hashed h LEFT JOIN idx i USING (chunk_hash)
  WHERE h.gate = 0
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(b) AS BIGINT) AS n_dup_chunks,
       CAST((CAST(SUM(b) AS BIGINT) * {CDC_RATIO_MICRO}) // COUNT(*) AS DOUBLE)
         / {float(CDC_RATIO_MICRO)} AS dup_ratio
FROM flagged GROUP BY doc_id
"""


QUERIES = {
    "docs_cdc_chunks": (q_docs_cdc_chunks, SQL_DOCS_CDC_CHUNKS),
    "docs_cdc_dedup_ratio": (q_docs_cdc_dedup_ratio, SQL_DOCS_CDC_DEDUP_RATIO),
    "docs_cdc_incremental": (q_docs_cdc_incremental, SQL_DOCS_CDC_INCREMENTAL),
    "dedup_containment_pairs": (
        q_dedup_containment_pairs,
        SQL_DEDUP_CONTAINMENT_PAIRS,
    ),
    "dedup_containment_prefix": (
        q_dedup_containment_prefix,
        SQL_DEDUP_CONTAINMENT_PREFIX,
    ),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_bag": (q_dedup_bag, SQL_DEDUP_BAG),
    "dedup_bag_nulls": (q_dedup_bag_nulls, SQL_DEDUP_BAG_NULLS),
    "dedup_minhash_pairs_nulls": (
        q_dedup_minhash_pairs_nulls,
        SQL_DEDUP_MINHASH_PAIRS_NULLS,
    ),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "dedup_minhash_sig": (q_dedup_minhash_sig, SQL_DEDUP_MINHASH_SIG),
    "dedup_minhash_pairs": (q_dedup_minhash_pairs, SQL_DEDUP_MINHASH_PAIRS),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, SQL_DEDUP_SIMHASH_PAIRS),
    "dedup_simhash_pairs_nulls": (
        q_dedup_simhash_pairs_nulls,
        SQL_DEDUP_SIMHASH_PAIRS_NULLS,
    ),
    "dedup_ngram_pairs": (q_dedup_ngram_pairs, SQL_DEDUP_NGRAM_PAIRS),
    "docs_line_dedup": (q_docs_line_dedup, SQL_DOCS_LINE_DEDUP),
    "docs_substring_dedup": (q_docs_substring_dedup, SQL_DOCS_SUBSTRING_DEDUP),
    "docs_substring_dedup_apply": (
        q_docs_substring_dedup_apply,
        SQL_DOCS_SUBSTRING_DEDUP_APPLY,
    ),
    "docs_substring_dedup_keep_one": (
        q_docs_substring_dedup_keep_one,
        SQL_DOCS_SUBSTRING_DEDUP_KEEP_ONE,
    ),
    "docs_winnow_fingerprints": (
        q_docs_winnow_fingerprints,
        SQL_DOCS_WINNOW_FINGERPRINTS,
    ),
    "docs_winnow_pairs": (q_docs_winnow_pairs, SQL_DOCS_WINNOW_PAIRS),
}
