"""Testdata loaders + the deterministic derived interleaved-spans view.

The driver's correctness gate (CORRECTNESS_r{N}.json) compares Spark
DataFrames against DuckDB SQL over the same parquet. The extraction engine's
input table (doc_id, spans) does not exist in /root/testdata, so we derive
one *deterministically* from the ``documents`` table with logic expressible
identically in both engines: token i of ``documents.text`` becomes span i,
with kind/text/media_ref cycling on i%16 — ALL 13 text-format branches of
the reference's label dispatch (utils.py:52-85) plus table/picture/
page_break are exercised, captions reference the table of their block, and
pages revisit 1..5 to pin first-touch ordering.

Spark side: ``derived_spans_flat`` / ``derived_spans_nested`` (DataFrame
API). DuckDB side: ``DERIVED_SPANS_CTE`` (ANSI-ish SQL, DuckDB 1.0 — no
WITH ORDINALITY, so parallel UNNEST provides ordinals).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdfplucker_spark.plans import partitioning

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Read a testdata table; ``fan_out`` applies the scan-parallelism rule
    (``plans.partitioning.fan_out``).

    The sf tables are written as ONE row group, so every scan is one task
    and the rule fires on 4 or more slots. No operator depends on scan
    order (all limits are ordered, first/last are windowed).

    OPT-IN (default False): it only pays where heavy per-row map work
    sits before the first exchange (hash folds — the simhash
    fingerprint, minhash sketches, window hashing: measured 2-4x on
    those stages); a shuffle-first query would pay an extra full-payload
    exchange for nothing (measured +26-66% on asof/salted/logppl when
    this was blanket-on)."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return partitioning.fan_out(df) if fan_out else df


# ---------------------------------------------------------------------------
# derived interleaved spans — Spark side
# ---------------------------------------------------------------------------
_DERIVED_KINDS = [
    "section_header",
    "paragraph",
    "text",
    "list_item",
    "caption",
    "table",
    "picture",
    "page_break",
    "title",
    "footnote",
    "formula",
    "reference",
    "page_footer",
    "checkbox_selected",
    "checkbox_unselected",
    "code",
]


def derived_spans_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id string, kind, text, media_ref, offset) — one span per token."""
    d = load(spark, sf_dir, "documents")
    e = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.posexplode(F.split("text", " ")).alias("i", "tok"),
    )
    cyc = F.col("i") % 16
    blk = F.floor(F.col("i") / 16).cast("long")
    return e.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(k) for k in _DERIVED_KINDS]),
            (cyc + 1).cast("int"),
        ).alias("kind"),
        F.when(cyc == 5, F.concat(F.lit("|"), F.col("tok"), F.lit("|")))
        .when(cyc == 6, F.concat(F.lit("chart:0."), (blk % 10).cast("string")))
        .when(cyc == 7, F.lit(None).cast("string"))
        .otherwise(F.col("tok"))
        .alias("text"),  # cyc 8-15 carry the raw token (plain text kinds)
        F.when(cyc.isin(4, 5), F.concat(F.lit("#/tables/"), blk.cast("string")))
        .when(cyc == 6, F.concat(F.lit("#/pictures/"), blk.cast("string")))
        .when(cyc == 7, (blk % 5 + 1).cast("string"))
        .otherwise(F.lit(None).cast("string"))
        .alias("media_ref"),
        F.col("i").cast("int").alias("offset"),
    )


def derived_spans_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, spans array<struct>) — engine-ready input table.

    Built MAP-ONLY with an index-aware ``transform`` over the token array:
    span i of a doc is a pure function of (token_i, i), and transform
    preserves array order — so the r1-r9 explode → corpus shuffle on
    doc_id → collect_list → array_sort round trip (a full shuffle plus a
    per-doc sort, just to reassemble an order the array already had) is
    gone. Row-for-row identical to building from ``derived_spans_flat``
    (pytest-pinned); the fan-out load parallelizes the downstream
    extraction kernel the same way the flat path's shuffle did."""
    d = load(spark, sf_dir, "documents", fan_out=True)

    def _span(tok, i):
        cyc = i % 16
        blk = F.floor(i / 16).cast("long")
        kind = F.element_at(
            F.array(*[F.lit(k) for k in _DERIVED_KINDS]), (cyc + 1).cast("int")
        )
        text = (
            F.when(cyc == 5, F.concat(F.lit("|"), tok, F.lit("|")))
            .when(cyc == 6, F.concat(F.lit("chart:0."), (blk % 10).cast("string")))
            .when(cyc == 7, F.lit(None).cast("string"))
            .otherwise(tok)
        )
        media_ref = (
            F.when(cyc.isin(4, 5), F.concat(F.lit("#/tables/"), blk.cast("string")))
            .when(cyc == 6, F.concat(F.lit("#/pictures/"), blk.cast("string")))
            .when(cyc == 7, (blk % 5 + 1).cast("string"))
            .otherwise(F.lit(None).cast("string"))
        )
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            i.cast("int").alias("offset"),
        )

    return (
        d.where(F.col("text").isNotNull())
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.split("text", " ").alias("__tk"),
        )
        .select("doc_id", F.transform("__tk", _span).alias("spans"))
    )


# ---------------------------------------------------------------------------
# derived interleaved spans — DuckDB side (same rows, independent impl)
# ---------------------------------------------------------------------------
DERIVED_SPANS_CTE = """
tok AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         UNNEST(string_split(text, ' ')) AS tok,
         UNNEST(range(len(string_split(text, ' ')))) AS i
  FROM documents
),
spans AS (
  SELECT doc_id,
         CASE CAST(i % 16 AS INT)
           WHEN 0 THEN 'section_header' WHEN 1 THEN 'paragraph'
           WHEN 2 THEN 'text'           WHEN 3 THEN 'list_item'
           WHEN 4 THEN 'caption'        WHEN 5 THEN 'table'
           WHEN 6 THEN 'picture'        WHEN 7 THEN 'page_break'
           WHEN 8 THEN 'title'          WHEN 9 THEN 'footnote'
           WHEN 10 THEN 'formula'       WHEN 11 THEN 'reference'
           WHEN 12 THEN 'page_footer'   WHEN 13 THEN 'checkbox_selected'
           WHEN 14 THEN 'checkbox_unselected' ELSE 'code'
         END AS kind,
         CASE CAST(i % 16 AS INT)
           WHEN 5 THEN '|' || tok || '|'
           WHEN 6 THEN 'chart:0.' || CAST((i // 16) % 10 AS VARCHAR)
           WHEN 7 THEN NULL
           ELSE tok
         END AS text,
         CASE CAST(i % 16 AS INT)
           WHEN 4 THEN '#/tables/' || CAST(i // 16 AS VARCHAR)
           WHEN 5 THEN '#/tables/' || CAST(i // 16 AS VARCHAR)
           WHEN 6 THEN '#/pictures/' || CAST(i // 16 AS VARCHAR)
           WHEN 7 THEN CAST((i // 16) % 5 + 1 AS VARCHAR)
           ELSE NULL
         END AS media_ref,
         CAST(i AS INT) AS "offset"
  FROM tok
)
"""
