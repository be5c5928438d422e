"""pdfplucker_spark — a from-scratch PySpark-native extraction engine.

Re-expresses the per-document transformation of rafaelghiorzi/pdfplucker's
``format_results`` (reference: /root/reference/pdfplucker/utils.py:23-219)
over an Iceberg/Parquet table of interleaved text+media documents
``(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)``,
entirely with the DataFrame API plus one vectorized Arrow map stage
(no per-row Python UDFs).

Layout:
    oracle.py              pure-Python reference oracle (the semantics freeze)
    gen.py                 deterministic synthetic interleaved-docs generator
    session.py             tuned SparkSession factory
    schemas.py             frozen Spark schemas (input / output / detail)
    operators/extract.py   the vectorized mapInArrow extraction engine
    operators/dedup.py     exact / MinHash-LSH / SimHash / n-gram Jaccard dedup
    operators/similarity.py  embedding cosine top-k (brute + LSH-bucketed)
    operators/textstats.py text analysis: lang-id, quality, tokens, fingerprint
    operators/spans_sql.py SQL-expressible span operators (oracle-checkable)
    sources/tables.py      testdata loaders + derived interleaved-spans view
    functions/hashing.py   portable (cross-engine) md5-based hash expressions
    plans/partitioning.py  the scan-parallelism (fan-out) rule
    metrics.py             run metrics + per-partition lineage aggregations
    job.py                 spark-submit entrypoint with checkpoint/resume
"""

__version__ = "0.1.0"
