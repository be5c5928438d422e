"""Frozen Spark/Arrow schemas for the extraction engine.

Input schema is exactly BASELINE.json ``input_hint``; output schema is the
SURVEY.md §7.3 span contract plus status/error columns (failures are data,
not side-channel files — replaces the reference's temp-file error log,
/root/reference/pdfplucker/processor.py:24-121) and per-doc counters used by
the metrics aggregation (processor.py:380-388 analogue).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

SPAN_FIELDS = [
    ("kind", T.StringType()),
    ("text", T.StringType()),
    ("media_ref", T.StringType()),
    ("offset", T.IntegerType()),
]

SPAN_STRUCT = T.StructType([T.StructField(n, t, True) for n, t in SPAN_FIELDS])

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    ]
)

# S3 metadata record (processor.py:268-282): the 6 fitz fields the reference
# stamps per document. Inputs MAY carry this as a ``metadata`` struct column
# next to (doc_id, spans); the job passes it through to docs_out untouched
# (the input_hint input has no bytes to re-derive it from).
METADATA_TYPE = T.StructType(
    [
        T.StructField("format", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("creationDate", T.StringType(), True),
        T.StructField("modDate", T.StringType(), True),
        T.StructField("filename", T.StringType(), True),
        T.StructField("pageAmount", T.IntegerType(), True),
    ]
)

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
        T.StructField("n_input_spans", T.IntegerType(), False),
        T.StructField("n_pages", T.IntegerType(), False),
        T.StructField("n_images", T.IntegerType(), False),
        T.StructField("n_tables", T.IntegerType(), False),
    ]
)

# Arrow mirror of EXTRACT_SCHEMA (mapInArrow yields these batches).
ARROW_SPAN_STRUCT = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)
ARROW_EXTRACT_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("status", pa.string()),
        pa.field("error", pa.string()),
        pa.field("spans", pa.list_(ARROW_SPAN_STRUCT)),
        pa.field("n_input_spans", pa.int32()),
        pa.field("n_pages", pa.int32()),
        pa.field("n_images", pa.int32()),
        pa.field("n_tables", pa.int32()),
    ]
)

# ---------------------------------------------------------------------------
# bundle schemas: the full Data-record parity output (utils.py:16-21 after
# temp-field pops; references/footnotes omitted — always [] per F10)
# ---------------------------------------------------------------------------
ARROW_PAGE_STRUCT = pa.struct(
    [pa.field("page_number", pa.int32()), pa.field("content", pa.string())]
)
ARROW_IMAGE_STRUCT = pa.struct(
    [
        pa.field("ref", pa.string()),
        pa.field("self_ref", pa.string()),
        pa.field("caption", pa.string()),
        pa.field("classification", pa.string()),
        pa.field("confidence", pa.float64()),
        pa.field("page", pa.int32()),
    ]
)
ARROW_TABLE_STRUCT = pa.struct(
    [
        pa.field("self_ref", pa.string()),
        pa.field("caption", pa.string()),
        pa.field("page", pa.int32()),
        pa.field("table", pa.string()),
    ]
)
ARROW_BUNDLE_SCHEMA = pa.schema(
    list(ARROW_EXTRACT_SCHEMA)
    + [
        pa.field("pages", pa.list_(ARROW_PAGE_STRUCT)),
        pa.field("images", pa.list_(ARROW_IMAGE_STRUCT)),
        pa.field("tables", pa.list_(ARROW_TABLE_STRUCT)),
    ]
)

BUNDLE_SCHEMA = T.StructType(
    EXTRACT_SCHEMA.fields
    + [
        T.StructField(
            "pages",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("page_number", T.IntegerType()),
                        T.StructField("content", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "images",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("ref", T.StringType()),
                        T.StructField("self_ref", T.StringType()),
                        T.StructField("caption", T.StringType()),
                        T.StructField("classification", T.StringType()),
                        T.StructField("confidence", T.DoubleType()),
                        T.StructField("page", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "tables",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("self_ref", T.StringType()),
                        T.StructField("caption", T.StringType()),
                        T.StructField("page", T.IntegerType()),
                        T.StructField("table", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)
