"""Job flags: flat layout, detail sinks, span budget (S8 guard)."""

import os

from pyspark.sql import functions as F

from pdfplucker_spark import job
from pdfplucker_spark.gen import gen_rows, write_tier
from pdfplucker_spark.operators.extract import extract_spans
from pdfplucker_spark.oracle import extract_doc


def test_flat_layout_and_details(spark, tmp_path):
    src = write_tier("t1", str(tmp_path / "data"))
    out = str(tmp_path / "out")
    m = job.run(spark, src, out, run_id="r", details=True, layout="flat")
    assert m["total_docs"] == 100

    flat = spark.read.parquet(os.path.join(out, "spans_out"))
    assert set(flat.columns) == {
        "run_id", "partition_id", "doc_id", "status",
        "kind", "text", "media_ref", "offset",
    }
    got = {
        r.doc_id: r
        for r in flat.groupBy("doc_id").agg(F.count("offset").alias("n")).collect()
    }
    for doc_id, spans in gen_rows("t1"):
        exp = extract_doc(doc_id, spans)
        # inline_outer keeps 0-span docs as one null-kind row
        assert got[doc_id].n == len(exp["spans"])

    imgs = spark.read.parquet(os.path.join(out, "images"))
    assert {"run_id", "doc_id", "ref", "self_ref", "caption",
            "classification", "confidence", "page"} == set(imgs.columns)
    exp_imgs = sum(len(extract_doc(d, s)["images"]) for d, s in gen_rows("t1"))
    assert imgs.count() == exp_imgs

    pages = spark.read.parquet(os.path.join(out, "pages"))
    assert pages.count() == sum(
        len(extract_doc(d, s)["pages"]) for d, s in gen_rows("t1")
    )

    # resume works off docs_out in flat layout too
    m2 = job.run(spark, src, out, run_id="r2", resume=True, layout="flat")
    assert m2["total_docs"] == 0


def test_span_budget_fails_fast(spark, tmp_path):
    import pyarrow.parquet as pq

    from pdfplucker_spark.gen import gen_doc, rows_to_table

    rows = [gen_doc(i, min_spans=10, max_spans=20) for i in range(5)]
    rows.append(gen_doc(99, min_spans=5000, max_spans=5000))
    p = str(tmp_path / "in.parquet")
    pq.write_table(rows_to_table(rows), p)

    out = extract_spans(spark.read.parquet(p), span_budget=1000).collect()
    by_id = {r.doc_id: r for r in out}
    big = by_id["doc_00000099"]
    assert big.status == "error"
    assert "span budget exceeded (5000 > 1000)" in big.error
    assert big.spans == []
    assert sum(1 for r in out if r.status == "ok") == 5
