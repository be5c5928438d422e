"""latest_view: doc-level reprocessing reads (newest committed copy wins)."""

import pyarrow.parquet as pq
import pytest

from pdfplucker_spark import job
from pdfplucker_spark.gen import gen_rows, rows_to_table, write_tier


@pytest.fixture(scope="module")
def t1_path(tmp_path_factory):
    return write_tier("t1", str(tmp_path_factory.mktemp("data")))


def test_latest_view_keeps_newest_copy_per_doc(spark, t1_path, tmp_path):
    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="base")

    # upstream changed 10 docs: re-extract JUST those (no --resume), with
    # modified content so the winner is observable
    rows = list(gen_rows("t1"))
    changed = [
        (doc_id, spans + [
            {"kind": "title", "text": "REVISED", "media_ref": None,
             "offset": max((s["offset"] for s in spans), default=0) + 1},
        ])
        for doc_id, spans in rows[:10]
    ]
    redo_dir = str(tmp_path / "redo")
    import os
    os.makedirs(redo_dir)
    pq.write_table(rows_to_table(changed), redo_dir + "/part.parquet")
    job.run(spark, redo_dir, out, run_id="redo")

    # committed_view has duplicates for the 10 docs; latest_view does not
    assert job.committed_view(spark, out).count() == 110
    lv = job.latest_view(spark, out)
    assert lv.count() == 100
    assert lv.select("doc_id").distinct().count() == 100

    # the winners really are the reprocessed copies
    from pyspark.sql import functions as F

    # the title span lands formatted inside the page content
    revised = lv.where(
        F.exists("spans", lambda s: s["text"].contains("REVISED"))
    )
    assert revised.count() == 10
    assert {r.run_id for r in lv.select("run_id").distinct().collect()} == {
        "base",
        "redo",
    }

    # docs_out latest view agrees (accounting follows the same winners)
    assert job.latest_view(spark, out, "docs_out").count() == 100
