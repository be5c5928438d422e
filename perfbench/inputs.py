"""The benchmark's inputs, all made inside the checkout.

* ``extract_job``: the first ``EXTRACT_DOCS`` documents of the package's
  ``bench`` tier, taken from ``gen.gen_rows("bench", seed)`` and sharded
  exactly as ``gen.write_tier`` shards it (1024 docs per parquet file). The
  prefix holds all five 100k-span giant docs of the tier, its Zipf span
  sizes and its poison docs (``gen.is_poison``).
* ``dedup_pass`` and ``incremental``: the first ``DOCS`` rows of the fixed
  sf0.1 ``documents`` driver table (Seed=42), a verbatim copy of which is
  ``perfbench/data/documents.parquet``. The seed does not change them.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import hashlib
import itertools
import os

import pyarrow.parquet as pq

from pdfplucker_spark import gen

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

EXTRACT_DOCS = 4 * gen.DOCS_PER_FILE  # 4 of the tier's 49 shards
EXTRACT_SAMPLE = 7  # md5-chosen docs checked span for span, plus doc 0 (a giant)
DOCS = 500  # documents rows used by dedup_pass and incremental
WARM_DOCS = 100  # documents rows of the incremental warm-up drain


def write_extract_corpus(out_dir: str, seed: int, n_docs: int = EXTRACT_DOCS):
    """Write the first ``n_docs`` docs of the ``bench`` tier under
    ``out_dir``; returns (dir, {doc_id: spans} of the sampled docs, poison
    doc ids). The sample is md5-chosen and always holds giant doc 0."""
    ranked = sorted(range(n_docs), key=lambda i: hashlib.md5(f"pick:{i}".encode()).hexdigest())
    pick = {f"doc_{i:08d}" for i in (0, *ranked[:EXTRACT_SAMPLE])}
    os.makedirs(out_dir, exist_ok=True)
    sample = {}
    rows = gen.gen_rows("bench", seed)
    for shard in range(0, (n_docs + gen.DOCS_PER_FILE - 1) // gen.DOCS_PER_FILE):
        buf = list(itertools.islice(rows, min(gen.DOCS_PER_FILE, n_docs - shard * gen.DOCS_PER_FILE)))
        sample.update((d, s) for d, s in buf if d in pick)
        pq.write_table(
            gen.rows_to_table(buf),
            os.path.join(out_dir, f"part-{shard:05d}.parquet"),
            row_group_size=gen.DOCS_PER_FILE,
        )
    poison = {f"doc_{i:08d}" for i in range(n_docs) if gen.is_poison(i)}
    return out_dir, sample, poison


def write_documents(sf_dir: str, n_docs: int) -> str:
    """Write the first ``n_docs`` rows of the driver ``documents`` table as
    ``{sf_dir}/documents.parquet``; returns ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    table = pq.read_table(os.path.join(DATA_DIR, "documents.parquet"))
    pq.write_table(table.slice(0, n_docs), os.path.join(sf_dir, "documents.parquet"))
    return sf_dir
