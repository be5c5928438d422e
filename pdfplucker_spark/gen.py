"""Deterministic synthetic interleaved-docs generator (FIXTURES.md §§1-3).

Seed-deterministic, order-independent (per-doc RNG keyed on doc index), no
external data. Produces the exact ``input_hint`` schema:

    doc_id : string
    spans  : array<struct<kind:string, text:string, media_ref:string, offset:int32>>

Tiers (FIXTURES.md §2): unit / t1 / t2 / bench. ``bench`` is Zipf-skewed
with a handful of giant docs, mirroring the reference's >100-page
large-document warning (/root/reference/pdfplucker/processor.py:271-273) so
skew handling is exercised.

Poison docs (FIXTURES.md §3 case 11) are injected at a fixed deterministic
rate at every tier so the per-doc error path and the metrics math
(processor.py:449-450) are always live.
"""

from __future__ import annotations

import random
from pathlib import Path
from typing import Dict, Iterable, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42

SPAN_STRUCT = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)
INPUT_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string()), pa.field("spans", pa.list_(SPAN_STRUCT))]
)

# token pool: unicode (pt/es accents — the reference writes ensure_ascii=False,
# processor.py:308), template-stressing specials, emoji, empties.
_WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark página ação señor coração informação análise "
    "façade naïve jalapeño über 東京 🙂 δ x<y a>b under_score #tag |pipe| "
    "line\nbreak tab\there \"quoted\" 'single' 100% (paren)"
).split(" ")

_TEXT_KINDS = [
    "paragraph",
    "text",
    "section_header",
    "list_item",
    "title",
    "footnote",
    "formula",
    "reference",
    "page_footer",
    "checkbox_selected",
    "checkbox_unselected",
    "code",
]
_CLASS_NAMES = ["chart", "diagram", "photo", "logo", "map", "screenshot"]


def _words(rng: random.Random, lo: int = 1, hi: int = 12) -> str:
    n = rng.randint(lo, hi)
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _markdown_table(rng: random.Random) -> str:
    cols = rng.randint(2, 4)
    rows = rng.randint(1, 4)
    header = "| " + " | ".join(f"c{i}" for i in range(cols)) + " |"
    sep = "|" + "---|" * cols
    body = "\n".join(
        "| " + " | ".join(_words(rng, 1, 2) for _ in range(cols)) + " |"
        for _ in range(rows)
    )
    return f"{header}\n{sep}\n{body}"


def _annotations(rng: random.Random) -> str:
    if rng.random() < 0.25:
        return ""  # no annotations → classification None (utils.py:117-119)
    n = rng.randint(1, 4)
    return ",".join(
        f"{rng.choice(_CLASS_NAMES)}:{rng.randint(0, 1000) / 1000.0}" for _ in range(n)
    )


def gen_doc(
    doc_idx: int,
    seed: int = SEED,
    min_spans: int = 5,
    max_spans: int = 200,
    poison: bool = False,
) -> Tuple[str, List[Dict]]:
    """One deterministic document. RNG keyed on (seed, doc_idx) only."""
    rng = random.Random((seed << 20) ^ doc_idx)
    doc_id = f"doc_{doc_idx:08d}"
    n = rng.randint(min_spans, max_spans)
    spans: List[Dict] = []
    page = 1
    n_tables = 0
    n_pics = 0
    recent_refs: List[str] = []  # caption join targets

    def add(kind: str, text, media_ref) -> None:
        spans.append(
            {"kind": kind, "text": text, "media_ref": media_ref, "offset": len(spans)}
        )

    while len(spans) < n:
        r = rng.random()
        if r < 0.06:
            # page transition; occasionally revisit an earlier page to pin
            # first-touch (not numeric) page ordering (utils.py:45-48)
            page = rng.randint(1, max(1, page - 1)) if rng.random() < 0.2 else page + 1
            add("page_break", None, str(page))
        elif r < 0.12 and rng.random() < 0.5:
            ref = f"#/tables/{n_tables}"
            n_tables += 1
            recent_refs.append(ref)
            add("table", _markdown_table(rng), ref)
        elif r < 0.18:
            ref = f"#/pictures/{n_pics}"
            n_pics += 1
            recent_refs.append(ref)
            add("picture", _annotations(rng), ref)
        elif r < 0.26 and recent_refs:
            # caption keyed by parent cref; sometimes duplicated (last wins,
            # utils.py:69), sometimes orphan (matches nothing)
            parent = (
                rng.choice(recent_refs)
                if rng.random() < 0.8
                else f"#/pictures/{n_pics + 7}"
            )
            add("caption", _words(rng, 2, 8), parent)
        elif r < 0.29:
            add("blob", _words(rng, 1, 3), None)  # silently dropped kind
        else:
            kind = rng.choice(_TEXT_KINDS)
            text = "" if rng.random() < 0.03 else _words(rng)
            media_ref = f"#/texts/{len(spans)}" if kind == "text" else None
            add(kind, text, media_ref)

    if poison:
        mode = doc_idx % 3
        k = rng.randrange(len(spans))
        if mode == 0:  # bad page number → int() ValueError
            spans[k] = {"kind": "page_break", "text": None, "media_ref": "p4ge", "offset": k}
        elif mode == 1:  # malformed annotation CSV → float()/rsplit ValueError
            spans[k] = {"kind": "picture", "text": "chart;0.9", "media_ref": "#/pictures/99", "offset": k}
        else:  # null text on a formatted kind → TypeError
            spans[k] = {"kind": "paragraph", "text": None, "media_ref": None, "offset": k}
    return doc_id, spans


POISON_MOD = 97  # doc_idx % 97 == 13 → poison (≈1% failure rate, all tiers)


def is_poison(doc_idx: int) -> bool:
    return doc_idx % POISON_MOD == 13


TIERS = {
    # tier: (n_docs, min_spans, max_spans)  — FIXTURES.md §2
    "t1": (100, 5, 200),
    "t2": (2000, 5, 500),
    "bench": (50_000, 5, 2000),
    # giant-HEAVY leg: 1% of docs are 100k-span giants (every 100th doc, so
    # each shard carries some), rest Zipf like bench — the corpus that
    # shows byte-balanced scan splits bound per-task span mass
    "skew": (5_000, 5, 2000),
    # the control: SAME doc count and ~same total span mass as "skew"
    # (50×100k giant + ~4950×140 Zipf ≈ 5.69M spans → 1138/doc), uniform —
    # the denominator for the skew-leg throughput ratio
    "uniform": (5_000, 1138, 1138),
}
GIANT_SPANS = 100_000
N_GIANTS = 5  # bench tier: 5 giant docs → deliberate skew
SKEW_GIANT_EVERY = 100  # skew tier: 1 giant per 100 docs


def gen_rows(tier: str, seed: int = SEED) -> Iterable[Tuple[str, List[Dict]]]:
    n_docs, lo, hi = TIERS[tier]
    for i in range(n_docs):
        if tier == "bench" and i < N_GIANTS:
            yield gen_doc(i, seed, GIANT_SPANS, GIANT_SPANS, poison=False)
        elif tier == "skew" and i % SKEW_GIANT_EVERY == 0:
            yield gen_doc(i, seed, GIANT_SPANS, GIANT_SPANS, poison=False)
        elif tier in ("bench", "skew"):
            # Zipf-ish size skew (Pareto tail, mean ≈ 140 spans/doc)
            rng = random.Random((seed << 21) ^ i)
            size = min(hi, max(lo, int(20 * (1.0 / max(1e-9, rng.random())) ** 1.2)))
            yield gen_doc(i, seed, min(size, hi), min(size, hi), poison=is_poison(i))
        else:
            yield gen_doc(i, seed, lo, hi, poison=is_poison(i))


def rows_to_table(rows: Iterable[Tuple[str, List[Dict]]]) -> pa.Table:
    doc_ids, span_lists = [], []
    for doc_id, spans in rows:
        doc_ids.append(doc_id)
        span_lists.append(spans)
    return pa.Table.from_arrays(
        [pa.array(doc_ids, pa.string()), pa.array(span_lists, pa.list_(SPAN_STRUCT))],
        schema=INPUT_SCHEMA,
    )


DOCS_PER_FILE = 1024  # shard so Spark's scan parallelizes (real corpora are
# many files; a single fat file caps scan-side parallelism at ~file_size/128MB)


def write_tier(tier: str, out_dir: str, seed: int = SEED, overwrite: bool = False) -> str:
    """Materialize a tier as a sharded parquet dir; cached by (tier, seed)."""
    out = Path(out_dir) / f"interleaved_{tier}_seed{seed}.parquet"
    if out.exists() and not overwrite:
        return str(out)
    tmp = Path(str(out) + ".tmp")
    if tmp.exists():
        import shutil

        shutil.rmtree(tmp)
    tmp.mkdir(parents=True, exist_ok=True)
    buf: list = []
    shard = 0
    for row in gen_rows(tier, seed):
        buf.append(row)
        if len(buf) >= DOCS_PER_FILE:
            pq.write_table(rows_to_table(buf), tmp / f"part-{shard:05d}.parquet", row_group_size=1024)
            shard += 1
            buf = []
    if buf or shard == 0:
        pq.write_table(rows_to_table(buf), tmp / f"part-{shard:05d}.parquet", row_group_size=1024)
    tmp.rename(out)
    return str(out)


# ---------------------------------------------------------------------------
# Handwritten edge-case docs — FIXTURES.md §3, one per numbered case.
# ---------------------------------------------------------------------------
def _mk(spans: List[Tuple]) -> List[Dict]:
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": i}
        for i, (k, t, m) in enumerate(spans)
    ]


EDGE_DOCS: List[Tuple[str, List[Dict]]] = [
    (  # 1. every-label doc: full 13-way dispatch incl. default
        "edge_all_labels",
        _mk(
            [
                ("section_header", "Head#1", None),
                ("formula", "e=mc^2", None),
                ("reference", "Ref <1>", None),
                ("list_item", "item_one", None),
                ("footnote", "foot", None),
                ("title", "The_Title", None),
                ("text", "plain text", "#/texts/6"),
                ("paragraph", "para graph", None),
                ("page_footer", "p. 1", None),
                ("checkbox_selected", "yes", None),
                ("checkbox_unselected", "no", None),
                ("code", "x = 1", None),
            ]
        ),
    ),
    (  # 2. page-order doc: first-touch order 3,1,2 must be preserved
        "edge_page_order",
        _mk(
            [
                ("page_break", None, "3"),
                ("paragraph", "on three", None),
                ("page_break", None, "1"),
                ("paragraph", "on one", None),
                ("page_break", None, "2"),
                ("paragraph", "on two", None),
                ("page_break", None, "3"),
                ("paragraph", "back to three", None),
            ]
        ),
    ),
    (  # 3. multi-picture doc: counter 0,1,2 in stream order
        "edge_multi_picture",
        _mk(
            [
                ("picture", "chart:0.9", "#/pictures/0"),
                ("text", "between", "#/texts/1"),
                ("picture", "", "#/pictures/1"),
                ("paragraph", "more", None),
                ("picture", "logo:0.5,photo:0.8", "#/pictures/2"),
            ]
        ),
    ),
    (  # 4. captioned doc: caption joins + LAST caption wins + in-page echo
        "edge_captioned",
        _mk(
            [
                ("table", "| a |\n|---|\n| 1 |", "#/tables/0"),
                ("caption", "first table cap", "#/tables/0"),
                ("caption", "second table cap", "#/tables/0"),
                ("picture", "photo:0.7", "#/pictures/0"),
                ("caption", "pic cap", "#/pictures/0"),
            ]
        ),
    ),
    (  # 5. orphan caption: appears in page content only
        "edge_orphan_caption",
        _mk([("caption", "nobody home", "#/tables/9"), ("paragraph", "body", None)]),
    ),
    (  # 6. table doc: pipes/newlines in markdown; placeholder in content
        "edge_table",
        _mk(
            [
                ("paragraph", "before", None),
                ("table", "| x | y |\n|---|---|\n| 1 | 2 |", "#/tables/0"),
                ("paragraph", "after", None),
            ]
        ),
    ),
    (  # 7. classification argmax + first-max tie + no-annotation null
        "edge_classification",
        _mk(
            [
                ("picture", "chart:0.5,photo:0.9,logo:0.9", "#/pictures/0"),
                ("picture", "", "#/pictures/1"),
            ]
        ),
    ),
    (  # 8. refs/footnotes always [] (F10 bug-compat) — detail-level check
        "edge_refs_footnotes",
        _mk(
            [
                ("text", "target text", "#/texts/0"),
                ("picture", "map:0.4", "#/pictures/0"),
                ("table", "| t |\n|---|\n| v |", "#/tables/0"),
            ]
        ),
    ),
    ("edge_empty", []),  # 9. empty doc
    (  # 10. unknown kinds only → silently dropped, empty output
        "edge_unknown_kind",
        _mk([("blob", "x", None), ("widget", "y", "#/w/0")]),
    ),
    (  # 11. poison doc: null text on formatted kind → status='error'
        "edge_poison_nulltext",
        _mk([("paragraph", None, None)]),
    ),
    (  # 11b. poison: bad page number
        "edge_poison_badpage",
        _mk([("page_break", None, "NaNpage"), ("paragraph", "x", None)]),
    ),
    (  # 11c. poison: malformed annotation CSV
        "edge_poison_badann",
        _mk([("picture", "noconfidence", "#/pictures/0")]),
    ),
    (  # 12. unicode doc: pt/es accents + emoji, byte-exact
        "edge_unicode",
        _mk(
            [
                ("title", "Ação não é atenção", None),
                ("paragraph", "señor año 🙂 δx τ 東京", None),
                ("caption", "coração _sublinhado_", "#/tables/0"),
                ("table", "| ñ |\n|---|\n| ü |", "#/tables/0"),
            ]
        ),
    ),
    (  # extra: null parent ref never matches (frozen decision)
        "edge_null_caption_ref",
        _mk([("caption", "nullcap", None), ("paragraph", "x", None)]),
    ),
]


if __name__ == "__main__":
    import sys

    tier = sys.argv[1] if len(sys.argv) > 1 else "t1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.data"
    print(write_tier(tier, out))
