"""Pure-Python reference oracle — THE semantics freeze.

Transliterates the per-document transformation of the reference's
``format_results`` (/root/reference/pdfplucker/utils.py:23-219) onto the
interleaved-span input encoding of FIXTURES.md §1. This module has no Spark
dependency; it is the comparator every engine output is tested against
(SURVEY.md §5 item 1) and the per-doc fallback path the vectorized engine
routes "poison" documents through (reference F12 analogue,
utils.py:220-223).

Input encoding (FIXTURES.md §1):
    span = {kind, text, media_ref, offset}
    - 13 text kinds map to the reference's 13-way label dispatch
      (utils.py:51-85); ``code`` models the default branch (utils.py:84-85).
    - ``table``: text = markdown table, media_ref = self_ref
      (utils.py:90-111).
    - ``picture``: text = "class:conf,class:conf" CSV of the first
      classification annotation's predicted classes (utils.py:120-129),
      media_ref = self_ref.
    - ``caption``: media_ref = the PARENT cref (the captioned table/picture,
      utils.py:63-69).
    - ``text``: media_ref = its own self_ref (utils.py:161-164).
    - ``page_break``: media_ref = the new page number, models
      ``item.prov[0].page_no`` transitions; documents start on page 1.
    - any other kind is silently dropped — the reference's isinstance
      fall-through (utils.py:39,90,113).

Frozen bug-compatibility decisions (SURVEY.md §7.4):
    - TITLE → "## " while SECTION_HEADER → "# " (inverted; utils.py:52-53,
      72-73) — replicated as-is.
    - pages keep FIRST-TOUCH order, not numeric order (utils.py:45-48).
    - caption text appears BOTH in page content (" _{t}_\\n") and as the
      attached caption (utils.py:61-69); last caption per parent wins
      (dict overwrite, utils.py:69).
    - output ``references``/``footnotes`` are always [] (the dead/buggy
      resolution joins of utils.py:173-183,197-207; README.md:218-219).
    - a NULL parent/self ref never matches in caption application (SQL join
      semantics; frozen here for engine/oracle agreement).
    - any exception inside the per-doc transform marks the doc failed and
      never fails the batch (utils.py:220-223 → status='error').

Output span contract (SURVEY.md §7.3) — one ordered sequence per doc,
offsets dense from 0:
    1. per page, first-touch order: (kind='page', text=assembled content,
       media_ref=str(page_number))
    2. per picture, stream order:   (kind='image', text=caption,
       media_ref='{doc_id}_{n}.png')  — the per-doc counter of utils.py:132-133,158
    3. per table, stream order:     (kind='table', text=markdown,
       media_ref=self_ref)
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Sequence

# The 13-way label dispatch of utils.py:51-85 as (prefix, suffix) templates.
# ``code`` is the modeled default branch (utils.py:84-85).
TEXT_FORMATS: Dict[str, tuple] = {
    "section_header": ("\n# ", "\n"),  # utils.py:52-53
    "formula": (" Equation: ", "\n"),  # utils.py:54-55
    "reference": ("\nReference: ", "\n"),  # utils.py:56-57
    "list_item": ("\n- ", "\n"),  # utils.py:58-59
    "caption": (" _", "_\n"),  # utils.py:60-61
    "footnote": ("\nFootnote: ", "\n"),  # utils.py:70-71
    "title": ("\n## ", "\n"),  # utils.py:72-73 (inverted vs section_header — bug-compat)
    "text": (" ", ""),  # utils.py:74-75
    "paragraph": ("\n", "\n"),  # utils.py:76-77
    "page_footer": ("\n", "\n"),  # utils.py:78-79
    "checkbox_selected": ("\n- ", "\n"),  # utils.py:80-81
    "checkbox_unselected": ("\n- ", "\n"),  # utils.py:82-83
    "code": (" ", ""),  # default branch, utils.py:84-85
}

def parse_annotations(ann: Optional[str]):
    """Argmax classification over a 'class:conf,...' CSV.

    Models utils.py:120-129: first classification annotation only, argmax by
    confidence, ties broken by first occurrence (Python ``max`` semantics).
    Raises on malformed input → per-doc error path (F12).
    """
    if not ann:  # None or "" → no annotations (utils.py:117-120)
        return None, None
    classes = []
    for part in ann.split(","):
        name, conf = part.rsplit(":", 1)  # ValueError on missing ':' → poison
        classes.append((name, float(conf)))  # ValueError on bad float → poison
    best = max(classes, key=lambda c: c[1])
    return best[0], best[1]


def extract_doc(doc_id: str, spans: Sequence[Dict[str, Any]]) -> Dict[str, Any]:
    """Run the frozen per-document transform. Never raises.

    Returns the full bundle:
        {doc_id, status, error, spans, pages, images, tables}
    where ``spans`` follows the §7.3 output contract and pages/images/tables
    mirror the reference's ``Data`` bundle after temp-field pops
    (utils.py:16-21,186-188,210-214,217).
    """
    try:
        ordered = sorted(spans, key=lambda s: s["offset"])  # defensive; stable
        pages_content: Dict[int, str] = {}
        page_order: List[int] = []  # first-touch order (utils.py:45-48)
        caption_dict: Dict[str, str] = {}  # last caption per parent wins (utils.py:69)
        images: List[Dict[str, Any]] = []
        tables: List[Dict[str, Any]] = []
        counter = 0  # per-doc picture counter (utils.py:37,158)
        current_page = 1

        def touch(page: int) -> None:
            if page not in pages_content:
                pages_content[page] = ""
                page_order.append(page)

        for s in ordered:
            kind = s["kind"]
            if kind == "page_break":
                current_page = int(s["media_ref"])  # ValueError → poison
            elif kind in TEXT_FORMATS:
                prefix, suffix = TEXT_FORMATS[kind]
                text = s["text"]
                content = prefix + text + suffix  # TypeError on None text → poison
                if kind == "caption" and s["media_ref"] is not None:
                    caption_dict[s["media_ref"]] = text  # utils.py:69
                touch(current_page)
                pages_content[current_page] += content  # utils.py:88
            elif kind == "table":
                self_ref = s["media_ref"]
                if self_ref is None:
                    raise ValueError("table span with null media_ref")
                touch(current_page)
                pages_content[current_page] += f" <{self_ref}>"  # utils.py:97-101
                tables.append(
                    {
                        "self_ref": self_ref,
                        "caption": "",
                        "references": [],  # always [] — F10 bug-compat
                        "footnotes": [],
                        "page": current_page,
                        "table": s["text"],
                    }
                )
            elif kind == "picture":
                self_ref = s["media_ref"]
                if self_ref is None:
                    raise ValueError("picture span with null media_ref")
                classification, confidence = parse_annotations(s["text"])
                placeholder = f"{doc_id}_{counter}.png"  # utils.py:132-133
                touch(current_page)
                pages_content[current_page] += f" <{placeholder}>"  # utils.py:139-143
                images.append(
                    {
                        "ref": placeholder,
                        "self_ref": self_ref,
                        "caption": "",
                        "classification": classification,
                        "confidence": confidence,
                        "references": [],  # always [] — F10 bug-compat
                        "footnotes": [],
                        "page": current_page,
                    }
                )
                counter += 1
            # else: silent drop (utils.py:39,90,113 isinstance fall-through)

        # Caption application joins (utils.py:167-171,192-195).
        for image in images:
            if image["self_ref"] in caption_dict:
                image["caption"] += caption_dict[image["self_ref"]]
        for table in tables:
            if table["self_ref"] in caption_dict:
                table["caption"] += caption_dict[table["self_ref"]]

        out_spans: List[Dict[str, Any]] = []
        k = 0
        for p in page_order:
            out_spans.append(
                {"kind": "page", "text": pages_content[p], "media_ref": str(p), "offset": k}
            )
            k += 1
        for im in images:
            out_spans.append(
                {"kind": "image", "text": im["caption"], "media_ref": im["ref"], "offset": k}
            )
            k += 1
        for t in tables:
            out_spans.append(
                {"kind": "table", "text": t["table"], "media_ref": t["self_ref"], "offset": k}
            )
            k += 1

        return {
            "doc_id": doc_id,
            "status": "ok",
            "error": None,
            "spans": out_spans,
            "pages": [
                {"page_number": p, "content": pages_content[p]} for p in page_order
            ],
            "images": images,
            "tables": tables,
        }
    except Exception as e:  # F12: failures are data, never crashes (utils.py:220-223)
        return {
            "doc_id": doc_id,
            "status": "error",
            "error": f"{type(e).__name__}: {e}",
            "spans": [],
            "pages": [],
            "images": [],
            "tables": [],
        }
