"""The vectorized extraction engine — one Arrow map stage.

Re-expresses format_results (/root/reference/pdfplucker/utils.py:23-219,
operators F1-F12 of SURVEY.md §2.2) as a single ``df.mapInArrow`` stage:
Arrow batches cross the JVM↔Python boundary once (replacing the reference's
two nested process layers, processor.py:183-231/391-404), and ALL span
processing inside the batch is columnar — pyarrow.compute kernels and numpy;
strings never round-trip through Python objects on the main path.

Poison-document handling (F12, utils.py:220-223): the vectorized pass
*detects* documents whose spans could raise under the reference semantics
(null text on a formatted kind, non-integer page_break, malformed
classification CSV, null refs, unsortable offsets) and routes only those
documents through the pure-Python oracle (`pdfplucker_spark.oracle`),
exactly as the reference isolates failures per document. Detection is
conservative: anything the fast path cannot prove it reproduces bit-for-bit
falls back to the oracle, so engine output == oracle output by construction
on the slow path and by the test suite on the fast path.
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pdfplucker_spark.oracle import TEXT_FORMATS, extract_doc
from pdfplucker_spark.schemas import (
    ARROW_EXTRACT_SCHEMA,
    ARROW_SPAN_STRUCT,
    EXTRACT_SCHEMA,
)

_KINDS = list(TEXT_FORMATS)
_KIND_SET = pa.array(_KINDS, pa.string())
_PRE = pa.array([TEXT_FORMATS[k][0] for k in _KINDS], pa.string())
_SUF = pa.array([TEXT_FORMATS[k][1] for k in _KINDS], pa.string())

# Strings the fast path can prove parse identically to Python int()/float().
# Anything else (unicode digits, underscores, inf/nan, huge magnitudes) is
# routed to the oracle fallback — correct either way, just slower.
_INT_RE = r"^[+-]?\d{1,18}$"
# one greedy regex == rsplit(':', 1) + float() validation per CSV part
_ANN_PART_RE = r"^.*:\s{0,8}[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d{1,4})?\s{0,8}$"
_PAGE_CAP = 1 << 31


def _np_bool(arr: pa.Array, n: int) -> np.ndarray:
    """Arrow boolean -> numpy bool with nulls as False."""
    if n == 0:
        return np.zeros(0, dtype=bool)
    return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)


def _mark(bad: np.ndarray, dids: np.ndarray) -> None:
    if len(dids):
        bad[np.unique(dids)] = True


def _offsets32(counts: np.ndarray) -> pa.Array:
    offs = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offs[1:])
    return pa.array(offs, pa.int32())


def _doc_local_seq(group_ids: np.ndarray) -> np.ndarray:
    """0-based running counter per group; group_ids must be non-decreasing."""
    n = len(group_ids)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    starts = np.flatnonzero(np.r_[True, np.diff(group_ids) > 0])
    grp_len = np.diff(np.r_[starts, n])
    return np.arange(n) - np.repeat(starts, grp_len)


def _extract_batch(
    batch: pa.RecordBatch,
    details: bool = False,
    span_budget: int | None = None,
) -> List[pa.RecordBatch]:
    doc_ids = batch.column(batch.schema.get_field_index("doc_id"))
    spans = batch.column(batch.schema.get_field_index("spans"))
    n_docs = len(doc_ids)
    if n_docs == 0:
        return []

    counts = (
        pc.fill_null(pc.list_value_length(spans), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    bad = np.zeros(n_docs, dtype=bool)
    if spans.null_count:
        bad |= spans.is_null().to_numpy(zero_copy_only=False)

    # S8 analogue (processor.py:183-231): instead of a kill-timer per doc,
    # an optional work budget — oversized docs are marked failed up front
    # and cost nothing, so one pathological doc can never stall a task.
    over_budget = (
        counts > span_budget if span_budget else np.zeros(n_docs, dtype=bool)
    )
    bad |= over_budget

    flat = spans.flatten()  # concatenation of all valid sub-lists, in order
    total = len(flat)
    did = np.repeat(np.arange(n_docs, dtype=np.int64), counts)

    kind = flat.field("kind")
    text = flat.field("text")
    mr = flat.field("media_ref")
    off_pa = flat.field("offset")

    if flat.null_count:  # null struct elements → oracle (TypeError there)
        _mark(bad, did[flat.is_null().to_numpy(zero_copy_only=False)])
    if off_pa.null_count:  # unsortable offsets → oracle (TypeError there)
        _mark(bad, did[off_pa.is_null().to_numpy(zero_copy_only=False)])

    off = pc.fill_null(off_pa, 0).to_numpy(zero_copy_only=False).astype(np.int64)

    # F1: defensive stable sort by (doc, offset) — usually already sorted.
    if total > 1:
        boundary = np.diff(did) > 0
        if not np.all((np.diff(off) >= 0) | boundary):
            order = np.lexsort((np.arange(total), off, did))
            take = pa.array(order)
            kind, text, mr = kind.take(take), text.take(take), mr.take(take)
            off = off[order]  # did unchanged: sort is within-doc

    # F2: type dispatch masks
    kind_codes = pc.index_in(kind, value_set=_KIND_SET)
    text_mask = (
        kind_codes.is_valid().to_numpy(zero_copy_only=False)
        if total
        else np.zeros(0, bool)
    )
    pb_mask = _np_bool(pc.equal(kind, "page_break"), total)
    tbl_mask = _np_bool(pc.equal(kind, "table"), total)
    pic_mask = _np_bool(pc.equal(kind, "picture"), total)
    cap_mask = _np_bool(pc.equal(kind, "caption"), total)

    text_null = (
        text.is_null().to_numpy(zero_copy_only=False)
        if text.null_count
        else np.zeros(total, bool)
    )
    mr_null = (
        mr.is_null().to_numpy(zero_copy_only=False)
        if mr.null_count
        else np.zeros(total, bool)
    )

    # poison detection: null text on a formatted kind; null self_ref on
    # table/picture (oracle raises ValueError)
    _mark(bad, did[text_mask & text_null])
    _mark(bad, did[(tbl_mask | pic_mask) & mr_null])

    # page assignment (item.prov[0].page_no analogue): page_break sets the
    # current page; docs start on page 1; numpy forward-fill within doc.
    pb_idx = np.flatnonzero(pb_mask)
    page_raw = np.full(total, np.nan)
    if len(pb_idx):
        stripped = pc.utf8_trim_whitespace(pc.fill_null(mr.take(pa.array(pb_idx)), ""))
        okp = _np_bool(pc.match_substring_regex(stripped, _INT_RE), len(pb_idx))
        _mark(bad, did[pb_idx[~okp]])  # int() may still parse these → oracle
        if okp.any():
            vals = pd.to_numeric(
                pd.Series(stripped.to_pandas().to_numpy())[okp], errors="coerce"
            ).to_numpy(dtype=np.float64)
            page_raw[pb_idx[okp]] = vals
    if total:
        doc_start_row = np.repeat(np.cumsum(counts) - counts, counts)
        pos = np.where(~np.isnan(page_raw), np.arange(total), np.int64(-1))
        carried = np.maximum.accumulate(pos)
        in_doc = carried >= doc_start_row
        page = np.where(
            in_doc, page_raw[np.maximum(carried, 0)], 1.0
        ).astype(np.int64)
        _mark(bad, did[np.abs(page) >= _PAGE_CAP])
    else:
        page = np.zeros(0, dtype=np.int64)

    # F3: label→format projection, fully in Arrow
    frag = pc.binary_join_element_wise(
        pc.take(_PRE, kind_codes), text, pc.take(_SUF, kind_codes), ""
    )

    # F5: table placeholder fragments, scattered in-place (arrow kernel)
    tbl_idx = np.flatnonzero(tbl_mask)
    if len(tbl_idx):
        mr_t = mr.take(pa.array(tbl_idx))
        frag = pc.replace_with_mask(
            frag,
            pa.array(tbl_mask),
            pc.binary_join_element_wise(" <", mr_t, ">", ""),
        )

    # F6: picture placeholder with per-doc counter (cumcount in stream order)
    pic_idx = np.flatnonzero(pic_mask)
    if len(pic_idx):
        pic_did = did[pic_idx]
        seq = _doc_local_seq(pic_did)
        ph = pc.binary_join_element_wise(
            doc_ids.take(pa.array(pic_did)),
            "_",
            pc.cast(pa.array(seq), pa.string()),
            ".png",
            "",
        )
        frag = pc.replace_with_mask(
            frag, pa.array(pic_mask), pc.binary_join_element_wise(" <", ph, ">", "")
        )

        # classification CSV validation: one greedy regex per part is exactly
        # rsplit(':',1)+float() (utils.py:120-129); parse errors fail the doc
        ann = text.take(pa.array(pic_idx))
        has_ann = _np_bool(pc.not_equal(pc.fill_null(ann, ""), ""), len(pic_idx))
        cls_name = np.full(len(pic_idx), None, dtype=object)
        cls_conf = np.full(len(pic_idx), np.nan)
        if has_ann.any():
            ha_idx = np.flatnonzero(has_ann)
            parts = pc.split_pattern(ann.take(pa.array(ha_idx)), ",")
            part_row = np.repeat(
                ha_idx, np.asarray(pc.list_value_length(parts), dtype=np.int64)
            )
            ok_part = _np_bool(
                pc.match_substring_regex(parts.flatten(), _ANN_PART_RE), len(part_row)
            )
            _mark(bad, pic_did[part_row[~ok_part]])
            if details:
                # argmax by confidence, first-max wins (max()/idxmax agree)
                ps = pd.Series(parts.flatten().to_pandas().to_numpy())
                rs = ps.str.rsplit(":", n=1)
                dfc = pd.DataFrame(
                    {
                        "row": part_row,
                        "name": rs.str[0].to_numpy(dtype=object),
                        "conf": pd.to_numeric(rs.str[-1], errors="coerce").to_numpy(),
                    }
                ).dropna(subset=["conf"])
                if len(dfc):
                    w = dfc.groupby("row", sort=False)["conf"].idxmax()
                    rows_sel = dfc.loc[w, "row"].to_numpy(dtype=np.int64)
                    cls_name[rows_sel] = dfc.loc[w, "name"].to_numpy(dtype=object)
                    cls_conf[rows_sel] = dfc.loc[w, "conf"].to_numpy()
    else:
        pic_did = np.zeros(0, dtype=np.int64)
        ph = pa.array([], pa.string())
        cls_name = np.zeros(0, dtype=object)
        cls_conf = np.zeros(0)

    # F7: caption side-map (last per (doc, parent) wins; null parent never
    # matches — frozen decision, see oracle docstring)
    cap_idx = np.flatnonzero(cap_mask & ~mr_null)
    capdf = pd.DataFrame(
        {
            "did": did[cap_idx],
            "parent": mr.take(pa.array(cap_idx)).to_pandas().to_numpy(),
            "ctext": text.take(pa.array(cap_idx)).to_pandas().to_numpy(),
        }
    ).drop_duplicates(["did", "parent"], keep="last")

    # F9: caption → image application (doc-local hash join; build side is
    # the tiny caption map, mirroring utils.py:167-171)
    if len(pic_idx):
        picdf = pd.DataFrame(
            {
                "did": pic_did,
                "self_ref": mr.take(pa.array(pic_idx)).to_pandas().to_numpy(),
            }
        )
        merged = picdf.merge(
            capdf, left_on=["did", "self_ref"], right_on=["did", "parent"], how="left"
        )
        img_caption = pa.array(
            merged["ctext"].fillna("").to_numpy(dtype=object), pa.string()
        )
    else:
        img_caption = pa.array([], pa.string())

    # table captions (detail output only — table SPAN text stays the markdown)
    if details and len(tbl_idx):
        tdf = pd.DataFrame(
            {
                "did": did[tbl_idx],
                "self_ref": mr.take(pa.array(tbl_idx)).to_pandas().to_numpy(),
            }
        )
        tmerged = tdf.merge(
            capdf, left_on=["did", "self_ref"], right_on=["did", "parent"], how="left"
        )
        tbl_caption = pa.array(
            tmerged["ctext"].fillna("").to_numpy(dtype=object), pa.string()
        )
    else:
        tbl_caption = pa.array([], pa.string())

    # F4: group-by page + ordered concat, first-touch page order.
    frag_valid = frag.is_valid().to_numpy(zero_copy_only=False) if total else np.zeros(0, bool)
    content_mask = frag_valid & ~bad[did] if total else np.zeros(0, bool)
    c_idx = np.flatnonzero(content_mask)
    if len(c_idx):
        key = (did[c_idx] << 32) + (page[c_idx] + _PAGE_CAP)
        codes, uniq = pd.factorize(key)  # first-appearance order == first-touch
        order = np.argsort(codes, kind="stable")
        cnt = np.bincount(codes)
        content_list = pa.ListArray.from_arrays(
            _offsets32(cnt), frag.take(pa.array(c_idx[order]))
        )
        page_content = pc.binary_join(content_list, "")
        g_did = (uniq >> np.int64(32)).astype(np.int64)
        g_page = (uniq & np.int64(0xFFFFFFFF)) - _PAGE_CAP
    else:
        g_did = np.zeros(0, dtype=np.int64)
        g_page = np.zeros(0, dtype=np.int64)
        page_content = pa.array([], pa.string())

    # ---- assemble output spans (§7.3 contract): pages, images, tables ----
    pic_keep = np.flatnonzero(~bad[pic_did]) if len(pic_did) else np.zeros(0, np.int64)
    tbl_did = did[tbl_idx] if len(tbl_idx) else np.zeros(0, np.int64)
    tbl_keep = np.flatnonzero(~bad[tbl_did]) if len(tbl_idx) else np.zeros(0, np.int64)

    a_did = np.concatenate([g_did, pic_did[pic_keep], tbl_did[tbl_keep]])
    a_sec = np.concatenate(
        [
            np.zeros(len(g_did), np.int32),
            np.ones(len(pic_keep), np.int32),
            np.full(len(tbl_keep), 2, np.int32),
        ]
    )
    a_ord = np.concatenate(
        [
            np.arange(len(g_did)),
            np.arange(len(pic_did))[pic_keep],
            np.arange(len(tbl_idx))[tbl_keep],
        ]
    )
    tbl_take = pa.array(tbl_idx[tbl_keep])
    a_text = pa.concat_arrays(
        [
            page_content,
            img_caption.take(pa.array(pic_keep)),
            text.take(tbl_take) if len(tbl_keep) else pa.array([], pa.string()),
        ]
    )
    a_mr = pa.concat_arrays(
        [
            pc.cast(pa.array(g_page), pa.string()),
            ph.take(pa.array(pic_keep)),
            mr.take(tbl_take) if len(tbl_keep) else pa.array([], pa.string()),
        ]
    )

    fin = np.lexsort((a_ord, a_sec, a_did))
    fin_pa = pa.array(fin)
    a_did_s = a_did[fin]
    out_counts = np.bincount(a_did_s, minlength=n_docs)
    doc_starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(out_counts[:-1], out=doc_starts[1:])
    out_off = (
        np.arange(len(a_did_s)) - np.repeat(doc_starts, out_counts)
    ).astype(np.int32)

    kind_names = pa.array(["page", "image", "table"], pa.string())
    span_struct = pa.StructArray.from_arrays(
        [
            kind_names.take(pa.array(a_sec[fin])),
            a_text.take(fin_pa),
            a_mr.take(fin_pa),
            pa.array(out_off, pa.int32()),
        ],
        fields=list(ARROW_SPAN_STRUCT),
    )
    # bad docs contribute zero span rows, so the good-docs list array can be
    # built straight over span_struct — no doc-level gather needed
    good_pos_early = np.flatnonzero(~bad)
    spans_out_good = pa.ListArray.from_arrays(
        _offsets32(out_counts[good_pos_early]), span_struct
    )

    n_pages_all = np.bincount(g_did, minlength=n_docs) if len(g_did) else np.zeros(n_docs, np.int64)
    n_imgs_all = np.bincount(pic_did[pic_keep], minlength=n_docs) if len(pic_keep) else np.zeros(n_docs, np.int64)
    n_tbls_all = np.bincount(tbl_did[tbl_keep], minlength=n_docs) if len(tbl_keep) else np.zeros(n_docs, np.int64)

    from pdfplucker_spark.schemas import (
        ARROW_BUNDLE_SCHEMA,
        ARROW_IMAGE_STRUCT,
        ARROW_PAGE_STRUCT,
        ARROW_TABLE_STRUCT,
    )

    out_schema = ARROW_BUNDLE_SCHEMA if details else ARROW_EXTRACT_SCHEMA
    out: List[pa.RecordBatch] = []
    good_pos = np.flatnonzero(~bad)
    if len(good_pos):
        take = pa.array(good_pos)
        n_good = len(good_pos)
        cols = [
            doc_ids.take(take),
            pa.DictionaryArray.from_arrays(
                pa.array(np.zeros(n_good, np.int32)), pa.array(["ok"])
            ).cast(pa.string()),
            pa.nulls(n_good, pa.string()),
            spans_out_good,
            pa.array(counts[good_pos].astype(np.int32), pa.int32()),
            pa.array(n_pages_all[good_pos].astype(np.int32), pa.int32()),
            pa.array(n_imgs_all[good_pos].astype(np.int32), pa.int32()),
            pa.array(n_tbls_all[good_pos].astype(np.int32), pa.int32()),
        ]
        if details:
            pages_struct = pa.StructArray.from_arrays(
                [pa.array(g_page.astype(np.int32), pa.int32()), page_content],
                fields=list(ARROW_PAGE_STRUCT),
            )
            cols.append(
                pa.ListArray.from_arrays(
                    _offsets32(n_pages_all[good_pos]), pages_struct
                )
            )
            keep_pa = pa.array(pic_keep)
            img_struct = pa.StructArray.from_arrays(
                [
                    ph.take(keep_pa),
                    mr.take(pa.array(pic_idx[pic_keep]))
                    if len(pic_keep)
                    else pa.array([], pa.string()),
                    img_caption.take(keep_pa),
                    pa.array(cls_name[pic_keep], pa.string()),
                    pa.array(
                        cls_conf[pic_keep], pa.float64(), from_pandas=True
                    ),  # NaN → null (oracle None)
                    pa.array(page[pic_idx[pic_keep]].astype(np.int32), pa.int32())
                    if len(pic_keep)
                    else pa.array([], pa.int32()),
                ],
                fields=list(ARROW_IMAGE_STRUCT),
            )
            cols.append(
                pa.ListArray.from_arrays(_offsets32(n_imgs_all[good_pos]), img_struct)
            )
            tkeep_pa = pa.array(tbl_keep)
            tbl_struct = pa.StructArray.from_arrays(
                [
                    mr.take(tbl_take) if len(tbl_keep) else pa.array([], pa.string()),
                    tbl_caption.take(tkeep_pa),
                    pa.array(page[tbl_idx[tbl_keep]].astype(np.int32), pa.int32())
                    if len(tbl_keep)
                    else pa.array([], pa.int32()),
                    text.take(tbl_take) if len(tbl_keep) else pa.array([], pa.string()),
                ],
                fields=list(ARROW_TABLE_STRUCT),
            )
            cols.append(
                pa.ListArray.from_arrays(_offsets32(n_tbls_all[good_pos]), tbl_struct)
            )
        out.append(pa.RecordBatch.from_arrays(cols, schema=out_schema))

    bad_pos = np.flatnonzero(bad)
    if len(bad_pos):
        # F12 analogue: per-doc oracle fallback — failures are data, the
        # batch never dies (reference marks the doc failed and moves on).
        rows = {k: [] for k in ("doc_id", "status", "error", "spans", "ni", "np_", "nim", "ntb", "pg", "im", "tb")}
        for p in bad_pos.tolist():
            d = doc_ids[p].as_py()
            if over_budget[p]:
                res = {
                    "doc_id": d,
                    "status": "error",
                    "error": f"TimeoutError: span budget exceeded ({int(counts[p])} > {span_budget})",
                    "spans": [],
                    "pages": [],
                    "images": [],
                    "tables": [],
                }
            else:
                res = extract_doc(d, spans[p].as_py())
            rows["doc_id"].append(d)
            rows["status"].append(res["status"])
            rows["error"].append(res["error"])
            rows["spans"].append(res["spans"])
            rows["ni"].append(int(counts[p]))
            rows["np_"].append(len(res["pages"]))
            rows["nim"].append(len(res["images"]))
            rows["ntb"].append(len(res["tables"]))
            if details:
                rows["pg"].append(res["pages"])
                rows["im"].append(
                    [
                        {k: im[k] for k in ("ref", "self_ref", "caption", "classification", "confidence", "page")}
                        for im in res["images"]
                    ]
                )
                rows["tb"].append(
                    [
                        {k: tb[k] for k in ("self_ref", "caption", "page", "table")}
                        for tb in res["tables"]
                    ]
                )
        bad_cols = [
            pa.array(rows["doc_id"], pa.string()),
            pa.array(rows["status"], pa.string()),
            pa.array(rows["error"], pa.string()),
            pa.array(rows["spans"], pa.list_(ARROW_SPAN_STRUCT)),
            pa.array(rows["ni"], pa.int32()),
            pa.array(rows["np_"], pa.int32()),
            pa.array(rows["nim"], pa.int32()),
            pa.array(rows["ntb"], pa.int32()),
        ]
        if details:
            bad_cols += [
                pa.array(rows["pg"], pa.list_(ARROW_PAGE_STRUCT)),
                pa.array(rows["im"], pa.list_(ARROW_IMAGE_STRUCT)),
                pa.array(rows["tb"], pa.list_(ARROW_TABLE_STRUCT)),
            ]
        out.append(pa.RecordBatch.from_arrays(bad_cols, schema=out_schema))
    return out


# Safety valve: Arrow string arrays carry 32-bit offsets (2 GB per array).
# maxRecordsPerBatch bounds ROWS, not spans — a batch of nothing-but-giant
# docs could still overflow, so oversized batches are split by doc ranges.
MAX_SPANS_PER_KERNEL_BATCH = 4_000_000


def _split_batch(batch: pa.RecordBatch):
    spans = batch.column(batch.schema.get_field_index("spans"))
    total = int(
        pc.sum(pc.fill_null(pc.list_value_length(spans), 0)).as_py() or 0
    )
    if total <= MAX_SPANS_PER_KERNEL_BATCH or batch.num_rows <= 1:
        yield batch
        return
    mid = batch.num_rows // 2
    yield from _split_batch(batch.slice(0, mid))
    yield from _split_batch(batch.slice(mid))


def _make_iter(details: bool, span_budget: int | None):
    def _it(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for piece in _split_batch(batch):
                yield from _extract_batch(piece, details=details, span_budget=span_budget)

    return _it


def extract_spans(df, span_budget: int | None = None):
    """docs(doc_id, spans) → extracted(doc_id, status, error, spans, n_*).

    One Arrow map stage; no shuffle. Callers choose partitioning
    (see plans.partitioning.fan_out). ``span_budget`` is the S8
    straggler guard: docs above it fail fast instead of stalling a task.
    """
    return df.select("doc_id", "spans").mapInArrow(
        _make_iter(False, span_budget), EXTRACT_SCHEMA
    )


def extract_bundle(df, span_budget: int | None = None):
    """Full Data-bundle parity output: spans + pages/images/tables detail
    arrays (classification/confidence argmax included, utils.py:120-129)."""
    from pdfplucker_spark.schemas import BUNDLE_SCHEMA

    return df.select("doc_id", "spans").mapInArrow(
        _make_iter(True, span_budget), BUNDLE_SCHEMA
    )


def extract_batch_local(table: pa.Table, details: bool = False) -> pa.Table:
    """Run the same kernel on a local Arrow table (test/bench helper)."""
    from pdfplucker_spark.schemas import ARROW_BUNDLE_SCHEMA

    batches: List[pa.RecordBatch] = []
    for b in table.to_batches():
        batches.extend(_extract_batch(b, details=details))
    return pa.Table.from_batches(
        batches, schema=ARROW_BUNDLE_SCHEMA if details else ARROW_EXTRACT_SCHEMA
    )
