"""Spark extraction stage: vectorized Arrow kernels via mapInArrow.

Design (SURVEY.md §3.4 / §4.2):

* One ``mapInArrow`` does all per-document work — span extraction AND the
  per-document merge — so extracted span data never shuffles (the per-doc
  merge that would be a UDAF is fused into the same Arrow batch; SURVEY
  §2.4: every merge is intra-document).
* Inside a batch, work is vectorized across *all spans of all documents at
  once*: the ``spans`` list column is exploded columnar into flat numpy
  arrays (no per-span Python objects), kind-dispatched with boolean masks,
  and the watermark/whitespace cleanup runs over every text span in the
  batch. Only the recursive parsers (DOM split, XY-cut) run per-element —
  unavoidable and allowed (SURVEY §7.3-4); there is no per-row Python UDF
  anywhere.
* ``order`` is assigned from the ``offset`` sort inside the kernel and
  emitted as data, so output equality holds under any partitioning.
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd

from deed_ocr_spark.kernels.html import strip_html_boilerplate
from deed_ocr_spark.kernels.legal import doc_legal_summary
from deed_ocr_spark.kernels.ocr import ocr_region_text, ocr_region_texts_many
from deed_ocr_spark.kernels.pdfblocks import (
    segment_pdf_blocks,
    segment_pdf_blocks_many,
)
from deed_ocr_spark.kernels.textops import clean_watermarks, page_concat

# Output span schema — the north_rule tuple plus provenance (src_kind feeds
# the state-table metrics; status is the per-row error channel; the
# equality check uses only the first four).
SPANS_OUT_DDL = (
    "doc_id string, order int, kind string, text string, "
    "media_ref string, src_kind string, status string"
)

DOC_SUMMARY_DDL = (
    "doc_id string, n_pages int, n_spans int, n_media int, combined_chars bigint, "
    "legal_description_block array<string>, trs array<string>, details_json string"
)

def _fault_span(text: str) -> str:
    """Deterministic fault injection: a span of kind ``fault`` raises with
    its own text as the exception message. The corpus never emits this kind;
    tests use it to exercise the per-row error channel and the ledger's
    retry escalation through a *real* Spark job (the analog of the
    reference's mocked API failures, test/test_gemini_ocr.py)."""
    raise RuntimeError(text)


_KIND_FN = {
    "html": strip_html_boilerplate,
    "pdf_page": segment_pdf_blocks,
    "ocr_region": ocr_region_text,
    "fault": _fault_span,
}

# Vectorized whole-batch variants (one numpy pass over all spans of a kind
# in the Arrow batch). Must be byte-identical to the scalar kernel — the
# scalar stays both the golden-executor path and the per-row error-channel
# fallback if a batch kernel ever raises.
_BATCH_KIND_FN = {
    "pdf_page": segment_pdf_blocks_many,
    "ocr_region": ocr_region_texts_many,
}


def _span_valid(s) -> bool:
    """Null span elements and spans without an offset are DROPPED — the
    offset is the ordering key, so a span lacking one is malformed. One
    rule shared by the scalar spec and both columnar paths, so the
    byte-identical contract covers nullable array elements too."""
    return s is not None and s["offset"] is not None


def _explode_batch_scalar(pdf: pd.DataFrame) -> pd.DataFrame:
    """Reference (per-span loop) explode — kept as the executable spec the
    columnar path is property-tested against (tests/test_kernel_properties)."""
    doc_ids: List[str] = []
    kinds: List[str] = []
    texts: List[str] = []
    media_refs: List[str] = []
    orders: List[int] = []
    for doc_id, spans in zip(pdf["doc_id"].to_numpy(), pdf["spans"].to_numpy()):
        if spans is None:
            continue
        ordered = sorted(
            (s for s in spans if _span_valid(s)), key=lambda s: s["offset"]
        )
        for order, s in enumerate(ordered):
            doc_ids.append(doc_id)
            kinds.append(s["kind"])
            texts.append(s["text"] or "")
            media_refs.append(s["media_ref"] or "")
            orders.append(order)
    return pd.DataFrame(
        {
            "doc_id": pd.Series(doc_ids, dtype="object"),
            "src_kind": pd.Series(kinds, dtype="object"),
            "in_text": pd.Series(texts, dtype="object"),
            "in_media_ref": pd.Series(media_refs, dtype="object"),
            "order": pd.Series(orders, dtype="int32"),
        }
    )


def _explode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Explode (doc_id, spans) rows to one flat frame of spans with dense
    per-doc ``order`` from the offset sort.

    Columnar construction over the whole Arrow batch: field extraction is
    four flat comprehensions over the flattened span sequence, and the
    per-document offset sort collapses into ONE stable ``np.lexsort`` on
    (doc_index, offset) — np.lexsort is stable, so equal offsets keep
    input order exactly like ``sorted(key=offset)`` did, and because
    doc_index is already non-decreasing the sort permutes only within each
    document's block. Dense per-doc ``order`` is then positional
    arithmetic (row index minus the document's block start). Byte-
    identical to ``_explode_batch_scalar`` (property-tested)."""
    spans_col = pdf["spans"].to_numpy()
    n_rows = len(spans_col)
    lens = np.fromiter(
        (
            0 if spans is None else sum(1 for s in spans if _span_valid(s))
            for spans in spans_col
        ),
        dtype=np.int64,
        count=n_rows,
    )
    total = int(lens.sum())
    if total == 0:
        return _explode_batch_scalar(pdf.iloc[:0])
    flat = [
        s
        for spans in spans_col
        if spans is not None
        for s in spans
        if _span_valid(s)
    ]
    kinds = np.fromiter((s["kind"] for s in flat), dtype=object, count=total)
    texts = np.fromiter((s["text"] or "" for s in flat), dtype=object, count=total)
    refs = np.fromiter(
        (s["media_ref"] or "" for s in flat), dtype=object, count=total
    )
    offs = np.fromiter((s["offset"] for s in flat), dtype=np.int64, count=total)
    codes = np.repeat(np.arange(n_rows), lens)
    doc_rep = np.repeat(pdf["doc_id"].to_numpy(), lens)
    idx = np.lexsort((offs, codes))
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    orders = (np.arange(total) - starts).astype("int32")
    return pd.DataFrame(
        {
            "doc_id": pd.Series(doc_rep, dtype="object"),
            "src_kind": pd.Series(kinds[idx], dtype="object"),
            "in_text": pd.Series(texts[idx], dtype="object"),
            "in_media_ref": pd.Series(refs[idx], dtype="object"),
            "order": pd.Series(orders, dtype="int32"),
        }
    )


def _safe(fn):
    """Per-row error channel (SURVEY §4.2): kernels never raise across the
    Arrow boundary — a failing span becomes an empty text span tagged with
    the reference's error taxonomy (workflow.py:269-282 keep-going
    discipline), and the job continues. Per-span extraction is the analog
    of the reference's per-page engine call, so the classification uses the
    engine-variant ladder (ocr/gemini_ocr.py:66-101 — the full taxonomy
    incl. content_filter/invalid_argument), not the coarser workflow one."""

    def wrapped(text):
        try:
            return fn(text), "ok"
        except Exception as exc:  # noqa: BLE001 — the channel IS the handler
            from deed_ocr_spark.kernels.mergeops import classify_error_gemini

            return "", classify_error_gemini(str(exc))[0]

    return wrapped


def _extract_flat(flat: pd.DataFrame) -> pd.DataFrame:
    """Kind-dispatched extraction over the exploded batch (masked, batched).

    Works on plain numpy object arrays end-to-end: the prior pandas form
    spent ~30% of the kernel in Series.map machinery and masked-setitem
    putmask rather than in the kernels themselves (profiled; same scalar
    functions per element, so output is byte-identical)."""
    n = len(flat)
    src_np = flat["src_kind"].to_numpy()
    in_text = flat["in_text"].to_numpy()
    out_text = np.full(n, "", dtype=object)
    status = np.full(n, "ok", dtype=object)
    for kind, fn in _KIND_FN.items():
        mask = src_np == kind
        if not mask.any():
            continue
        batch_fn = _BATCH_KIND_FN.get(kind)
        if batch_fn is not None:
            try:
                out_text[mask] = batch_fn(in_text[mask].tolist())
                continue  # statuses stay "ok" (batch kernels never raise per span)
            except Exception:  # pragma: no cover — pathological batch
                pass  # re-run through the per-row error channel below
        idxs = np.flatnonzero(mask)
        safe = _safe(fn)
        for i in idxs:
            out_text[i], status[i] = safe(in_text[i])
    passthrough = src_np == "text"
    if passthrough.any():
        out_text[passthrough] = in_text[passthrough]
    is_media = src_np == "media"
    # cleanup pass over every text span in the batch (scalar kernel per
    # element — its substring guards skip the regex engine where possible)
    for i in np.flatnonzero(~is_media):
        out_text[i] = clean_watermarks(out_text[i])

    return pd.DataFrame(
        {
            "doc_id": flat["doc_id"],
            "order": flat["order"].astype("int32"),
            "kind": np.where(is_media, "media_ref", "text"),
            "text": np.where(is_media, "", out_text),
            "media_ref": np.where(is_media, flat["in_media_ref"], ""),
            "src_kind": flat["src_kind"],
            "status": status,
        }
    )


def _explode_recordbatch(rb) -> pd.DataFrame | None:
    """Columnar explode of an Arrow (doc_id, spans) RecordBatch to the flat
    span frame, with zero per-span Python objects.

    Converting the ``spans`` list<struct> column to pandas would build one
    Python dict PER SPAN before the kernel even runs — at 100 TB that dict
    materialization is pure overhead. ``list_flatten`` /
    ``list_parent_indices`` give flat field arrays directly; the per-doc
    offset sort is the same stable lexsort as ``_explode_batch``; null
    lists contribute nothing and null text/media_ref become '' exactly
    like the scalar path."""
    import pyarrow.compute as pc

    spans = rb.column(rb.schema.get_field_index("spans"))
    flat = pc.list_flatten(spans)
    parent = pc.list_parent_indices(spans).to_numpy(zero_copy_only=False)
    if len(flat) != len(parent):
        # Non-canonical list array: a NULL list slot whose offset range is
        # non-empty (legal Arrow, never produced by Spark's serializer but
        # reachable when the kernel is run over arbitrary parquet via
        # streaming/run_job). pyarrow's list_flatten DROPS the null slot's
        # covered values while list_parent_indices still emits indices for
        # them, so the flat fields and parent diverge in length and every
        # downstream mask/lexsort would misalign. The pandas explode
        # handles null slots by value, so fall back for this batch.
        out = _explode_batch(rb.to_pandas())
        return out if len(out) else None
    if len(parent) == 0:
        return None
    kind = flat.field("kind").to_numpy(zero_copy_only=False)
    text = pc.fill_null(flat.field("text"), "").to_numpy(zero_copy_only=False)
    ref = pc.fill_null(flat.field("media_ref"), "").to_numpy(zero_copy_only=False)
    offs_arr = flat.field("offset")
    offs_np = offs_arr.to_numpy(zero_copy_only=False)  # float64+NaN if nulls
    # _span_valid rule: drop null struct elements and null offsets (struct
    # children do NOT inherit the parent's validity in Arrow, so the
    # struct-level mask must be applied explicitly or a null element would
    # surface as a garbage row)
    valid = np.asarray(
        pc.and_kleene(flat.is_valid(), offs_arr.is_valid()).to_numpy(
            zero_copy_only=False
        ),
        dtype=bool,
    )
    if not valid.all():
        parent = parent[valid]
        if len(parent) == 0:
            return None
        kind, text, ref, offs_np = (
            kind[valid],
            text[valid],
            ref[valid],
            offs_np[valid],
        )
    offs = offs_np.astype("int64")
    n = len(parent)
    doc = rb.column(rb.schema.get_field_index("doc_id")).to_numpy(
        zero_copy_only=False
    )[parent]
    # parent is non-decreasing, so the stable lexsort permutes only
    # within each document's block and `doc` needs no re-indexing
    idx = np.lexsort((offs, parent))
    block_start = np.zeros(n, dtype=np.int64)
    new_block = np.flatnonzero(np.diff(parent)) + 1
    block_start[new_block] = new_block
    block_start = np.maximum.accumulate(block_start)
    orders = (np.arange(n) - block_start).astype("int32")
    return pd.DataFrame(
        {
            "doc_id": pd.Series(doc, dtype="object"),
            "src_kind": pd.Series(kind[idx], dtype="object"),
            "in_text": pd.Series(text[idx], dtype="object"),
            "in_media_ref": pd.Series(ref[idx], dtype="object"),
            "order": pd.Series(orders, dtype="int32"),
        }
    )


def _spans_out_arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("doc_id", pa.string()),
            ("order", pa.int32()),
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("src_kind", pa.string()),
            ("status", pa.string()),
        ]
    )


def extract_spans_batches_arrow(batches) -> Iterator["object"]:
    """mapInArrow kernel: (doc_id, spans) batches → output span rows.
    Byte-identical to ``_extract_flat(_explode_batch(pdf))`` evaluated
    locally and to the golden executor (tests)."""
    import pyarrow as pa

    out_schema = _spans_out_arrow_schema()
    for rb in batches:
        if rb.num_rows == 0:
            continue
        flat_pdf = _explode_recordbatch(rb)
        if flat_pdf is None:
            continue
        yield pa.RecordBatch.from_pandas(
            _extract_flat(flat_pdf), schema=out_schema, preserve_index=False
        )


def _doc_summaries(out: pd.DataFrame) -> pd.DataFrame:
    """Per-document stage-2 merge (reference semantics, golden.doc_summary)
    computed from already-extracted spans — runs inside the same Arrow batch
    as extraction, so no shuffle of span data is ever needed. Emits the
    whole-document structured record (``details_json`` — the reference's
    final_result ``details``, workflow.py:484-598 + :737-756) alongside the
    legal-description/TRS merge."""
    import numpy as np

    from deed_ocr_spark.kernels.details import doc_details_json
    from deed_ocr_spark.kernels.legal import extract_with_regex_tagged, scan_pages

    # One stable sort of the whole batch replaces a per-group sort_values +
    # boolean .loc (2000 pandas calls/batch was the measured constant
    # factor); groups stay in first-appearance order via factorize.
    codes, doc_ids = pd.factorize(out["doc_id"], sort=False)
    order_idx = np.lexsort((out["order"].to_numpy(), codes))
    kinds = out["kind"].to_numpy()[order_idx]
    texts = out["text"].to_numpy()[order_idx]
    sorted_codes = codes[order_idx]
    bounds = np.searchsorted(sorted_codes, np.arange(len(doc_ids) + 1))

    recs = []
    for gi, doc_id in enumerate(doc_ids):
        lo, hi = bounds[gi], bounds[gi + 1]
        g_kinds = kinds[lo:hi]
        pages = [t for t, k in zip(texts[lo:hi], g_kinds) if k == "text"]
        combined = page_concat(pages)
        # ONE lower() + tagged regex pass per page and per combined text,
        # shared by the legal-summary and details paths (each used to
        # rescan the STR pattern independently — the measured hot spot).
        page_scans = scan_pages(pages)
        combined_lower = combined.lower()
        combined_scan = (
            combined_lower,
            extract_with_regex_tagged(combined, combined_lower),
        )
        summary = doc_legal_summary(pages, combined, page_scans, combined_scan)
        recs.append(
            (
                doc_id,
                len(pages),
                int(hi - lo),
                int((g_kinds == "media_ref").sum()),
                len(combined),
                summary["legal_description_block"],
                summary["trs"],
                doc_details_json(pages, page_scans),
            )
        )
    return pd.DataFrame(
        recs,
        columns=[
            "doc_id",
            "n_pages",
            "n_spans",
            "n_media",
            "combined_chars",
            "legal_description_block",
            "trs",
            "details_json",
        ],
    ).astype({"n_pages": "int32", "n_spans": "int32", "n_media": "int32"})


def extract_doc_summaries_batches_arrow(batches) -> Iterator["object"]:
    """mapInArrow kernel: (doc_id, spans) batches → per-doc summary rows
    (columnar explode, then extraction + full reference merge fused; zero
    shuffles)."""
    import pyarrow as pa

    out_schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("n_pages", pa.int32()),
            ("n_spans", pa.int32()),
            ("n_media", pa.int32()),
            ("combined_chars", pa.int64()),
            ("legal_description_block", pa.list_(pa.string())),
            ("trs", pa.list_(pa.string())),
            ("details_json", pa.string()),
        ]
    )
    for rb in batches:
        if rb.num_rows == 0:
            continue
        flat_pdf = _explode_recordbatch(rb)
        if flat_pdf is None:
            continue
        yield pa.RecordBatch.from_pandas(
            _doc_summaries(_extract_flat(flat_pdf)),
            schema=out_schema,
            preserve_index=False,
        )


# One row per per-page legal description, WITH its confidence score —
# the raw output of the reference's extractor before the acceptance
# threshold (extractors/llm.py:125-138 + dedup :167-193). The P6 filter
# (confidence > 0.5, llm.py:109-118) is applied RELATIONALLY by the
# consuming query, so it is visible in the Spark plan, not buried in the
# kernel.
DESC_OUT_DDL = (
    "doc_id string, page_number int, text string, "
    "start_char int, end_char int, confidence double"
)


def extract_descriptions_batches_arrow(batches) -> Iterator["object"]:
    """mapInArrow kernel: (doc_id, spans) batches → per-description rows
    (columnar explode; checked against the golden executor)."""
    import pyarrow as pa

    out_schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("page_number", pa.int32()),
            ("text", pa.string()),
            ("start_char", pa.int32()),
            ("end_char", pa.int32()),
            ("confidence", pa.float64()),
        ]
    )
    for rb in batches:
        if rb.num_rows == 0:
            continue
        flat_pdf = _explode_recordbatch(rb)
        if flat_pdf is None:
            continue
        out = _descriptions_from_flat(_extract_flat(flat_pdf))
        if out is not None:
            yield pa.RecordBatch.from_pandas(
                out, schema=out_schema, preserve_index=False
            )


def _descriptions_from_flat(out: pd.DataFrame):
    """Per-description rows from the extracted flat frame (None when the
    batch yields no descriptions). One stable lexsort + block slicing
    instead of per-doc pandas groupby/sort_values (the _doc_summaries
    factorize pattern — the measured per-group pandas dispatch was the
    kernel's constant factor at scale)."""
    from deed_ocr_spark.kernels.legal import find_descriptions_in_pages

    codes, doc_ids = pd.factorize(out["doc_id"], sort=False)
    order_idx = np.lexsort((out["order"].to_numpy(), codes))
    kinds = out["kind"].to_numpy()[order_idx]
    texts = out["text"].to_numpy()[order_idx]
    sorted_codes = codes[order_idx]
    bounds = np.searchsorted(sorted_codes, np.arange(len(doc_ids) + 1))
    recs = []
    for gi, doc_id in enumerate(doc_ids):
        lo, hi = bounds[gi], bounds[gi + 1]
        pages = [t for t, k in zip(texts[lo:hi], kinds[lo:hi]) if k == "text"]
        for d in find_descriptions_in_pages(pages):
            recs.append(
                (doc_id, d.page_number, d.text, d.start_char, d.end_char, d.confidence)
            )
    if not recs:
        return None
    return pd.DataFrame(
        recs,
        columns=[
            "doc_id",
            "page_number",
            "text",
            "start_char",
            "end_char",
            "confidence",
        ],
    ).astype({"page_number": "int32", "start_char": "int32", "end_char": "int32"})
