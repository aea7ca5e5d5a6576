"""End-to-end per-document extraction (the canonical pipeline).

Stage order mirrors /root/reference/enhanced_pipeline.py:75-174 +
structure_engine.py:326-481:

  decode payload → per-page reading order + figure regions (layout and PDF
  paths) → noise tagging → caption/footnote linking → confidence stats →
  per-page annotated render → loose hyphen merge → language detection →
  schema enforcement → validation + quality gate.

This single function is the byte-parity source of truth: golden fixtures are
frozen from it, and the Spark pipeline invokes the very same code inside an
Arrow-batched UDF, so parity is structural rather than aspirational.
"""

from __future__ import annotations

from typing import Any

from . import (
    annotate, captions, confidence, langid, layout, layoutcodec, metadata, noise, pdftext, schema_enforce, textnorm,
    validate,
)
from .figures import detect_figure_regions
from .htmlstrip import extract_elements as html_extract_elements

DEFAULT_PAGE_HEIGHT = 800.0
DEFAULT_PAGE_WIDTH = 612.0


def _looks_like_html(payload: bytes) -> bool:
    head = payload[:256].lstrip().lower()
    return head.startswith(b"<!doctype") or head.startswith(b"<html") or head.startswith(b"<head") or head.startswith(b"<body")


def decode_payload(payload: bytes, text_fallback: str | None) -> tuple[list[list[dict[str, Any]]], list[tuple[float, float]], dict[str, Any], str]:
    """payload → (pages_elements, page_dims (w, h), doc_meta, method).

    ``method`` distinguishes a PDF whose parse FAILED (``pdf_parse_failed``
    — scanned/encrypted/malformed, routed to the text-column fallback) from
    a document that was plain text to begin with (``text_layer``): the
    north-rule lineage counts parse failures, so the two must not conflate
    (VERDICT r3 task 5). The fallback RENDER is identical either way."""
    pdf_failed = False
    if layoutcodec.is_layout_payload(payload):
        doc = layoutcodec.decode_layout(payload)
        pages = [p.get("elements", []) for p in doc.get("pages", [])]
        dims = [
            (
                float(p.get("width", DEFAULT_PAGE_WIDTH)),
                float(p.get("height", DEFAULT_PAGE_HEIGHT)),
            )
            for p in doc.get("pages", [])
        ]
        return pages, dims, doc.get("meta", {}), "layout_ocr"
    if pdftext.is_pdf(payload):
        # digital-PDF route (structure_engine.py:67-110 sends text-layer
        # PDFs through pymupdf4llm instead of OCR): the pure-Python content-
        # stream parser yields positioned line elements, so the same layout
        # pass applies; scanned/encrypted PDFs raise → text-column fallback,
        # mirroring the reference's digital-vs-scan router (:914-928)
        try:
            # one object map gives pages, dims and the document-information
            # dict (frontmatter fields, the fitz doc.metadata analog); the D:
            # date is parsed exactly where the reference parses it
            # (metadata_extractor.py:97-123)
            pages, dims, info = pdftext.extract_pdf_pages(payload)
            if "creation_date" in info:
                info["creation_date"] = metadata.parse_pdf_date(info["creation_date"])
            return pages, dims, info, "pdf_text"
        except Exception:
            # scanned/encrypted/malformed: fall through to the text column,
            # but remember — the router records this distinctly in lineage
            pdf_failed = True
    if _looks_like_html(payload):
        elements = html_extract_elements(payload.decode("utf-8", errors="replace"))
        # acceptance gate (structure_engine.py:914-928 router analog): the
        # reference accepts the digital parse only when BOTH >100 chars AND
        # >100 words survive — script-only pages and single-token blobs fall
        # back to the raw text column, the cheap probe before the expensive
        # path, re-expressed for HTML payloads
        texts = [e.get("content") or "" for e in elements if e.get("type") == "text"]
        total_chars = sum(len(t) for t in texts)
        total_words = sum(len(t.split()) for t in texts)
        if total_chars > 100 and total_words > 100:
            height = max((e["y"] for e in elements), default=DEFAULT_PAGE_HEIGHT)
            return [elements], [(DEFAULT_PAGE_WIDTH, max(height, DEFAULT_PAGE_HEIGHT))], {}, "html_dom"
    # plain-text fallback source (the `text` column) — digital-path analog
    text = text_fallback if text_fallback else payload.decode("utf-8", errors="replace")
    elements = []
    for i, para in enumerate([p for p in text.split("\n\n") if p.strip()], 1):
        elements.append(
            {
                "type": "text",
                "content": " ".join(para.split()),
                "y": i * 20.0,
                "font_size": 12.0,
                "confidence": 1.0,
                "reading_order": i,
            }
        )
    height = max((e["y"] for e in elements), default=DEFAULT_PAGE_HEIGHT)
    method = "pdf_parse_failed" if pdf_failed else "text_layer"
    return [elements], [(DEFAULT_PAGE_WIDTH, max(height, DEFAULT_PAGE_HEIGHT))], {}, method


def run_layout_analysis(
    pages: list[list[dict[str, Any]]],
    page_dims: list[tuple[float, float]],
) -> tuple[list[list[dict[str, Any]]], int]:
    """Per-page geometric pass for bbox-bearing (layout) payloads: reading
    order (``layout.order_page``), then the occupancy-grid empty-region
    detector (structure_engine.py:384 calls it on every scan page). Roles
    are left to the render, which classifies every text element itself.

    Sparse pages can flood the connected margin region into one page-sized
    figure candidate; the reference has the same behavior, filtered only by
    the >=100px-per-dimension size gate (structure_engine.py:240-249,
    mirrored in figures.py), so goldens encode it rather than avoid it.
    """
    out: list[list[dict[str, Any]]] = []
    max_columns = 0
    for elements, (width, height) in zip(pages, page_dims, strict=True):
        with_bbox = [e for e in elements if e.get("bbox")]
        if with_bbox and len(with_bbox) == len(elements):
            result = layout.order_page(elements)
            # reference order: the analyzer sees only the original elements;
            # grid-detected figure regions are appended AFTER analysis with
            # no reading_order (structure_engine.py:384-411) and the
            # (reading_order or 0, y) render sort places them first on the
            # page, y-ordered (semantic_annotator.py:360-364)
            boxes = [tuple(e["bbox"]) for e in elements if e.get("type") == "text"]
            out.append(result["elements"] + detect_figure_regions(width, height, boxes))
            max_columns = max(max_columns, result["column_count"])
        else:
            out.append(elements)
            max_columns = max(max_columns, 1)
    return out, max_columns


def extract_document(
    url: str,
    warc_ts: Any,
    payload: bytes,
    text_fallback: str | None = None,
) -> dict[str, Any]:
    """One document row → {markdown, quality metrics, lineage fields}."""
    pages, dims, doc_meta, method = decode_payload(payload, text_fallback)
    heights = [h for _, h in dims]

    if method in ("layout_ocr", "pdf_text"):
        pages, n_columns = run_layout_analysis(pages, page_dims=dims)
    else:
        n_columns = 1

    pages, noise_report = noise.tag_document_noise(pages)
    pages, link_report = captions.link_document(pages, heights)

    conf_fields = confidence.to_frontmatter_fields(pages)

    body = "".join(
        annotate.render_page(
            elements,
            page_num,
            heights[page_num - 1] if page_num - 1 < len(heights) else DEFAULT_PAGE_HEIGHT,
        )
        for page_num, elements in enumerate(pages, 1)
    )

    body = textnorm.merge_hyphenated_words_loose(body)

    page_texts = [
        " ".join((e.get("content") or "") for e in elements if e.get("type") == "text")
        for elements in pages
    ]
    lang_result = langid.detect_language_pages(page_texts)

    structure = annotate.document_structure(pages)
    meta = metadata.build_metadata(
        url=url,
        warc_ts=warc_ts,
        payload=payload,
        pages=len(pages),
        extraction_method=method,
        title=doc_meta.get("title", ""),
        author=doc_meta.get("author", ""),
        creation_date=doc_meta.get("creation_date", ""),
    )
    meta.update(conf_fields)
    meta["language"] = lang_result["language"]
    meta["detected_columns"] = n_columns
    meta["has_tables"] = structure["has_tables"]
    meta["has_figures"] = structure["has_figures"]

    # The enhanced render path applies schema enforcement directly;
    # normalize_markdown belongs to the digital/text paths only
    # (structure_engine.py:79 normalizes the pymupdf4llm digital output;
    # enhanced_pipeline.py:136-174 handles the OCR path).
    if method in ("text_layer", "pdf_text", "pdf_parse_failed"):
        body = textnorm.normalize_markdown(body)
    markdown = schema_enforce.enforce_schema(body, meta)

    report = validate.validate_markdown(markdown)
    gate = validate.quality_gate(report)

    n_elements = sum(len(p) for p in pages)
    return {
        "url": url,
        "markdown": markdown,
        "method": method,
        "language": lang_result["language"],
        "pages": len(pages),
        "elements": n_elements,
        "quality_score": report["quality_score"],
        "confidence_score": conf_fields["confidence_score"],
        "validation_errors": report["errors"],
        "validation_warnings": report["warnings"],
        "hallucinations": report["hallucination_count"],
        "gate_passed": gate["passed"],
        "gate_action": gate["suggested_action"],
        "quality_level": gate["quality_level"],
        "captions_linked": link_report["captions_linked"],
        "footnotes_linked": link_report["footnotes"],
        "noise_tagged": noise_report["watermarks_tagged"]
        + noise_report["page_numbers_tagged"]
        + noise_report["artifacts_tagged"],
        "document_id": meta["document_id"],
    }
