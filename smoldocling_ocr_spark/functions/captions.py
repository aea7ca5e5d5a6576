"""Caption↔target linking and footnote annotation core.

Reference semantics: /root/reference/caption_extractor.py — caption regex
banks (:22-34), nearest-element proximity link within 100px (:37, :132-152),
standalone-caption removal (:106), footnote content patterns in the bottom
20% of a page (:182-269).

The Spark relational twin of the proximity link is a range join +
min-by-distance window (SURVEY.md §2.3); this in-UDF form is the production
path and the byte-parity source of truth.
"""

from __future__ import annotations

import re
from typing import Any

from .noise import element_y

PROXIMITY_THRESHOLD = 100.0
PAGE_BOTTOM_THRESHOLD = 0.8

TABLE_CAPTION_RES = [
    re.compile(p)
    for p in (
        r"^[Tt][Aa][Bb][Ll][Ee]\s*(\d+)[\s:\.]*(.*)$",
        r"^[Tt][Bb][Ll]\.?\s*(\d+)[\s:\.]*(.*)$",
    )
]

FIGURE_CAPTION_RES = [
    re.compile(p)
    for p in (
        r"^[Ff][Ii][Gg][Uu][Rr][Ee]\s*(\d+)[\s:\.]*(.*)$",
        r"^[Ff][Ii][Gg]\.?\s*(\d+)[\s:\.]*(.*)$",
        r"^[Ii][Mm][Aa][Gg][Ee]\s*(\d+)[\s:\.]*(.*)$",
        r"^[Cc][Hh][Aa][Rr][Tt]\s*(\d+)[\s:\.]*(.*)$",
        r"^[Dd][Ii][Aa][Gg][Rr][Aa][Mm]\s*(\d+)[\s:\.]*(.*)$",
        r"^[Gg][Rr][Aa][Pp][Hh]\s*(\d+)[\s:\.]*(.*)$",
    )
]

FOOTNOTE_CONTENT_RES = [
    re.compile(p)
    for p in (
        r"^\[(\d+)\]\s*(.+)$",
        r"^\((\d+)\)\s*(.+)$",
        r"^(\d+)\.\s+(.+)$",
        r"^[¹²³⁴⁵⁶⁷⁸⁹⁰]\s*(.+)$",
    )
]

_LEADING_ID = re.compile(r"^\[?(\d+)\]?")

# every caption pattern requires one of these literal words at position 0
# (case-folded) — a C-speed startswith gate skips the 12-regex bank on the
# overwhelmingly common non-caption element (r6; sound: regex match at pos 0
# implies the prefix)
_CAPTION_PREFIXES = ("table", "tbl", "figure", "fig", "image", "chart", "diagram", "graph")


def parse_caption(text: str) -> dict[str, Any] | None:
    """Return {'kind','number','text'} if the line is a table/figure caption."""
    if not text[:7].lower().startswith(_CAPTION_PREFIXES):
        return None
    for pattern in TABLE_CAPTION_RES:
        m = pattern.match(text)
        if m:
            return {"kind": "table", "number": int(m.group(1)), "text": (m.group(2) or "").strip()}
    for pattern in FIGURE_CAPTION_RES:
        m = pattern.match(text)
        if m:
            return {"kind": "figure", "number": int(m.group(1)), "text": (m.group(2) or "").strip()}
    return None


def link_captions_page(elements: list[dict[str, Any]]) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """Attach each caption line to the nearest same-kind target within 100px.

    Standalone caption text elements are dropped after linking (they live on
    as the target's ``caption`` attribute). Returns (elements, linked_report).
    """
    tables = [(i, e) for i, e in enumerate(elements) if e.get("type") == "table"]
    figures = [(i, e) for i, e in enumerate(elements) if e.get("type") == "figure"]

    caption_rows: list[tuple[int, dict[str, Any], dict[str, Any]]] = []
    caption_indices: set[int] = set()
    for i, elem in enumerate(elements):
        if elem.get("type") != "text":
            continue
        info = parse_caption((elem.get("content") or "").strip())
        if info:
            caption_rows.append((i, elem, info))
            caption_indices.add(i)

    linked: list[dict[str, Any]] = []
    for _, elem, info in caption_rows:
        candidates = tables if info["kind"] == "table" else figures
        cy = element_y(elem)
        best = None
        best_dist = PROXIMITY_THRESHOLD
        for idx, target in candidates:
            dist = abs(element_y(target) - cy)
            if dist < best_dist:
                best_dist = dist
                best = target
        if best is not None:
            best["caption"] = info["text"]
            best["caption_number"] = info["number"]
            linked.append(info)

    kept = [e for i, e in enumerate(elements) if i not in caption_indices or e.get("type") != "text"]
    return kept, linked


def link_footnotes_page(
    elements: list[dict[str, Any]], page_height: float = 800.0
) -> list[dict[str, Any]]:
    """Tag bottom-20% elements matching footnote content patterns as
    ``semantic_role='footnote'`` with the extracted ``footnote_id``."""
    for elem in elements:
        if elem.get("type") != "text":
            continue
        if element_y(elem) / page_height < PAGE_BOTTOM_THRESHOLD:
            continue
        content = (elem.get("content") or "").strip()
        # every footnote pattern's first char is one of these (r6 gate)
        if content[:1] not in "[(0123456789¹²³⁴⁵⁶⁷⁸⁹⁰":
            continue
        for pattern in FOOTNOTE_CONTENT_RES:
            if pattern.match(content):
                elem["semantic_role"] = "footnote"
                id_match = _LEADING_ID.match(content)
                if id_match:
                    elem["footnote_id"] = id_match.group(1)
                break
    return elements


def link_document(
    pages: list[list[dict[str, Any]]],
    page_heights: list[float] | None = None,
) -> tuple[list[list[dict[str, Any]]], dict[str, Any]]:
    """Captions first, then footnotes, per page (enhanced_pipeline.py:107-120)."""
    out: list[list[dict[str, Any]]] = []
    all_linked: list[dict[str, Any]] = []
    for page_idx, elements in enumerate(pages):
        kept, linked = link_captions_page(elements)
        height = page_heights[page_idx] if page_heights else 800.0
        kept = link_footnotes_page(kept, height)
        out.append(kept)
        for info in linked:
            all_linked.append({"page": page_idx + 1, **info})
    footnotes = sum(1 for page in out for e in page if e.get("footnote_id"))
    report = {
        "captions_linked": len(all_linked),
        "tables": sum(1 for c in all_linked if c["kind"] == "table"),
        "figures": sum(1 for c in all_linked if c["kind"] == "figure"),
        "footnotes": footnotes,
    }
    return out, report
