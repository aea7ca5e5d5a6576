"""Geometric layout analysis core.

Reference semantics: /root/reference/layout_analyzer.py — gap-clustered column
detection (:24-75, threshold 50), element→column assignment (:77-110), XY-cut
reading order (:112-151), multi-signal role classifier (:153-323 with the
0.35/0.25/0.20/0.15/0.05 signal weights and list-item early exits), confidence
split at 0.7 with low-confidence postfix (:396-426, :479-483), and the
page-level orchestration (:428-493).

The fused extraction path (``functions.extract``) calls only ``order_page``:
its render classifies text with ``annotate.classify_text_role`` and never
reads ``semantic_role``. The multi-signal role ladder in ``analyze_page``
feeds only the ``role_distribution`` catalog query.

Relational twins of the window-function formulations live in
``smoldocling_ocr_spark.plans.catalog`` (lag/cumsum gap clustering,
row_number XY-cut) so the DuckDB oracle can check them.
"""

from __future__ import annotations

from typing import Any

from .confidence import element_confidence

COLUMN_GAP_THRESHOLD = 50.0
CONFIDENCE_THRESHOLD = 0.7

_BULLET_PREFIXES = ("•", "-", "*", "◦", "○", "▪", "▫", "–", "—")
_CAPTION_KEYWORDS = ("figure", "fig.", "table", "chart", "diagram", "image")


def detect_columns(elements: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Cluster distinct left edges; a jump > COLUMN_GAP_THRESHOLD starts a
    new column."""
    xs = sorted({e["bbox"][0] for e in elements if e.get("bbox")})
    if not xs:
        return []
    cols: list[dict[str, Any]] = []
    cur = {"id": 0, "x_min": xs[0], "x_max": xs[0]}
    for x in xs[1:]:
        if x - cur["x_max"] > COLUMN_GAP_THRESHOLD:
            cols.append(cur)
            cur = {"id": len(cols), "x_min": x, "x_max": x}
        else:
            cur["x_max"] = x
    cols.append(cur)
    return cols


def assign_columns(elements: list[dict[str, Any]], columns: list[dict[str, Any]]) -> None:
    """Attach ``column_id`` by x-center containment, else nearest column center."""
    for elem in elements:
        bbox = elem.get("bbox")
        if not bbox:
            elem["column_id"] = 0
            continue
        cx = (bbox[0] + bbox[2]) / 2
        for col in columns:
            if col["x_min"] <= cx <= col["x_max"]:
                elem["column_id"] = col["id"]
                break
        else:
            best = min(columns, key=lambda c: abs(cx - (c["x_min"] + c["x_max"]) / 2))
            elem["column_id"] = best["id"]


def xy_cut_order(elements: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Columns left→right, rows top→bottom within a column; 1-based order.

    Stable sort on y only within a column — ties keep input order, matching
    Python's Timsort behaviour relied on upstream (SURVEY.md §4.2).
    """
    if not elements:
        return []
    by_col: dict[int, list[dict[str, Any]]] = {}
    for elem in elements:
        by_col.setdefault(elem.get("column_id", 0), []).append(elem)
    ordered: list[dict[str, Any]] = []
    rank = 1
    for col_id in sorted(by_col):
        for elem in sorted(by_col[col_id], key=lambda e: e["bbox"][1] if e.get("bbox") else 0):
            elem["reading_order"] = rank
            ordered.append(elem)
            rank += 1
    return ordered


def split_by_confidence(
    elements: list[dict[str, Any]],
) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """Partition into (high, low) at CONFIDENCE_THRESHOLD; low elements get
    ``uncertain=True``."""
    high: list[dict[str, Any]] = []
    low: list[dict[str, Any]] = []
    for elem in elements:
        if element_confidence(elem) >= CONFIDENCE_THRESHOLD:
            high.append(elem)
        else:
            elem["uncertain"] = True
            low.append(elem)
    return high, low


def _page_stats(page_elements: list[dict[str, Any]]) -> dict[str, float]:
    boxes = [e["bbox"] for e in page_elements if e.get("bbox") and len(e["bbox"]) >= 4]
    if boxes:
        avg_height = sum(b[3] - b[1] for b in boxes) / len(boxes)
        page_width = max(b[2] for b in boxes)
        page_left = min(b[0] for b in boxes)
        page_height = max(b[3] for b in boxes)
    else:
        avg_height, page_width, page_left, page_height = 12.0, 600.0, 0.0, 1000.0
    ys = sorted(b[1] for b in boxes)
    if len(ys) > 1:
        avg_spacing = sum(ys[i + 1] - ys[i] for i in range(len(ys) - 1)) / (len(ys) - 1)
    else:
        avg_spacing = 20.0
    return {
        "avg_height": avg_height,
        "avg_spacing": avg_spacing,
        "page_width": page_width,
        "page_left": page_left,
        "page_height": page_height,
    }


def classify_role_enhanced(
    elem: dict[str, Any],
    stats: dict[str, float],
    prev_elem: dict[str, Any] | None,
    next_elem: dict[str, Any] | None,
) -> tuple[str, float]:
    """Multi-signal role classification → (role, confidence).

    Signals and weights per layout_analyzer.py:199-323: font height (0.35),
    whitespace gaps (0.25), capitalization (0.20), length (0.15), indent
    (0.05); bullet/numbered/lettered early exits; caption-keyword and
    bottom-15% footnote special cases; heading iff combined score >= 0.45,
    else paragraph with confidence 1 - score.
    """
    text = (elem.get("content") or "").strip()
    bbox = elem.get("bbox") or (0.0, 0.0, 0.0, 0.0)
    if not text:
        return "paragraph", 0.5
    n = len(text)

    # list-item early exits (pure text checks — run before any signal math)
    if text.startswith(_BULLET_PREFIXES):
        return "list_item", 0.95
    if n >= 3 and text[0].isdigit():
        i = 0
        while i < n and text[i].isdigit():
            i += 1
        if i < n - 1 and text[i] in ".):" and text[i + 1] == " ":
            if n < 80:
                return "list_item", 0.9
            # long numbered lines fall through as numbered headings
    if n > 2 and text[0].isalpha() and text[1:3] in (". ", ") ", ": ") and n < 80:
        return "list_item", 0.85

    height = bbox[3] - bbox[1] if len(bbox) >= 4 else 0.0
    avg_height = stats["avg_height"]
    avg_spacing = stats["avg_spacing"]

    # font-size signal
    if height > avg_height * 1.4:
        font_score = 1.0
    elif height > avg_height * 1.2:
        font_score = 0.7
    elif height > avg_height * 1.1:
        font_score = 0.4
    else:
        font_score = 0.0

    # whitespace signal
    ws_score = 0.0
    if prev_elem and prev_elem.get("bbox"):
        gap_before = bbox[1] - prev_elem["bbox"][3]
        if gap_before > avg_spacing * 2:
            ws_score += 0.5
        elif gap_before > avg_spacing * 1.5:
            ws_score += 0.3
    if next_elem and next_elem.get("bbox"):
        gap_after = next_elem["bbox"][1] - bbox[3]
        if gap_after > avg_spacing * 1.5:
            ws_score += 0.3
    ws_score = min(ws_score, 1.0)

    # capitalization signal
    words = text.split()
    cap_score = 0.0
    if text.isupper() and len(text) > 3:
        cap_score = 0.9
    elif len(words) > 1:
        caps = sum(1 for w in words if w and w[0].isupper())
        if caps / len(words) > 0.7:
            cap_score = 0.6
    elif words and words[0][0].isupper():
        cap_score = 0.2

    # length signal
    if n < 50:
        len_score = 0.8
    elif n < 100:
        len_score = 0.5
    elif n < 200:
        len_score = 0.2
    else:
        len_score = 0.0

    # indentation signal
    indent_score = 0.0
    page_width = stats["page_width"]
    page_left = stats["page_left"]
    text_center = (bbox[0] + bbox[2]) / 2
    page_center = (page_left + page_width) / 2
    if abs(text_center - page_center) < page_width * 0.1:
        indent_score = 0.7
    elif bbox[0] <= page_left + 10:
        indent_score = 0.3

    heading_score = (
        font_score * 0.35
        + ws_score * 0.25
        + cap_score * 0.20
        + len_score * 0.15
        + indent_score * 0.05
    )

    lowered_head = text[:8].lower()  # longest keyword is 7 chars
    if lowered_head.startswith(_CAPTION_KEYWORDS):
        return "caption", 0.85

    if bbox[1] > stats["page_height"] * 0.85 and height < avg_height * 0.8:
        return "footnote", 0.8

    if heading_score >= 0.45:
        return "heading", heading_score
    return "paragraph", 1.0 - heading_score


def order_page(elements: list[dict[str, Any]]) -> dict[str, Any]:
    """Per-page ordering pass: confidence split → columns → XY-cut, with
    low-confidence elements re-appended after the ordered run, each one
    reading_order past the previous one. Assigns no roles."""
    high, low = split_by_confidence(elements)
    columns = detect_columns(high)
    assign_columns(high, columns)
    ordered = xy_cut_order(high)
    for elem in low:
        elem["reading_order"] = len(ordered) + 1
        ordered.append(elem)
    return {
        "elements": ordered,
        "columns": columns,
        "column_count": len(columns),
        "high_confidence_count": len(high),
        "low_confidence_count": len(low),
    }


def analyze_page(elements: list[dict[str, Any]]) -> dict[str, Any]:
    """Full per-page layout pass (``role_distribution``): ``order_page``,
    then multi-signal roles over the high-confidence run; low-confidence
    elements are plain paragraphs."""
    result = order_page(elements)
    n_high = result["high_confidence_count"]
    high = result["elements"][:n_high]
    stats = _page_stats(high)
    for i, elem in enumerate(high):
        if elem.get("type") == "figure" and elem.get("semantic_role"):
            # occupancy-grid figure regions carry their role from the
            # detector (structure_engine.py:245-249 emits semantic_role=
            # 'figure'); the reference never re-classifies them — image
            # regions are appended after analyze_page_layout runs (:384-411)
            elem.setdefault("role_confidence", 1.0)
            continue
        prev_elem = high[i - 1] if i > 0 else None
        next_elem = high[i + 1] if i < n_high - 1 else None
        role, conf = classify_role_enhanced(elem, stats, prev_elem, next_elem)
        elem["semantic_role"] = role
        elem["role_confidence"] = conf
    for elem in result["elements"][n_high:]:
        elem["semantic_role"] = "paragraph"
    return result
