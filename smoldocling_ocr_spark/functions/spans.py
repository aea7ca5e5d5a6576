"""Digital-path span heuristics.

Reference semantics: /root/reference/fast_converter.py — body-font-size mode
over rounded span sizes (:6-15), the first-span heading heuristic (size in
(1.05x, 2.5x) of the body mode → heading; > 1.5x → ``#`` else ``##``,
:66-77), and the block∩table collision filter (drop a text block when >= 60%
of its area lies inside a table rect, :50-60).
"""

from __future__ import annotations

from collections import Counter
from typing import Any

TABLE_OVERLAP = 0.6


def body_font_mode(span_sizes: list[float]) -> float:
    """Most common rounded span size (ties break toward the larger size)."""
    if not span_sizes:
        return 12.0
    counts = Counter(round(s) for s in span_sizes)
    best = max(counts.items(), key=lambda kv: (kv[1], kv[0]))
    return float(best[0])


def classify_digital_block(first_span_size: float, body_mode: float) -> str | None:
    """Heading markup for a digital text block, or None for body text."""
    if body_mode <= 0:
        return None
    ratio = first_span_size / body_mode
    if 1.05 < ratio < 2.5:
        return "#" if ratio > 1.5 else "##"
    return None


def overlap_fraction(block: tuple[float, float, float, float], rect: tuple[float, float, float, float]) -> float:
    """Fraction of the block's area inside rect."""
    bx0, by0, bx1, by1 = block
    rx0, ry0, rx1, ry1 = rect
    ix = max(0.0, min(bx1, rx1) - max(bx0, rx0))
    iy = max(0.0, min(by1, ry1) - max(by0, ry0))
    area = max(0.0, bx1 - bx0) * max(0.0, by1 - by0)
    if area <= 0:
        return 0.0
    return (ix * iy) / area


def drop_blocks_in_tables(
    blocks: list[dict[str, Any]],
    table_rects: list[tuple[float, float, float, float]],
) -> list[dict[str, Any]]:
    """Remove text blocks that mostly (>= TABLE_OVERLAP of area) sit inside a
    table rect — the digital-path dedup of table text vs text blocks."""
    kept = []
    for block in blocks:
        bbox = block.get("bbox")
        if bbox and any(overlap_fraction(tuple(bbox), rect) >= TABLE_OVERLAP for rect in table_rects):
            continue
        kept.append(block)
    return kept
