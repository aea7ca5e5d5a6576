"""Confidence aggregation core.

Reference semantics: /root/reference/confidence_tracker.py — document stats
(avg/min, uncertain < 0.7 count/percentage, :103-144), the overall quality
score ``0.6*avg + 0.2*min + 0.2*(1 - uncertain%)`` (:277-306) and the YAML
dict (:308-324).

The per-document pass computes only what the frontmatter emits: the score,
avg, min and the uncertain count. The reference's max/median/stdev, its
low (< 0.5) counts and its page quality tiers live in the catalog twins
``confidence_statistics``, ``median_confidence`` and ``quality_tiers``
(plain groupBy aggregations, SURVEY.md §2.4)."""

from __future__ import annotations

import statistics
from typing import Any

LOW_THRESHOLD = 0.7


def element_confidence(elem: dict[str, Any]) -> float:
    """An element's OCR confidence as a float, unclamped; a missing, None or
    unparseable value reads as 1.0. Every stage that reads confidence (the
    layout split, the noise artifact rule, the render and these
    statistics) reads it through here."""
    value = elem.get("confidence")
    if value is None:
        return 1.0
    try:
        return float(value)
    except (TypeError, ValueError):
        return 1.0


def _clamp(elem: dict[str, Any]) -> float:
    return max(0.0, min(1.0, element_confidence(elem)))


def document_statistics(pages: list[list[dict[str, Any]]]) -> dict[str, Any]:
    """avg/min of the clamped element confidences, element total, and the
    uncertain (< 0.7) count and percentage."""
    scores = [_clamp(elem) for elements in pages for elem in elements]
    if not scores:
        return {
            "avg": 1.0, "min": 1.0,
            "total_elements": 0, "uncertain_count": 0, "uncertain_percentage": 0.0,
        }
    uncertain = sum(1 for s in scores if s < LOW_THRESHOLD)
    return {
        "avg": round(statistics.mean(scores), 4),
        "min": round(min(scores), 4),
        "total_elements": len(scores),
        "uncertain_count": uncertain,
        "uncertain_percentage": round(uncertain / len(scores) * 100, 2),
    }


def overall_quality_score(stats: dict[str, Any]) -> float:
    """Weighted 0.6*avg + 0.2*min + 0.2*(1 - uncertain%), clamped to [0,1]."""
    if stats["total_elements"] == 0:
        return 1.0
    quality = (
        0.6 * stats["avg"]
        + 0.2 * stats["min"]
        + 0.2 * (1.0 - stats["uncertain_percentage"] / 100.0)
    )
    return round(max(0.0, min(1.0, quality)), 4)


def to_frontmatter_fields(pages: list[list[dict[str, Any]]]) -> dict[str, Any]:
    stats = document_statistics(pages)
    return {
        "confidence_score": overall_quality_score(stats),
        "confidence_avg": stats["avg"],
        "confidence_min": stats["min"],
        "uncertain_regions": stats["uncertain_count"],
    }
