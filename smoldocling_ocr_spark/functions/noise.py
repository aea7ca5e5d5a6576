"""Noise tagging core ("Tag-Don't-Remove").

Reference semantics: /root/reference/noise_filter.py — page-number predicates
(:28-35), watermark predicates (:38-50), artifact predicates (:53-60, :224-242),
garbled-text check (:244-262), cross-page repeater detection with digit masking
(:143-190) and the tag-mode document filter (:87-141). Elements are returned
tagged with ``noise_type`` — never deleted (README.md:9 of the reference).

Elements here are plain dicts with at least ``type``/``content`` and optional
``y`` or ``bbox``/``confidence`` keys (same shape the Spark pipeline carries
through Arrow as struct columns).
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Any

from .confidence import element_confidence
from .textnorm import mask_numbers

PAGE_NUMBER_RES = [
    re.compile(p, re.IGNORECASE)
    for p in (
        r"^Page\s*\d+\s*(?:of\s*\d+)?$",
        r"^\d+\s*/\s*\d+$",
        r"^-\s*\d+\s*-$",
        r"^\[\s*\d+\s*\]$",
        r"^\d+$",
        r"^(?:p|pg|page)\.?\s*\d+$",
    )
]

WATERMARK_RES = [
    re.compile(p)
    for p in (
        r"(?i)^confidential\s*-?\s*(?:internal|external)?$",
        r"(?i)^draft\s*(?:copy)?$",
        r"(?i)^do\s+not\s+(?:copy|distribute)$",
        r"(?i)^for\s+internal\s+use\s+only$",
        r"(?i)^proprietary\s+(?:and\s+)?confidential$",
        r"(?i)^copy(?:right)?\s*©?\s*\d{4}",
        r"(?i)^all\s+rights\s+reserved\.?$",
        r"(?i)^www\.[a-zA-Z0-9]+\.[a-z]{2,}$",
        r"(?i)^sample\s*$",
        r"(?i)^preview\s*$",
        r"(?i)^watermark\s*$",
    )
]

ARTIFACT_RES = [
    re.compile(p)
    for p in (
        r"^[|_\-=+]{3,}$",
        r"^[\s\.\,\!\?\;\:]+$",
        r"^[^\w\s]{2,}$",
        r"^\s+$",
        r"^[a-zA-Z]{1,2}$",
        r"^[0-9]{1,2}$",
    )
]

# one scan for either garble signal (existence check): a run of 5+
# consonants, or one character repeated 5+ times
_GARBLE_RUN_ANY = re.compile(r"(?i:[bcdfghjklmnpqrstvwxz]{5,})|(.)\1{4,}")
# C-speed count of chars that are neither alphanumeric nor whitespace
_SPECIAL_CHAR = re.compile(r"[^\w\s]|_")

# Single-alternation forms of the anchored predicate banks: for ^-anchored
# patterns, a left-to-right alternation is semantically identical to testing
# the patterns in sequence (Python re tries alternatives in order), at one
# C-level match instead of up to 11.
_PAGE_NUMBER_ANY = re.compile(
    "|".join(f"(?:{p.pattern})" for p in PAGE_NUMBER_RES), re.IGNORECASE
)
_WATERMARK_ANY = re.compile(
    "|".join(f"(?i:{p.pattern.removeprefix('(?i)')})" for p in WATERMARK_RES)
)
_ARTIFACT_ANY = re.compile("|".join(f"(?:{p.pattern})" for p in ARTIFACT_RES))

HEADER_FOOTER_THRESHOLD = 0.5
MIN_PAGES_FOR_DETECTION = 3


def is_garbled(text: str) -> bool:
    """High special-char ratio, 5+ consecutive consonants, or char repeated 5+."""
    if len(text) < 3:
        return False
    specials = len(text) - len(_SPECIAL_CHAR.sub("", text))
    if specials / len(text) > 0.5:
        return True
    return _GARBLE_RUN_ANY.search(text) is not None


def _artifact(s: str, confidence: float) -> bool:
    """The artifact rule over already-stripped text: an artifact pattern, a
    short low-confidence fragment, or garble."""
    return _ARTIFACT_ANY.match(s) is not None or (confidence < 0.3 and len(s) < 10) or is_garbled(s)


def element_y(elem: dict[str, Any]) -> float:
    """An element's vertical position: ``y``, else ``bbox[1]``, else 0.0
    (noise zoning and caption/footnote linking both place elements by it)."""
    if elem.get("y") is not None:
        return elem["y"]
    bbox = elem.get("bbox")
    if bbox:
        return bbox[1]
    return 0.0


def detect_repeaters(pages: list[list[dict[str, Any]]]) -> dict[str, set[str]]:
    """Digit-masked texts from top/bottom-3 elements (33% zones, len<100) that
    recur on >= 50% of pages → header / footer repeater sets."""
    total_pages = len(pages)
    top_counts: Counter[str] = Counter()
    bottom_counts: Counter[str] = Counter()

    for page in pages:
        texts = [e for e in page if e.get("type") == "text"]
        if not texts:
            continue
        by_y = sorted(texts, key=element_y)
        max_y = element_y(by_y[-1])
        page_height = max(max_y, 100.0)

        for elem in by_y[:3]:
            if element_y(elem) < page_height * 0.33:
                key = mask_numbers(elem.get("content") or "")
                if key and len(key) < 100:
                    top_counts[key] += 1
        for elem in by_y[-3:]:
            if element_y(elem) > page_height * 0.67:
                key = mask_numbers(elem.get("content") or "")
                if key and len(key) < 100:
                    bottom_counts[key] += 1

    need = total_pages * HEADER_FOOTER_THRESHOLD
    return {
        "headers": {t for t, c in top_counts.items() if c >= need},
        "footers": {t for t, c in bottom_counts.items() if c >= need},
    }


def classify_noise(
    content: str,
    confidence: float,
    repeaters: dict[str, set[str]] | None,
) -> str | None:
    """Return the noise_type for a text element, or None if it is content.
    ``content`` is already stripped.

    Predicate order matters (noise_filter.py:117-128): page_number >
    header/footer repeater > watermark > artifact.
    """
    if _PAGE_NUMBER_ANY.match(content):
        return "page_number"
    if repeaters is not None:
        masked = mask_numbers(content)
        if masked in repeaters["headers"]:
            return "header"
        if masked in repeaters["footers"]:
            return "footer"
    if _WATERMARK_ANY.match(content):
        return "watermark"
    if _artifact(content, confidence):
        return "artifact"
    return None


def tag_document_noise(
    pages: list[list[dict[str, Any]]],
) -> tuple[list[list[dict[str, Any]]], dict[str, Any]]:
    """Tag noise elements across a document (tag mode — nothing removed).

    Documents under MIN_PAGES_FOR_DETECTION pages skip repeater detection and
    only get single-page predicates (noise_filter.py:100-102).
    """
    report: dict[str, list[str]] = {
        "headers": [],
        "footers": [],
        "watermarks": [],
        "page_numbers": [],
        "artifacts": [],
    }
    repeaters = None
    if len(pages) >= MIN_PAGES_FOR_DETECTION:
        repeaters = detect_repeaters(pages)
        report["headers"] = sorted(repeaters["headers"])
        report["footers"] = sorted(repeaters["footers"])

    out_pages: list[list[dict[str, Any]]] = []
    for page in pages:
        out_page = []
        for elem in page:
            if elem.get("type") == "text":
                content = (elem.get("content") or "").strip()
                noise_type = classify_noise(content, element_confidence(elem), repeaters)
                if noise_type:
                    elem = dict(elem)
                    elem["noise_type"] = noise_type
                    bucket = {
                        "page_number": "page_numbers",
                        "watermark": "watermarks",
                        "artifact": "artifacts",
                        "header": "headers",
                        "footer": "footers",
                    }[noise_type]
                    if noise_type in ("page_number", "watermark", "artifact"):
                        report[bucket].append(content)
            out_page.append(elem)
        out_pages.append(out_page)

    summary = {
        "headers_detected": len(report["headers"]),
        "footers_detected": len(report["footers"]),
        "watermarks_tagged": len(report["watermarks"]),
        "page_numbers_tagged": len(report["page_numbers"]),
        "artifacts_tagged": len(report["artifacts"]),
    }
    return out_pages, summary
