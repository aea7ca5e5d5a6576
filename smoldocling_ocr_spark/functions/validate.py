"""Output validation + quality-gate core.

Reference semantics: /root/reference/validation_framework.py — schema checks
(:84-153), content checks (:155-205), hallucination phrase bank (:34-43,
:207-219), format checks (:221-242), the score
``1 - 0.15*errors - 0.05*warnings - 0.01*infos`` (:244-255), and the quality
gate thresholds / suggested actions (:290-389).
"""

from __future__ import annotations

import re
from typing import Any

from .schema_enforce import PAGE_MARKER_RE

HALLUCINATION_PATTERNS = (
    r"based on (the|this) (image|document|page)",
    r"as (shown|seen|visible) in",
    r"it (appears|seems) that",
    r"I can (see|observe) that",
    r"the (image|document) shows",
    r"looking at (the|this)",
    r"from what I can (see|tell)",
    r"this (appears|seems) to be",
)
# single alternation — one C-speed scan per line instead of eight
_HALLUCINATION_ANY = re.compile("(?i)" + "|".join(f"(?:{p})" for p in HALLUCINATION_PATTERNS))
# literal pre-filter: every _HALLUCINATION_ANY match necessarily contains one
# of these lowercase substrings, and str.find is several times faster than
# the 8-branch case-insensitive alternation on the (overwhelmingly common)
# clean document
_HALLUCINATION_LITERALS = (
    "based on", "as shown", "as seen", "as visible", "it appears",
    "it seems", "i can", "the image", "the document", "looking at",
    "from what", "this appears", "this seems",
)

# extended role set (openrouter_validator.py:110-114: core roles + noise roles)
VALID_ROLES = frozenset(
    {
        "heading", "paragraph", "list_item", "table", "caption", "footnote",
        "figure", "equation", "header", "footer", "page_number", "artifact",
        "watermark",
    }
)

_ROLE_RE = re.compile(r"<!--\s*role:(\w+)")
_TABLE_LINE_RE = re.compile(r"^\|", re.MULTILINE)
_HEADING_LEVELS_RE = re.compile(r"^(#{1,6})\s+", re.MULTILINE)


def _issue(severity: str, category: str, message: str, line: int | None = None) -> dict[str, Any]:
    return {"severity": severity, "category": category, "message": message, "line": line}


def validate_markdown(text: str) -> dict[str, Any]:
    """Run all checks → report dict with counts, score, and issue list."""
    issues: list[dict[str, Any]] = []

    # --- schema ---
    if not text.strip().startswith("---"):
        issues.append(_issue("error", "schema", "Missing YAML frontmatter"))
    else:
        fm_end = text.find("---", 3)
        if fm_end == -1:
            issues.append(_issue("error", "schema", "Incomplete YAML frontmatter"))
        else:
            fm = text[3:fm_end]
            if "document:" not in fm:
                issues.append(_issue("error", "schema", "Missing document section in frontmatter"))
            if "source_file:" not in fm:
                issues.append(_issue("warning", "schema", "Missing source_file in frontmatter"))
            if "quality:" not in fm:
                issues.append(_issue("warning", "schema", "Missing quality section in frontmatter"))

    page_markers = PAGE_MARKER_RE.findall(text)
    if not page_markers:
        issues.append(_issue("warning", "schema", "No page markers found"))
    else:
        pages = [int(p) for p in page_markers]
        missing = set(range(1, max(pages) + 1)) - set(pages)
        if missing:
            issues.append(_issue("warning", "schema", f"Missing page markers: {sorted(missing)}"))

    roles = _ROLE_RE.findall(text)
    levels = _HEADING_LEVELS_RE.findall(text)
    tables = len(_TABLE_LINE_RE.findall(text)) // 2
    if len(roles) < (len(levels) + tables) * 0.5:
        issues.append(
            _issue("warning", "schema", f"Low annotation coverage: {len(roles)} annotations for {len(levels)} headings and {tables} tables")
        )

    # --- one pass over the lines: content count, hallucinations, format ---
    # content lines start on the line after the frontmatter's closing ---
    content_start = 0
    if text.startswith("---"):
        fm_end = text.find("---", 3)
        if fm_end > 0:
            content_start = text.find("\n", fm_end) + 1
    content_from = text.count("\n", 0, content_start) + 1
    non_empty = 0
    # the quality gate's count: every line, frontmatter included, that is
    # not blank and does not start with --- or <!--
    content_lines = 0
    # whole-text pre-check: almost no document trips the phrase bank, so one
    # C-speed scan replaces a per-line search in the common case; the
    # literal pre-filter skips even that scan unless a candidate substring
    # exists (sound: a regex match implies one of the literals)
    lowered = text.lower()
    any_hallucination = any(
        lit in lowered for lit in _HALLUCINATION_LITERALS
    ) and _HALLUCINATION_ANY.search(text) is not None
    # line issues follow the content issues in the report
    line_issues: list[dict[str, Any]] = []
    bracket_line = None
    for i, line in enumerate(text.split("\n"), 1):
        stripped_line = line.strip()
        if stripped_line:
            if i >= content_from and not stripped_line.startswith("<!--"):
                non_empty += 1
            if not line.startswith(("---", "<!--")):
                content_lines += 1
        if any_hallucination and _HALLUCINATION_ANY.search(line):
            line_issues.append(_issue("error", "hallucination", "Potential hallucination detected", i))
        if len(line) > 500 and not line.startswith("|"):
            line_issues.append(_issue("info", "format", f"Very long line ({len(line)} chars)", i))
        if stripped_line.startswith("|") and not stripped_line.endswith("|"):
            line_issues.append(_issue("warning", "format", "Incomplete table row", i))
        if (
            bracket_line is None
            and not stripped_line.startswith("<!--")
            and line.count("[") != line.count("]")
        ):
            bracket_line = i

    # --- content ---
    if non_empty < 3:
        issues.append(_issue("error", "content", "Document appears to have very little content"))

    uncertain = text.count("[uncertain:")
    low_conf = text.count("[low-confidence:")
    if uncertain > non_empty * 0.3:
        issues.append(_issue("warning", "content", f"High uncertainty: {uncertain} uncertain regions"))
    if low_conf > non_empty * 0.1:
        issues.append(_issue("warning", "content", f"Many low-confidence regions: {low_conf}"))

    if levels and len(levels[0]) != 1:
        issues.append(_issue("info", "content", f"Document does not start with H1 (starts with H{len(levels[0])})"))
    issues.extend(line_issues)

    # --- markdown syntax (validator.py:19-84 semantics) ---
    if text.count("```") % 2 != 0:
        issues.append(_issue("warning", "format", "Unclosed code fence (odd ``` count)"))
    if re.search(r"\[([^\]]*)\]\(\s*\)", text):
        issues.append(_issue("warning", "format", "Empty link target"))
    if bracket_line is not None:
        # one report per document is enough signal
        issues.append(_issue("info", "format", "Unmatched square brackets", bracket_line))

    # --- role whitelist (rapidocr_validator.py:99 / openrouter_validator.py:110-114) ---
    invalid = set(roles) - VALID_ROLES
    if invalid:
        issues.append(_issue("warning", "schema", f"Invalid roles: {sorted(invalid)}"))

    errors = sum(1 for i in issues if i["severity"] == "error")
    warnings = sum(1 for i in issues if i["severity"] == "warning")
    infos = sum(1 for i in issues if i["severity"] == "info")
    score = max(0.0, min(1.0, 1.0 - errors * 0.15 - warnings * 0.05 - infos * 0.01))
    hallucinations = sum(1 for i in issues if i["category"] == "hallucination")

    return {
        "is_valid": errors == 0,
        "quality_score": round(score, 4),
        "errors": errors,
        "warnings": warnings,
        "infos": infos,
        "hallucination_detected": hallucinations > 0,
        "hallucination_count": hallucinations,
        "content_lines": content_lines,
        "issues": issues,
    }


GATE_MIN_QUALITY_SCORE = 0.6
GATE_MAX_HALLUCINATIONS = 0
GATE_MAX_ERRORS = 2
GATE_MIN_CONTENT_LINES = 5


def quality_gate(report: dict[str, Any]) -> dict[str, Any]:
    """Threshold gate over a ``validate_markdown`` report → pass/fail +
    suggested action + quality tier."""
    failures: list[str] = []
    if report["quality_score"] < GATE_MIN_QUALITY_SCORE:
        failures.append(f"Quality score {report['quality_score']:.2f} < {GATE_MIN_QUALITY_SCORE}")
    if report["hallucination_count"] > GATE_MAX_HALLUCINATIONS:
        failures.append(f"{report['hallucination_count']} hallucinations detected")
    if report["errors"] > GATE_MAX_ERRORS:
        failures.append(f"{report['errors']} validation errors")
    content_lines = report["content_lines"]
    if content_lines < GATE_MIN_CONTENT_LINES:
        failures.append(f"Only {content_lines} content lines (min: {GATE_MIN_CONTENT_LINES})")

    if not failures:
        action = "accept"
    elif report.get("hallucination_count", 0) > 0:
        action = "fallback_to_local_ocr"
    elif report["quality_score"] < 0.3:
        action = "reject_and_retry"
    elif report["quality_score"] < 0.5:
        action = "fallback_to_alternative"
    else:
        action = "accept_with_warnings"

    score = report["quality_score"]
    if score >= 0.9:
        level = "excellent"
    elif score >= 0.8:
        level = "good"
    elif score >= 0.6:
        level = "acceptable"
    elif score >= 0.4:
        level = "poor"
    else:
        level = "unacceptable"

    return {
        "passed": not failures,
        "failures": failures,
        "suggested_action": action,
        "quality_level": level,
    }
