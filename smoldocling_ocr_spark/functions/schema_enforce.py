"""Schema enforcement core (RAG-markdown schema v2).

Reference semantics: /root/reference/schema_enforcer.py — frontmatter
generation/validation (:42-97), page-marker repair (:99-113), annotation
injection before unannotated headings/tables (:115-134), heading promotion to
the minimum level (:136-147), table standardization with per-column width
padding >= 3 (:149-185), and formatting cleanup (:187-191).
"""

from __future__ import annotations

import re
from typing import Any

PAGE_MARKER_RE = re.compile(r"<!--\s*page:\s*(\d+)\s*-->")
HEADING_RE = re.compile(r"^(#{1,6})\s+(.+)$", re.MULTILINE)
_IMPLICIT_PAGE_RE = re.compile(r"^##\s+Page\s+(\d+)\s*$", re.MULTILINE)
_SEPARATOR_CELL_RE = re.compile(r"^:?-+:?$")
REQUIRED_FIELDS = ("source_file", "document_id")


def generate_frontmatter(m: dict[str, Any]) -> str:
    """Deterministic YAML frontmatter (document / quality / layout / metadata).

    Insertion-ordered emission, ``:.4f`` score formatting — kept in Python for
    byte parity (SURVEY.md §4.2).
    """
    lines = ["---", "document:"]
    lines.append(f'  source_file: "{m.get("source_file", "unknown")}"')
    lines.append(f'  document_id: "{m.get("document_id", "")}"')
    if "pages" in m:
        lines.append(f"  pages: {m['pages']}")
    lines.append(f'  extraction_method: "{m.get("extraction_method", "unknown")}"')
    lines.append(f'  extraction_date: "{m.get("extraction_date", "")}"')
    lines.append(f'  language: "{m.get("language", "en")}"')

    lines.extend(["", "quality:"])
    score = m.get("confidence_score", m.get("quality_score", 1.0))
    lines.append(f"  confidence_score: {score:.4f}")
    if "confidence_avg" in m:
        lines.append(f"  confidence_avg: {m['confidence_avg']:.4f}")
    if "confidence_min" in m:
        lines.append(f"  confidence_min: {m['confidence_min']:.4f}")
    if "uncertain_regions" in m:
        lines.append(f"  uncertain_regions: {m['uncertain_regions']}")

    if any(k in m for k in ("detected_columns", "has_tables", "has_figures")):
        lines.extend(["", "layout:"])
        if "detected_columns" in m:
            lines.append(f"  detected_columns: {m['detected_columns']}")
        if "has_tables" in m:
            lines.append(f"  has_tables: {str(m['has_tables']).lower()}")
        if "has_figures" in m:
            lines.append(f"  has_figures: {str(m['has_figures']).lower()}")

    if any(k in m for k in ("title", "author", "creation_date")):
        lines.extend(["", "metadata:"])
        if m.get("title"):
            lines.append(f'  title: "{m["title"]}"')
        if m.get("author"):
            lines.append(f'  author: "{m["author"]}"')
        if m.get("creation_date"):
            lines.append(f'  creation_date: "{m["creation_date"]}"')

    lines.extend(["---", ""])
    return "\n".join(lines)


def _has_frontmatter(text: str) -> bool:
    return text.strip().startswith("---")


def _validate_frontmatter(text: str, metadata: dict[str, Any]) -> str:
    if not text.startswith("---"):
        return text
    end = re.search(r"\n---\n", text[3:])
    if not end:
        return text
    fm_end = end.end() + 3
    frontmatter = text[3 : fm_end - 4]
    content = text[fm_end:]
    missing = [f for f in REQUIRED_FIELDS if f"{f}:" not in frontmatter]
    if missing:
        return generate_frontmatter(metadata) + content
    return text


def ensure_page_markers(text: str) -> str:
    """Repair ``## Page N`` to markers; inject ``<!-- page:1 -->`` if absent."""
    if PAGE_MARKER_RE.search(text):
        return text
    text = _IMPLICIT_PAGE_RE.sub(r"<!-- page:\1 -->", text)
    if not PAGE_MARKER_RE.search(text):
        fm_end = text.find("---", 3)
        if fm_end > 0:
            fm_end = text.find("\n", fm_end) + 1
            text = text[:fm_end] + "\n<!-- page:1 -->\n" + text[fm_end:]
        else:
            text = "<!-- page:1 -->\n\n" + text
    return text


def ensure_annotations(text: str) -> str:
    """Prepend role comments to unannotated heading / table lines.

    Deliberate fix over the reference (schema_enforcer.py:115-134): a
    contiguous run of table rows is ONE table and gets one annotation —
    the reference injects a comment before every row, which splits the
    block and silently disables its own table standardization downstream.
    """
    result: list[str] = []
    prev_was_table_row = False
    for line in text.split("\n"):
        stripped = line.strip()
        if not stripped or stripped.startswith("---") or stripped.startswith("<!--"):
            result.append(line)
            prev_was_table_row = False
            continue
        has_ann = bool(result) and result[-1].strip().startswith("<!-- role:")
        if not has_ann:
            if stripped.startswith("#"):
                level = len(stripped) - len(stripped.lstrip("#"))
                result.append(f"<!-- role:heading level:{level} -->")
            elif stripped.startswith("|") and not prev_was_table_row:
                result.append("<!-- role:table -->")
        result.append(line)
        prev_was_table_row = stripped.startswith("|")
    return "\n".join(result)


def normalize_heading_levels(text: str) -> str:
    """Promote all headings so the minimum level becomes H1."""
    headings = list(HEADING_RE.finditer(text))
    if not headings:
        return text
    min_level = min(len(m.group(1)) for m in headings)
    if min_level > 1:
        # single-pass rebuild: splicing text[:start]+new+text[end:] per
        # heading copies the whole document O(headings) times
        adj = min_level - 1
        parts: list[str] = []
        pos = 0
        for h in headings:
            parts.append(text[pos : h.start()])
            parts.append("#" * (len(h.group(1)) - adj) + " " + h.group(2))
            pos = h.end()
        parts.append(text[pos:])
        text = "".join(parts)
    return text


def format_table_block(rows: list[str]) -> list[str]:
    """Re-pad a pipe-table block to per-column max width (>= 3)."""
    if len(rows) < 2:
        return rows
    parsed = [[c.strip() for c in r.strip("|").split("|")] for r in rows]
    num_cols = max(len(r) for r in parsed)
    widths = []
    for i in range(num_cols):
        cell_widths = [
            len(r[i]) if i < len(r) and not _SEPARATOR_CELL_RE.match(r[i]) else 3
            for r in parsed
        ]
        widths.append(max(3, max(cell_widths)))
    out = []
    for i, row in enumerate(parsed):
        cells = []
        for j in range(num_cols):
            cell = row[j] if j < len(row) else ""
            if i == 1 and _SEPARATOR_CELL_RE.match(cell):
                cells.append("-" * widths[j])
            else:
                cells.append(cell.ljust(widths[j]))
        out.append("| " + " | ".join(cells) + " |")
    return out


def standardize_tables(text: str) -> str:
    lines = text.split("\n")
    result: list[str] = []
    table_buf: list[str] = []
    in_table = False
    for line in lines:
        stripped = line.strip()
        if stripped.startswith("|") and stripped.endswith("|"):
            in_table = True
            table_buf.append(stripped)
        elif in_table:
            if table_buf:
                result.extend(format_table_block(table_buf))
            table_buf, in_table = [], False
            result.append(line)
        else:
            result.append(line)
    if table_buf:
        result.extend(format_table_block(table_buf))
    return "\n".join(result)


def cleanup_formatting(text: str) -> str:
    text = re.sub(r"\n{4,}", "\n\n\n", text)
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    lines = [line.rstrip() for line in text.split("\n")]
    return "\n".join(lines).rstrip("\n") + "\n"


def enforce_schema(markdown_text: str, metadata: dict[str, Any]) -> str:
    """Full enforcement chain (schema_enforcer.py:24-40 order)."""
    if not _has_frontmatter(markdown_text):
        markdown_text = generate_frontmatter(metadata) + "\n" + markdown_text
    else:
        markdown_text = _validate_frontmatter(markdown_text, metadata)
    markdown_text = ensure_page_markers(markdown_text)
    markdown_text = ensure_annotations(markdown_text)
    markdown_text = normalize_heading_levels(markdown_text)
    markdown_text = standardize_tables(markdown_text)
    markdown_text = cleanup_formatting(markdown_text)
    return markdown_text
