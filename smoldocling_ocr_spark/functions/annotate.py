"""Semantic annotation / markdown emission core.

Reference semantics: /root/reference/semantic_annotator.py — pattern banks
(:52-102), PageContext means (:30-40), the text-role classifier ladder
(:197-283), annotated emission with reading-order / role / confidence
comments and the uncertain / low-confidence wraps (:139-195), table/figure
emission (:285-341), per-page emission with the ``<!-- page:N -->`` marker
and (reading_order, y) sort (:343-371), and the table/figure flags of the
document structure summary (:373-431).
"""

from __future__ import annotations

import re
from typing import Any

from .confidence import element_confidence

HEADING_RES = [
    re.compile(p)
    for p in (
        r"^[A-Z][A-Z\s]{2,}$",
        r"^\d+\.\s+[A-Z]",
        r"^\d+\.\d+\s+[A-Z]",
        r"^Chapter\s+\d+",
        r"^Section\s+\d+",
        r"^Part\s+[IVX]+",
        r"^Abstract$",
        r"^Introduction$",
        r"^Conclusion$",
        r"^References$",
        r"^Bibliography$",
        r"^Acknowledgements?$",
        r"^Appendix\s*[A-Z]?$",
    )
]

LIST_RES = [
    (re.compile(p), kind)
    for p, kind in (
        (r"^\s*[\-\*\+]\s+", "unordered"),
        (r"^\s*\d+\.\s+", "ordered"),
        (r"^\s*\d+\)\s+", "ordered"),
        (r"^\s*[a-z]\)\s+", "ordered"),
        (r"^\s*[ivx]+\.\s+", "ordered"),
        (r"^\s*•\s+", "unordered"),
        (r"^\s*○\s+", "unordered"),
        (r"^\s*■\s+", "unordered"),
    )
]

CAPTION_RES = [
    re.compile(p)
    for p in (
        r"^[Tt][Aa][Bb][Ll][Ee]\s*\d+",
        r"^[Tt][Bb][Ll]\.?\s*\d+",
        r"^[Ff][Ii][Gg][Uu][Rr][Ee]\s*\d+",
        r"^[Ff][Ii][Gg]\.?\s*\d+",
        r"^[Cc][Hh][Aa][Rr][Tt]\s*\d+",
        r"^[Gg][Rr][Aa][Pp][Hh]\s*\d+",
        r"^[Dd][Ii][Aa][Gg][Rr][Aa][Mm]\s*\d+",
        r"^[Ii][Mm][Aa][Gg][Ee]\s*\d+",
    )
]

FOOTNOTE_RES = [
    re.compile(p)
    for p in (
        r"^\[\d+\]\s*",
        r"^\(\d+\)\s*",
        r"^\d+\.\s*(?=[A-Z])",
        r"^[*†‡§]\s*",
    )
]

EQUATION_RES = [
    re.compile(p)
    for p in (
        r"^\$\$.*\$\$$",
        r"^\\\[.*\\\]$",
        r"^\\begin\{equation\}",
        r"=\s*[a-zA-Z0-9\+\-\*\/\^\(\)]+\s*$",
    )
]

_SUBSECTION_NUM = re.compile(r"^\d+\.\d+")
_SECTION_NUM = re.compile(r"^\d+\.")
_ANY_DIGITS = re.compile(r"\d+")
_LEADING_DIGITS = re.compile(r"^(\d+)")

# Combined single-alternation forms of the anchored pattern banks — for
# ^-anchored patterns a left-to-right alternation equals sequential
# first-match testing, at one C-level match call. Named groups recover WHICH
# alternative matched where the ladder needs it (chapter level, list kind).
_HEADING_ANY = re.compile(
    "|".join(
        f"(?P<chapter>{p.pattern})" if "Chapter" in p.pattern else f"(?:{p.pattern})"
        for p in HEADING_RES
    )
)
_LIST_ANY = re.compile(
    "|".join(f"(?P<{kind[0]}{i}>{p.pattern})" for i, (p, kind) in enumerate(LIST_RES))
)
_LIST_KIND = {f"{kind[0]}{i}": kind for i, (_, kind) in enumerate(LIST_RES)}
_CAPTION_ANY = re.compile("|".join(f"(?:{p.pattern})" for p in CAPTION_RES))
_FOOTNOTE_ANY = re.compile("|".join(f"(?:{p.pattern})" for p in FOOTNOTE_RES))
# equation bank: first three are ^-anchored; the last is an unanchored
# suffix pattern and must keep match() semantics individually
_EQUATION_ANCHORED = re.compile("|".join(f"(?:{p.pattern})" for p in EQUATION_RES[:3]))
_EQUATION_SUFFIX = EQUATION_RES[3]


class PageContext:
    """Per-page context the role ladder reads (semantic_annotator.py:12-40):
    the mean text font size and the page height. The reference's mean text
    length is read by no rule, so it is not computed."""

    def __init__(self, elements: list[dict[str, Any]], page_num: int, page_height: float = 800.0):
        self.page_num = page_num
        self.page_height = page_height
        sizes = [
            e.get("font_size")
            for e in elements
            if e.get("type") == "text" and e.get("font_size")
        ]
        self.avg_font_size = sum(sizes) / len(sizes) if sizes else 12.0


def classify_text_role(elem: dict[str, Any], ctx: PageContext) -> tuple[str, dict[str, Any]]:
    """Rule-ladder role classification → (role, attributes)."""
    content = (elem.get("content") or "").strip()
    font_size = elem.get("font_size")
    bbox = elem.get("bbox")

    if font_size and font_size > ctx.avg_font_size * 1.3:
        ratio = font_size / ctx.avg_font_size
        if ratio > 1.8:
            level = 1
        elif ratio > 1.5:
            level = 2
        elif ratio > 1.3:
            level = 3
        else:
            level = 4
        return "heading", {"level": level}

    m = _HEADING_ANY.match(content)
    if m:
        if m.lastgroup == "chapter":
            level = 1
        elif _SUBSECTION_NUM.match(content):
            level = 3
        elif _SECTION_NUM.match(content):
            level = 2
        else:
            level = 2
        return "heading", {"level": level}

    if len(content) < 60 and content and content[0].isupper():
        if content[-1] not in ".!?,;:":
            if bbox and ctx.page_height and bbox[1] / ctx.page_height < 0.15:
                return "heading", {"level": 2}

    m = _LIST_ANY.match(content)
    if m:
        return "list_item", {"type": _LIST_KIND[m.lastgroup]}

    if _CAPTION_ANY.match(content):
        lowered = content.lower()
        kind = "table" if "table" in lowered or "tbl" in lowered else "figure"
        return "caption", {"for": kind}

    if _FOOTNOTE_ANY.match(content):
        id_match = _ANY_DIGITS.search(content[:10])
        return "footnote", {"id": id_match.group() if id_match else "1"}

    if _EQUATION_ANCHORED.match(content) or _EQUATION_SUFFIX.match(content):
        return "equation", {"display": "block" if len(content) > 20 else "inline"}

    if bbox and ctx.page_height:
        if bbox[1] / ctx.page_height > 0.85 and len(content) < 200 and _LEADING_DIGITS.match(content):
            m = _LEADING_DIGITS.match(content)
            return "footnote", {"id": m.group(1) if m else "1"}

    return "paragraph", {}


def render_text(elem: dict[str, Any], ctx: PageContext) -> str:
    content = (elem.get("content") or "").strip()
    if not content:
        return ""
    confidence = element_confidence(elem)
    reading_order = elem.get("reading_order")

    noise_type = elem.get("noise_type")
    if noise_type:
        role, attrs = noise_type, {}
    else:
        role, attrs = classify_text_role(elem, ctx)

    parts: list[str] = []
    if reading_order is not None:
        parts.append(f"<!-- reading-order:{reading_order} -->\n")
    if attrs:
        attr_str = " ".join(f"{k}:{v}" for k, v in attrs.items())
        parts.append(f"<!-- role:{role} {attr_str} -->\n")
    else:
        parts.append(f"<!-- role:{role} -->\n")
    if confidence < 0.7:
        parts.append(f"<!-- confidence:{confidence:.2f} -->\n")

    if role == "heading":
        level = attrs.get("level", 2)
        body = f"{'#' * level} {content}"
    elif role == "equation":
        body = f"$$\n{content}\n$$" if attrs.get("display", "block") == "block" else f"${content}$"
    elif confidence < 0.5:
        body = f"[low-confidence: {content}]"
    elif confidence < 0.7:
        body = f"[uncertain: {content}]"
    else:
        body = content
    parts.append(body)
    parts.append("\n")
    return "".join(parts)


def render_table(elem: dict[str, Any]) -> str:
    content = elem.get("content") or ""
    caption = elem.get("caption") or ""
    reading_order = elem.get("reading_order")
    parts: list[str] = []
    if reading_order is not None:
        parts.append(f"<!-- reading-order:{reading_order} -->\n")
    parts.append("<!-- role:table")
    if caption:
        parts.append(f' caption:"{caption.replace(chr(34), chr(92) + chr(34))}"')
    parts.append(" -->\n")
    if caption:
        parts.append(f"\n**{caption}**\n\n")
    parts.append(content)
    parts.append("\n")
    return "".join(parts)


def render_figure(elem: dict[str, Any]) -> str:
    caption = elem.get("caption") or ""
    reading_order = elem.get("reading_order")
    content = elem.get("content") or ""
    parts: list[str] = []
    if reading_order is not None:
        parts.append(f"<!-- reading-order:{reading_order} -->\n")
    parts.append("<!-- role:figure")
    if caption:
        parts.append(f' caption:"{caption.replace(chr(34), chr(92) + chr(34))}"')
    parts.append(" -->\n")
    if content:
        # the reference emits the figure element's content string verbatim
        # ("[Figure: WxHpx]" placeholders from the occupancy-grid detector
        # and from OCR-path figure elements) — structure_engine.py:552-560
        parts.append(content)
        parts.append("\n")
    else:
        alt_text = elem.get("alt") or elem.get("description") or "Figure"
        parts.append(f"![{alt_text}](image)\n")
    if caption:
        parts.append(f"\n*{caption}*\n")
    return "".join(parts)


def render_page(elements: list[dict[str, Any]], page_num: int, page_height: float = 800.0) -> str:
    """Emit one annotated page: marker + elements in (reading_order, y) order."""
    ctx = PageContext(elements, page_num, page_height)
    parts = [f"\n<!-- page:{page_num} -->\n\n"]
    ordered = sorted(elements, key=lambda e: (e.get("reading_order") or 0, e.get("y") or 0))
    for elem in ordered:
        kind = elem.get("type", "text")
        if kind == "table":
            piece = render_table(elem)
        elif kind == "figure":
            piece = render_figure(elem)
        else:
            piece = render_text(elem, ctx)
        if piece:
            parts.append(piece)
            parts.append("\n")
    return "".join(parts)


def document_structure(pages: list[list[dict[str, Any]]]) -> dict[str, bool]:
    """Document feature flags the frontmatter carries, from element types
    alone: ``has_tables`` and ``has_figures``. The reference's TOC, heading
    hierarchy and footnote/equation flags (semantic_annotator.py:373-431)
    reach no output, so they are not computed."""
    kinds = {elem.get("type") for elements in pages for elem in elements}
    return {"has_tables": "table" in kinds, "has_figures": "figure" in kinds}
