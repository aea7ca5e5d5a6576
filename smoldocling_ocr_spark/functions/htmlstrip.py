"""HTML main-content extraction (DOM-tree boilerplate strip).

The north-star path for Common-Crawl-style pages: readability-style block
classification over the DOM — tag pruning, per-block length and
link-density scoring — emitting the same element relation the layout path
produces, so both payload kinds flow through one downstream pipeline
(noise tagging → captions → annotation → schema → validation).

Pure stdlib (``html.parser``) so the job ships via ``spark-submit
--py-files`` with zero native wheels. Deterministic by construction; golden
fixtures freeze the exact behaviour.

Heuristics (classic readability/boilerpipe family, re-parameterized here):
  * prune ``script/style/noscript/template/svg/iframe/form/button/select``
  * subtrees under ``nav/header/footer/aside`` and ``class/id`` matching
    common boilerplate names are boilerplate
  * a ``<p>``/``<div>`` text block is content iff ``len(text) >= 25`` and
    link density ``<= 0.33``
  * ``h1..h6`` → heading elements; ``li`` → list items; ``table`` → markdown
    tables; ``pre`` → code blocks; ``figcaption``/caption → caption lines;
    ``blockquote`` → quoted paragraphs
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Any

_PRUNE_TAGS = frozenset(
    {"script", "style", "noscript", "template", "svg", "iframe", "form", "button", "select", "option", "head"}
)
_BOILER_TAGS = frozenset({"nav", "header", "footer", "aside"})
_BOILER_NAME_RE = re.compile(
    r"(?:^|[\s_-])(?:nav|menu|sidebar|footer|header|banner|advert|ads?|cookie|breadcrumb|share|social|related|comment)(?:$|[\s_-])",
    re.IGNORECASE,
)
_BLOCK_TAGS = frozenset({"p", "div", "section", "article", "main", "blockquote", "li", "pre",
                         "h1", "h2", "h3", "h4", "h5", "h6", "figcaption", "caption", "table"})
_WS_RE = re.compile(r"\s+")

MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 0.33

_HEADING_FONT = {1: 24.0, 2: 20.0, 3: 17.0, 4: 16.0, 5: 16.0, 6: 16.0}
BODY_FONT = 12.0
LINE_STEP = 20.0  # synthetic y spacing so proximity/zone logic stays meaningful


class _Node:
    __slots__ = ("tag", "attrs", "children", "text_parts", "parent", "boiler")

    def __init__(self, tag: str, attrs: dict[str, str], parent: "_Node | None"):
        self.tag = tag
        self.attrs = attrs
        self.children: list[_Node] = []
        self.text_parts: list[tuple[int, str]] = []  # (child-slot, text)
        self.parent = parent
        self.boiler = False


class _TreeBuilder(HTMLParser):
    """Build a lightweight DOM tree; prune noise tags during parse."""

    _VOID = frozenset({"br", "hr", "img", "meta", "link", "input", "area", "base", "col", "embed", "source", "track", "wbr"})

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("[root]", {}, None)
        self.cur = self.root
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if self._skip_depth:
            if tag not in self._VOID:
                self._skip_depth += 1
            return
        if tag in _PRUNE_TAGS:
            self._skip_depth = 1
            return
        if tag in self._VOID:
            if tag == "br":
                self.cur.text_parts.append((len(self.cur.children), "\n"))
            return
        node = _Node(tag, {k: (v or "") for k, v in attrs}, self.cur)
        name_blob = (node.attrs.get("class", "") + " " + node.attrs.get("id", "")).strip()
        node.boiler = (
            self.cur.boiler
            or tag in _BOILER_TAGS
            or bool(name_blob and _BOILER_NAME_RE.search(name_blob))
        )
        self.cur.children.append(node)
        self.cur = node

    def handle_endtag(self, tag: str) -> None:
        if self._skip_depth:
            self._skip_depth -= 1
            return
        node = self.cur
        while node is not self.root:
            if node.tag == tag:
                self.cur = node.parent or self.root
                return
            node = node.parent or self.root

    def handle_data(self, data: str) -> None:
        if self._skip_depth or not data:
            return
        self.cur.text_parts.append((len(self.cur.children), data))


def _node_text(node: _Node) -> str:
    """Depth-first text with child interleaving preserved."""
    parts: list[str] = []
    texts = dict()
    for slot, txt in node.text_parts:
        texts.setdefault(slot, []).append(txt)
    for i in range(len(node.children) + 1):
        for txt in texts.get(i, []):
            parts.append(txt)
        if i < len(node.children):
            parts.append(_node_text(node.children[i]))
    return "".join(parts)


def _clean(text: str) -> str:
    return _WS_RE.sub(" ", text).strip()


def _link_chars(node: _Node) -> int:
    total = 0
    if node.tag == "a":
        return len(_clean(_node_text(node)))
    for child in node.children:
        total += _link_chars(child)
    return total


def _table_to_markdown(node: _Node) -> str:
    rows: list[list[str]] = []
    def walk(n: _Node) -> None:
        if n.tag == "tr":
            cells = [
                _clean(_node_text(c))
                for c in n.children
                if c.tag in ("td", "th")
            ]
            if cells:
                rows.append(cells)
        else:
            for c in n.children:
                walk(c)
    walk(node)
    if not rows:
        return ""
    ncols = max(len(r) for r in rows)
    lines = []
    header = rows[0] + [""] * (ncols - len(rows[0]))
    lines.append("| " + " | ".join(header) + " |")
    lines.append("|" + "|".join("---" for _ in range(ncols)) + "|")
    for row in rows[1:]:
        padded = row + [""] * (ncols - len(row))
        lines.append("| " + " | ".join(padded) + " |")
    return "\n".join(lines)


def extract_elements(html_text: str) -> list[dict[str, Any]]:
    """DOM → ordered element rows (single synthetic page).

    Each element: {type, content, y, font_size, confidence}; headings carry a
    synthetic font_size so the annotator ladder assigns levels by size ratio.
    """
    builder = _TreeBuilder()
    builder.feed(html_text)
    builder.close()

    elements: list[dict[str, Any]] = []

    def emit(kind: str, content: str, font_size: float | None = None) -> None:
        if not content:
            return
        elements.append(
            {
                "type": kind,
                "content": content,
                "y": (len(elements) + 1) * LINE_STEP,
                "font_size": font_size,
                "confidence": 1.0,
            }
        )

    def walk(node: _Node, in_list_index: int | None = None) -> None:
        if node.boiler:
            return
        tag = node.tag
        if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
            text = _clean(_node_text(node))
            if text:
                emit("text", text, _HEADING_FONT[int(tag[1])])
            return
        if tag == "p" or (tag == "div" and not any(c.tag in _BLOCK_TAGS for c in node.children)):
            # text is non-empty wherever the link density is computed
            text = _clean(_node_text(node))
            if len(text) >= MIN_BLOCK_CHARS and _link_chars(node) / len(text) <= MAX_LINK_DENSITY:
                emit("text", text, BODY_FONT)
            return
        if tag == "li":
            text = _clean(_node_text(node))
            if text and _link_chars(node) / len(text) <= MAX_LINK_DENSITY:
                marker = f"{in_list_index}. " if in_list_index is not None else "- "
                emit("text", marker + text, BODY_FONT)
            return
        if tag == "table":
            md = _table_to_markdown(node)
            if md:
                emit("table", md)
            return
        if tag == "pre":
            raw = _node_text(node).strip("\n")
            if raw.strip():
                emit("text", "```\n" + raw + "\n```", BODY_FONT)
            return
        if tag in ("figcaption", "caption"):
            text = _clean(_node_text(node))
            if text:
                emit("text", text, BODY_FONT)
            return
        if tag == "blockquote":
            text = _clean(_node_text(node))
            if len(text) >= MIN_BLOCK_CHARS:
                emit("text", "> " + text, BODY_FONT)
            return
        if tag == "ol":
            idx = 1
            for child in node.children:
                if child.tag == "li":
                    walk(child, in_list_index=idx)
                    idx += 1
                else:
                    walk(child)
            return
        if tag == "figure":
            caption = ""
            for child in node.children:
                if child.tag == "figcaption":
                    caption = _clean(_node_text(child))
            emit("figure", caption or "[Figure]")
            if caption:
                emit("text", caption, BODY_FONT)
            return
        for child in node.children:
            walk(child)

    walk(builder.root)

    for rank, elem in enumerate(elements, 1):
        elem["reading_order"] = rank
    return elements
