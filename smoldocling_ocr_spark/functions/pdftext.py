"""Pure-Python PDF text-layer extraction (the digital-PDF route).

Reference digital route: structure_engine.py:67-110 sends digitally-
generated PDFs through pymupdf4llm (text layer → markdown) instead of OCR.
No PDF library ships in this sandbox, but the digital case needs no codec:
content streams are FlateDecode (stdlib zlib) and the text operators are a
small state machine (BT/ET, Tf, Td/TD/Tm/T*, Tj/TJ/'/"). This parser
handles non-encrypted PDFs with classic page trees AND PDF 1.5+ object
streams (/Type /ObjStm — modern writers put the page/catalog dictionaries
there), page order from the catalog's /Pages /Kids walk, /Length-delimited
stream slicing, and /Parent-inherited MediaBox. Anything else (scanned,
encrypted) raises and the caller falls back to the text column, mirroring
the reference's digital-vs-scan router (structure_engine.py:914-928).

Output is positioned text spans grouped into line elements with bboxes, so
the SAME downstream pipeline (column detection, XY-cut, roles, figures,
noise, captions) applies — the engine treats a digital PDF exactly like a
pre-OCR'd layout payload, as the north rule's "ordered reading-flow spans"
requires.
"""

from __future__ import annotations

import re
import zlib
from typing import Any

DEFAULT_MEDIABOX = (612.0, 792.0)  # US letter

_OBJ_HEAD_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
# the stream keyword legally follows the closing ``>>`` of the stream dict
# (PDF 32000-1 §7.3.8.1) — anchoring on it keeps a literal string that merely
# ends in "stream" (e.g. a /Title) from being misparsed as stream data
_STREAM_KW_RE = re.compile(rb">>\s{0,32}stream\r?\n")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")
_PAGE_TYPE_RE = re.compile(rb"/Type\s*/Page(?![a-zA-Z])")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.DOTALL)
_ROOT_RE = re.compile(rb"/Root\s+(\d+)\s+\d+\s+R")
_PAGES_REF_RE = re.compile(rb"/Pages\s+(\d+)\s+\d+\s+R")
_CONTENTS_REF_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[(.*?)\]", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s*\]"
)

_ESCAPES = {
    ord("n"): "\n", ord("r"): "\r", ord("t"): "\t", ord("b"): "\b",
    ord("f"): "\f", ord("("): "(", ord(")"): ")", ord("\\"): "\\",
}


def is_pdf(payload: bytes) -> bool:
    return payload[:5] == b"%PDF-"


def _objects(payload: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """Scan indirect objects → {num: (dict/body bytes, raw stream bytes|None)}.

    Stream data is sliced by the /Length entry when it is a direct integer —
    Flate output legally contains the byte sequences ``endstream``/``endobj``,
    so a naive non-greedy regex truncates such objects and silently drops the
    page's content. When /Length is an indirect reference (or absent), fall
    back to scanning successive ``endstream`` candidates until one leaves the
    declared filter decodable (retry-past-failed-decompress)."""
    out: dict[int, tuple[bytes, bytes | None]] = {}
    pos = 0
    n = len(payload)
    while pos < n:
        m = _OBJ_HEAD_RE.search(payload, pos)
        if not m:
            break
        start = m.end()
        end_obj = payload.find(b"endobj", start)
        sm = _STREAM_KW_RE.search(payload, start, end_obj if end_obj != -1 else n)
        if sm is None:
            body = payload[start : end_obj if end_obj != -1 else n]
            out[int(m.group(1))] = (body, None)
            pos = (end_obj + 6) if end_obj != -1 else n
            continue
        head = payload[start : sm.start()]
        data_start = sm.end()
        lm = _LENGTH_RE.search(head)
        data: bytes | None = None
        if lm:
            data_end = data_start + int(lm.group(1))
            if payload[data_end : data_end + 16].lstrip(b"\r\n ").startswith(b"endstream"):
                data = payload[data_start:data_end]
        if data is None:
            # no usable direct /Length: try successive endstream candidates,
            # accepting the first whose bytes actually decode under the
            # declared filter (plain bytes accept the first candidate)
            search_from = data_start
            while True:
                cand = payload.find(b"endstream", search_from)
                if cand == -1:
                    data = payload[data_start : end_obj if end_obj != -1 else n]
                    break
                chunk = payload[data_start:cand].rstrip(b"\r\n")
                if b"/FlateDecode" not in head:
                    data = chunk
                    break
                try:
                    zlib.decompress(chunk)
                    data = chunk
                    break
                except zlib.error:
                    search_from = cand + 9
        out[int(m.group(1))] = (head, data)
        # endobj may have appeared spuriously inside the stream: skip past
        # the stream data before resuming the object scan
        next_end = payload.find(b"endobj", data_start + len(data))
        pos = (next_end + 6) if next_end != -1 else n
    return out


def _stream_data(obj: tuple[bytes, bytes | None]) -> bytes | None:
    head, data = obj
    if data is None:
        return None
    if b"/FlateDecode" in head:
        try:
            data = zlib.decompress(data)
        except zlib.error:
            # writers that pad /Length past the EOD put an EOL before
            # endstream; a /Length-sliced chunk then carries trailing \r\n
            data = zlib.decompress(data.rstrip(b"\r\n"))
    return data


_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm\b")
_N_RE = re.compile(rb"/N\s+(\d+)")
_FIRST_RE = re.compile(rb"/First\s+(\d+)")


def _expand_object_streams(objects: dict[int, tuple[bytes, bytes | None]]) -> None:
    """Inline objects stored inside /Type /ObjStm streams (PDF 1.5+ —
    modern writers put page/catalog dictionaries there, with only the
    content streams as top-level objects). The stream body is `N` pairs of
    ``objnum offset`` followed at /First by the concatenated object bodies;
    embedded objects are plain dictionaries (streams are not allowed inside
    an ObjStm), so they merge into the object map with no stream part.
    Existing top-level definitions win (incremental updates override)."""
    for num in list(objects):
        head, _data = objects[num]
        if not _OBJSTM_RE.search(head):
            continue
        try:
            data = _stream_data(objects[num])
        except Exception:
            continue
        if not data:
            continue
        n_m = _N_RE.search(head)
        first_m = _FIRST_RE.search(head)
        if not (n_m and first_m):
            continue
        count, first = int(n_m.group(1)), int(first_m.group(1))
        header = data[:first].split()
        if len(header) < 2 * count:
            continue
        pairs = [(int(header[2 * i]), int(header[2 * i + 1])) for i in range(count)]
        for idx, (objnum, off) in enumerate(pairs):
            end = pairs[idx + 1][1] if idx + 1 < count else len(data) - first
            body = data[first + off : first + end]
            objects.setdefault(objnum, (body, None))


def _page_order(payload: bytes, objects: dict[int, tuple[bytes, bytes | None]]) -> list[int] | None:
    """Document page order from the catalog's /Pages tree (/Kids walk).

    Real digitally-generated PDFs frequently number page objects out of
    document order (incremental updates, generators that emit content before
    pages), so object-number order silently scrambles multi-page reading
    order. The LAST /Root reference wins (incremental updates append new
    trailers). Returns None when the tree is unparsable → caller falls back
    to ascending object order."""
    roots = _ROOT_RE.findall(payload)
    if not roots:
        return None
    catalog = objects.get(int(roots[-1]))
    if catalog is None:
        return None
    pages_ref = _PAGES_REF_RE.search(catalog[0])
    if pages_ref is None:
        return None
    order: list[int] = []
    visited: set[int] = set()

    def walk(num: int) -> None:
        if num in visited:  # cycle guard
            return
        visited.add(num)
        obj = objects.get(num)
        if obj is None:
            return
        kids = _KIDS_RE.search(obj[0])
        if kids:
            for r in _REF_RE.finditer(kids.group(1)):
                walk(int(r.group(1)))
        elif _PAGE_TYPE_RE.search(obj[0]):
            order.append(num)

    walk(int(pages_ref.group(1)))
    return order or None


_PARENT_RE = re.compile(rb"/Parent\s+(\d+)\s+\d+\s+R")


def _inherited_mediabox(
    body: bytes, objects: dict[int, tuple[bytes, bytes | None]]
) -> tuple[float, float]:
    """/MediaBox on the page, else inherited up the /Parent chain (T.81 PDF
    32000-1 §7.7.3.4 inheritable attribute — real writers routinely put one
    MediaBox on the root /Pages node only), else US letter."""
    seen: set[int] = set()
    while True:
        mb = _MEDIABOX_RE.search(body)
        if mb:
            x0, y0, x1, y1 = (float(mb.group(i)) for i in (1, 2, 3, 4))
            return (x1 - x0, y1 - y0)
        parent = _PARENT_RE.search(body)
        if not parent:
            return DEFAULT_MEDIABOX
        num = int(parent.group(1))
        if num in seen or num not in objects:
            return DEFAULT_MEDIABOX
        seen.add(num)
        body = objects[num][0]


def _page_specs(
    payload: bytes, objects: dict[int, tuple[bytes, bytes | None]]
) -> list[tuple[list[int], tuple[float, float]]]:
    """Per page (in /Pages-tree order, object order as the unparsable-tree
    fallback): (content object numbers, (width, height))."""
    page_nums = _page_order(payload, objects)
    if page_nums is None:
        page_nums = [n for n in sorted(objects) if _PAGE_TYPE_RE.search(objects[n][0])]
    pages = []
    for num in page_nums:
        body = objects[num][0]
        refs: list[int] = []
        arr = _CONTENTS_ARR_RE.search(body)
        if arr:
            refs = [int(r.group(1)) for r in _REF_RE.finditer(arr.group(1))]
        else:
            ref = _CONTENTS_REF_RE.search(body)
            if ref:
                refs = [int(ref.group(1))]
        pages.append((refs, _inherited_mediabox(body, objects)))
    return pages


def _literal_string(data: bytes, i: int) -> tuple[str, int]:
    """Parse a ( ... ) literal starting at the '(' — returns (text, next_i)."""
    out: list[str] = []
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if 0x30 <= e <= 0x37:  # octal \ddd (1-3 digits)
                code = 0
                for _ in range(3):
                    if i < n and 0x30 <= data[i] <= 0x37:
                        code = code * 8 + (data[i] - 0x30)
                        i += 1
                    else:
                        break
                # \400-\777 overflow wraps to one byte (PDF 32000-1
                # §7.3.4.2: "the high-order overflow shall be ignored") —
                # also keeps every produced char latin-1-round-trippable
                out.append(chr(code & 0xFF))
                continue
            if e in (0x0A, 0x0D):  # line continuation
                i += 1
                continue
            out.append(_ESCAPES.get(e, chr(e)))
            i += 1
            continue
        if c == 0x28:  # (
            depth += 1
            out.append("(")
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                out.append(")")
        else:
            out.append(chr(c))
        i += 1
    return "".join(out), i


def _hex_string(data: bytes, i: int) -> tuple[str, int]:
    end = data.index(b">", i)
    hexdigits = re.sub(rb"\s", b"", data[i + 1 : end])
    if len(hexdigits) % 2:
        hexdigits += b"0"
    return bytes.fromhex(hexdigits.decode("ascii")).decode("latin-1"), end + 1


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_OP_RE = re.compile(rb"[A-Za-z'\"*]{1,3}")


def _parse_content(data: bytes) -> list[tuple[float, float, float, str]]:
    """Content-stream text state machine → [(x, y, font_size, text)] shows.

    Tracks the text matrix translation (Tm e/f, Td/TD deltas, T* leading)
    and the Tf size scaled by Tm's d component. Kerning numbers inside TJ
    arrays are ignored (they move x sub-glyph; line grouping is y-based).
    """
    shows: list[tuple[float, float, float, str]] = []
    size = 12.0
    scale = 1.0
    lx = ly = 0.0  # line-start translation
    x = y = 0.0
    leading = 0.0
    stack: list[Any] = []
    in_array: list[Any] | None = None
    i = 0
    n = len(data)
    while i < n:
        c = data[i]
        if c in b" \t\r\n\x00":
            i += 1
            continue
        if c == 0x25:  # % comment
            j = data.find(b"\n", i)
            i = n if j == -1 else j + 1
            continue
        if c == 0x28:  # literal string
            s, i = _literal_string(data, i)
            (in_array if in_array is not None else stack).append(s)
            continue
        if c == 0x3C:  # < — hex string or << dict
            if i + 1 < n and data[i + 1] == 0x3C:
                i += 2
                continue
            s, i = _hex_string(data, i)
            (in_array if in_array is not None else stack).append(s)
            continue
        if c == 0x5B:  # [
            in_array = []
            i += 1
            continue
        if c == 0x5D:  # ]
            stack.append(in_array if in_array is not None else [])
            in_array = None
            i += 1
            continue
        if c == 0x2F:  # /Name
            m = re.compile(rb"/[^\s/\[\]()<>{}%]*").match(data, i)
            stack.append(m.group(0).decode("latin-1"))
            i = m.end()
            continue
        m = _NUM_RE.match(data, i)
        if m:
            val = float(m.group(0))
            (in_array if in_array is not None else stack).append(val)
            i = m.end()
            continue
        m = _OP_RE.match(data, i)
        if not m:
            i += 1
            continue
        op = m.group(0)
        i = m.end()

        def _nums(k: int) -> list[float]:
            vals = [v for v in stack if isinstance(v, float)][-k:]
            return vals if len(vals) == k else [0.0] * k

        if op == b"BT":
            lx = ly = x = y = 0.0
            scale = 1.0
        elif op == b"Tf":
            size = _nums(1)[0]
        elif op == b"TL":
            leading = _nums(1)[0]
        elif op in (b"Td", b"TD"):
            tx, ty = _nums(2)
            if op == b"TD":
                leading = -ty
            lx, ly = lx + tx, ly + ty
            x, y = lx, ly
        elif op == b"Tm":
            a, b_, c_, d, e, f = _nums(6)
            scale = d if d else 1.0
            lx, ly = e, f
            x, y = e, f
        elif op == b"T*":
            ly -= leading
            x, y = lx, ly
        elif op in (b"Tj", b"'", b'"'):
            if op != b"Tj":  # ' and " imply T*
                ly -= leading
                x, y = lx, ly
            strs = [v for v in stack if isinstance(v, str) and not v.startswith("/")]
            if strs:
                text = strs[-1]
                shows.append((x, y, abs(size * scale), text))
                x += 0.5 * abs(size * scale) * len(text)
        elif op == b"TJ":
            arrs = [v for v in stack if isinstance(v, list)]
            if arrs:
                text = "".join(v for v in arrs[-1] if isinstance(v, str))
                if text:
                    shows.append((x, y, abs(size * scale), text))
                    x += 0.5 * abs(size * scale) * len(text)
        stack.clear()
    return shows


def extract_pdf_pages(
    payload: bytes,
) -> tuple[list[list[dict[str, Any]]], list[tuple[float, float]], dict[str, str]]:
    """PDF bytes → (pages of line elements with bboxes, page dims, info dict),
    all from one scan of the indirect objects.

    Shows are grouped into lines by y proximity (<2pt), y is flipped to the
    top-left origin the rest of the pipeline uses, and each line becomes a
    text element shaped exactly like a layout-payload element so column
    detection / XY-cut / figures / noise / captions all apply unchanged.
    """
    if b"/Encrypt" in payload:
        raise ValueError("encrypted PDF — no text layer accessible")
    objects = _objects(payload)
    _expand_object_streams(objects)
    specs = _page_specs(payload, objects)
    if not specs:
        raise ValueError("no page objects found")
    pages: list[list[dict[str, Any]]] = []
    dims: list[tuple[float, float]] = []
    for refs, (width, height) in specs:
        shows: list[tuple[float, float, float, str]] = []
        decoded_any = False
        for ref in refs:
            obj = objects.get(ref)
            if obj is None:
                continue
            data = _stream_data(obj)
            if data:
                decoded_any = True
                shows.extend(_parse_content(data))
        if refs and not decoded_any:
            # a page whose /Contents resolve to no decodable stream is a
            # parse FAILURE (truncated/exotic object), not an empty page —
            # raising routes the document to the text-column fallback
            raise ValueError("page content stream not decodable")
        # group into lines by y (top-origin), preserving show order within
        lines: dict[float, list[tuple[float, float, float, str]]] = {}
        for sx, sy, ssize, stext in shows:
            key = next((k for k in lines if abs(k - sy) < 2.0), None)
            lines.setdefault(sy if key is None else key, []).append((sx, sy, ssize, stext))
        elements: list[dict[str, Any]] = []
        for ly_, parts in lines.items():
            parts.sort(key=lambda p: p[0])
            content = " ".join(p[3].strip() for p in parts if p[3].strip())
            if not content:
                continue
            fsize = max(p[2] for p in parts)
            x0 = parts[0][0]
            x1 = parts[-1][0] + 0.5 * fsize * len(parts[-1][3])
            top = height - ly_ - fsize
            elements.append(
                {
                    "type": "text",
                    "content": content,
                    "y": top,
                    "bbox": (x0, top, x1, top + fsize),
                    "font_size": fsize,
                    "confidence": 1.0,
                }
            )
        elements.sort(key=lambda e: e["y"])
        pages.append(elements)
        dims.append((width, height))
    if not any(pages):
        raise ValueError("PDF has no extractable text layer (scanned?)")
    return pages, dims, _info(payload, objects)


_INFO_REF_RE = re.compile(rb"/Info\s+(\d+)\s+\d+\s+R")
_INFO_FIELD_RES = {
    "title": re.compile(rb"/Title\s*\("),
    "author": re.compile(rb"/Author\s*\("),
    "creation_date": re.compile(rb"/CreationDate\s*\("),
}


def _info(payload: bytes, objects: dict[int, tuple[bytes, bytes | None]]) -> dict[str, str]:
    """Document-information dictionary (trailer /Info → Title/Author/
    CreationDate), the fields metadata_extractor.py:97-123 reads via
    fitz ``doc.metadata`` for the YAML frontmatter, looked up in the
    object map with object streams already expanded. Literal-string values
    only (the overwhelmingly common form); raw D: dates are returned as-is
    for metadata.parse_pdf_date."""
    m = _INFO_REF_RE.search(payload)
    if not m:
        return {}
    obj = objects.get(int(m.group(1)))
    if obj is None:
        return {}
    body = obj[0]
    out: dict[str, str] = {}
    for key, pattern in _INFO_FIELD_RES.items():
        f = pattern.search(body)
        if f:
            value, _ = _literal_string(body, f.end() - 1)
            if value.startswith("\xfe\xff"):
                # UTF-16BE text string (PDF 32000-1 §7.9.2.2) — common for
                # non-ASCII Title/Author; _literal_string decoded it one-
                # char-per-byte (latin-1 roundtrip), so re-decode the bytes.
                # A metadata-only quirk must never fail the whole parse (the
                # caller wraps pages+info in one try), so any re-decode
                # surprise keeps the raw value instead of raising.
                try:
                    value = value[2:].encode("latin-1").decode("utf-16-be", errors="replace")
                except UnicodeEncodeError:
                    pass
            if value:
                out[key] = value
    return out
