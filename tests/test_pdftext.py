"""Pure-Python PDF text-layer extraction (functions/pdftext.py).

Fixtures are hand-built PDFs (classic xref-style object syntax) so the test
is independent of any PDF library: literal strings with escapes and octal,
hex strings, Td/TD/Tm/T* positioning, TJ kerning arrays, ' line-shows,
FlateDecode and raw content streams, multi-page with distinct MediaBoxes.
"""

from __future__ import annotations

import zlib

import pytest

from smoldocling_ocr_spark.functions.pdftext import extract_pdf_pages, is_pdf


def _pdf(objects: dict[int, bytes]) -> bytes:
    out = bytearray(b"%PDF-1.4\n")
    for num, body in objects.items():
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    out += b"%%EOF"
    return bytes(out)


def _content_obj(ops: bytes, flate: bool = False) -> bytes:
    if flate:
        data = zlib.compress(ops)
        return b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(data) + data + b"endstream"
    return b"<< /Length %d >>\nstream\n" % len(ops) + ops + b"endstream"


PAGE1_OPS = (
    b"BT /F1 18 Tf 72 720 Td (Annual Report) Tj ET\n"
    b"BT /F1 11 Tf 72 690 Td (First paragraph line one.) Tj ET\n"
    b"BT /F1 11 Tf 1 0 0 1 72 676 Tm [(Kerned ) -120 (second) -80 ( line.)] TJ ET\n"
    b"BT /F1 11 Tf 72 662 Td 14 TL (Escaped \\(parens\\) and \\101 octal) Tj T* "
    b"(After T-star line) Tj ET\n"
)
PAGE2_OPS = (
    b"BT /F1 11 Tf 60 500 Td 13 TL (Page two opens here.) Tj\n"
    b"(Apostrophe-op line follows.) '\n"
    b"<506167652074776f2068657820737472696e67> ' ET\n"
)


def _two_page_pdf() -> bytes:
    return _pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>",
            3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
            4: _content_obj(PAGE1_OPS, flate=True),
            5: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] /Contents [6 0 R] >>",
            6: _content_obj(PAGE2_OPS, flate=False),
        }
    )


def test_pdf_two_pages_positions_and_strings():
    payload = _two_page_pdf()
    assert is_pdf(payload)
    pages, dims, _ = extract_pdf_pages(payload)
    assert len(pages) == 2
    assert dims == [(612.0, 792.0), (595.0, 842.0)]

    p1 = [e["content"] for e in pages[0]]
    assert p1[0] == "Annual Report"  # highest on page renders first
    assert "First paragraph line one." in p1
    assert "Kerned second line." in p1  # TJ kerning numbers dropped
    assert "Escaped (parens) and A octal" in p1  # \( \) and \101 == 'A'
    assert "After T-star line" in p1  # T* advanced by TL leading
    # y order matches PDF top-down layout
    assert p1.index("Annual Report") < p1.index("After T-star line")

    p2 = [e["content"] for e in pages[1]]
    assert "Page two opens here." in p2
    assert "Apostrophe-op line follows." in p2  # ' implies T*
    assert "Page two hex string" in p2  # hex string decoding
    # every element carries a bbox and top-origin y within the page
    for e in pages[0] + pages[1]:
        assert e["bbox"][1] == e["y"] and 0 <= e["y"] <= 842
        assert e["font_size"] > 0


def test_pdf_heading_classified_through_pipeline():
    """The digital-PDF route flows through the full extraction pipeline:
    method pdf_text, the 18pt title classified as a heading, page markers
    for both pages, normalize_markdown applied (reference
    structure_engine.py:79 normalizes the digital output)."""
    import datetime as dt

    from smoldocling_ocr_spark.functions.extract import extract_document

    res = extract_document("https://x/report.pdf", dt.datetime(2024, 2, 1), _two_page_pdf(), "")
    assert res["method"] == "pdf_text"
    assert res["pages"] == 2
    md = res["markdown"]
    assert "<!-- page:1 -->" in md and "<!-- page:2 -->" in md
    assert "Annual Report" in md
    # 18pt line over 11pt body → heading role from the multi-signal classifier
    assert "# Annual Report" in md or 'role:heading' in md.split("Annual Report")[0].rsplit("<!--", 2)[-2]


def test_pdf_fallbacks():
    """Encrypted or text-less PDFs must raise so decode_payload falls back
    to the text column; extract_document then routes the DISTINCT
    ``pdf_parse_failed`` method (VERDICT r3 task 5) — lineage must be able
    to count routed PDF failures separately from born-plain-text docs."""
    import datetime as dt

    from smoldocling_ocr_spark.functions.extract import extract_document

    encrypted = _pdf({1: b"<< /Type /Catalog /Encrypt 9 0 R >>"})
    with pytest.raises(ValueError):
        extract_pdf_pages(encrypted)
    scanned = _pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            4: _content_obj(b"q 612 0 0 792 0 0 cm /Im0 Do Q", flate=False),
        }
    )
    with pytest.raises(ValueError):
        extract_pdf_pages(scanned)

    res = extract_document(
        "https://x/scan.pdf", dt.datetime(2024, 2, 1), scanned, "fallback body text"
    )
    assert res["method"] == "pdf_parse_failed"
    assert "fallback body text" in res["markdown"]

    # a genuinely plain-text doc keeps the text_layer method — the render
    # is identical, only the routing label differs
    res2 = extract_document(
        "https://x/plain.txt", dt.datetime(2024, 2, 1), b"plain body", "fallback body text"
    )
    assert res2["method"] == "text_layer"
    body_of = lambda md: md.split("---", 2)[-1]
    assert body_of(res2["markdown"]).replace("text_layer", "") == body_of(
        res["markdown"]
    ).replace("pdf_parse_failed", "")

    # the routing label must not re-score the output: a failed-parse PDF
    # scores like the same text on the text_layer path (the label exists for
    # lineage only)
    assert res["quality_score"] == res2["quality_score"]


def test_pdf_info_metadata_to_frontmatter():
    """Document-information dict (trailer /Info) reaches the YAML
    frontmatter with the D: date parsed, like the reference's fitz
    doc.metadata route (metadata_extractor.py:97-123)."""
    import datetime as dt

    from smoldocling_ocr_spark.functions.extract import extract_document

    base = _two_page_pdf()
    info = (
        b"9 0 obj\n<< /Title (Q1 \\(Draft\\)) /Author (A. Writer) "
        b"/CreationDate (D:20230506070809) >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Info 9 0 R >>\n"
    )
    payload = base.replace(b"%%EOF", info + b"%%EOF")
    assert extract_pdf_pages(payload)[2] == {
        "title": "Q1 (Draft)", "author": "A. Writer",
        "creation_date": "D:20230506070809",
    }
    md = extract_document("https://x/q1.pdf", dt.datetime(2024, 2, 1), payload, "")["markdown"]
    assert 'title: "Q1 (Draft)"' in md
    assert 'author: "A. Writer"' in md
    assert 'creation_date: "2023-05-06T07:08:09"' in md
    assert extract_pdf_pages(base)[2] == {}  # no Info dict → empty


def test_pdf_kids_order_overrides_object_numbering():
    """Page order comes from the catalog's /Pages /Kids walk, not object
    numbering — generators that emit content before pages (and incremental
    updates) number page objects out of document order."""
    payload = _pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            # Kids lists page 7 first, but 3 < 7 in object order
            2: b"<< /Type /Pages /Kids [7 0 R 3 0 R] /Count 2 >>",
            3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
            4: _content_obj(b"BT /F1 12 Tf 72 700 Td (Second page text body) Tj ET"),
            7: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 8 0 R >>",
            8: _content_obj(b"BT /F1 12 Tf 72 700 Td (First page text body) Tj ET"),
        }
    ) + b"\ntrailer\n<< /Root 1 0 R >>\n"
    pages, _, _ = extract_pdf_pages(payload)
    assert [p[0]["content"] for p in pages] == [
        "First page text body",
        "Second page text body",
    ]


def test_pdf_intermediate_pages_nodes_recursed():
    """/Kids trees with intermediate /Pages nodes are walked depth-first."""
    payload = _pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [10 0 R 5 0 R] /Count 2 >>",
            10: b"<< /Type /Pages /Parent 2 0 R /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 10 0 R /Contents 4 0 R >>",
            4: _content_obj(b"BT /F1 12 Tf 72 700 Td (Nested kid page) Tj ET"),
            5: b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>",
            6: _content_obj(b"BT /F1 12 Tf 72 700 Td (Top level kid page) Tj ET"),
        }
    ) + b"\ntrailer\n<< /Root 1 0 R >>\n"
    pages, _, _ = extract_pdf_pages(payload)
    assert [p[0]["content"] for p in pages] == ["Nested kid page", "Top level kid page"]


def test_pdf_length_delimits_stream_with_embedded_keywords():
    """/Length slices stream data exactly: content bytes legally containing
    'endstream'/'endobj' must not truncate the object or the stream."""
    ops = (
        b"BT /F1 12 Tf 72 700 Td (contains endstream inside) Tj ET\n"
        b"BT /F1 12 Tf 72 686 Td (and endobj too) Tj ET\n"
    )
    payload = _pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            4: _content_obj(ops),  # raw stream, exact /Length
        }
    )
    # objects AFTER the booby-trapped stream must still be found
    payload = payload.replace(b"%%EOF", b"5 0 obj\n<< /Type /Font >>\nendobj\n%%EOF")
    from smoldocling_ocr_spark.functions.pdftext import _objects

    assert 5 in _objects(payload)
    pages, _, _ = extract_pdf_pages(payload)
    texts = [e["content"] for e in pages[0]]
    assert "contains endstream inside" in texts
    assert "and endobj too" in texts


def test_pdf_flate_without_length_falls_back():
    """A Flate stream with an indirect/missing /Length is recovered by
    scanning endstream candidates until the chunk decompresses."""
    data = zlib.compress(b"BT /F1 12 Tf 72 700 Td (no length entry) Tj ET")
    payload = _pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            4: b"<< /Filter /FlateDecode /Length 9 0 R >>\nstream\n" + data + b"\nendstream",
        }
    )
    pages, _, _ = extract_pdf_pages(payload)
    assert pages[0][0]["content"] == "no length entry"


def test_pdf_undecodable_contents_is_parse_failure():
    """A page whose /Contents resolve to no decodable stream raises (parse
    failure -> text-column fallback), instead of yielding an empty page."""
    payload = _pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            4: _content_obj(b"BT /F1 12 Tf 72 700 Td (good page) Tj ET"),
            5: b"<< /Type /Page /Parent 2 0 R /Contents 9 0 R >>",  # 9 missing
        }
    )
    with pytest.raises(ValueError):
        extract_pdf_pages(payload)


def test_pdf_info_utf16be_strings():
    """UTF-16BE text strings (BOM FE FF) in the Info dict decode to real
    text instead of one-char-per-byte mojibake."""
    title = "Résumé – Übersicht"
    raw = b"\xfe\xff" + title.encode("utf-16-be")
    # escape PDF literal-string specials in the raw bytes
    esc = raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    payload = _two_page_pdf().replace(
        b"%%EOF",
        b"9 0 obj\n<< /Title (" + esc + b") /Author (Plain) >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Info 9 0 R >>\n%%EOF",
    )
    assert extract_pdf_pages(payload)[2] == {"title": title, "author": "Plain"}


def test_pdf_info_octal_overflow_never_fails_page_extraction():
    """Octal escapes \\400-\\777 wrap to one byte (PDF 32000-1 §7.3.4.2).
    Before the wrap, a UTF-16BE Info string containing such an escape made
    the latin-1 re-encode raise — and because callers wrap pages+info in one
    try, a metadata-only quirk silently discarded a successful text-layer
    parse (ADVICE r3 #1). The Info parse must survive and pages must still
    extract."""
    # \777 & 0xFF = 0xFF; paired inside a BOM'd string it stays decodable
    payload = _two_page_pdf().replace(
        b"%%EOF",
        b"9 0 obj\n<< /Title (\\376\\377\\000T\\777) /Author (Plain) >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Info 9 0 R >>\n%%EOF",
    )
    pages, _, info = extract_pdf_pages(payload)  # must not raise
    assert info["author"] == "Plain"
    assert info["title"].startswith("T")
    assert len(pages) == 2
    assert "Annual Report" in [e["content"] for e in pages[0]]


def test_pdf_title_ending_in_stream_keyword_not_misparsed():
    """A literal string ending in 'stream' followed by a newline inside a
    non-stream object dict must not be treated as stream data (ADVICE r3
    #4) — the stream keyword only counts after the dict's closing >>."""
    payload = _two_page_pdf().replace(
        b"%%EOF",
        b"9 0 obj\n<< /Title (All about stream\ns) /Author (Keeps) >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Info 9 0 R >>\n%%EOF",
    )
    pages, _, info = extract_pdf_pages(payload)
    assert info == {"title": "All about stream\ns", "author": "Keeps"}
    assert len(pages) == 2


def test_pdf_object_streams_expanded():
    """PDF 1.5+ object streams: catalog/pages/page dictionaries live inside
    a Flate-compressed /Type /ObjStm; only the content stream is a
    top-level object — the overwhelmingly common modern-writer shape. The
    /Info dictionary can sit there too."""
    inner = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 /MediaBox [0 0 612 792] >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        5: b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R /MediaBox [0 0 595 842] >>",
        9: b"<< /Title (Packed title) /Author (Packed author) >>",
    }
    header = bytearray()
    bodies = bytearray()
    for num, body in inner.items():
        header += b"%d %d " % (num, len(bodies))
        bodies += body + b" "
    first = len(header)
    stm = zlib.compress(bytes(header) + bytes(bodies))
    payload = _pdf(
        {
            7: b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode /Length %d >>\nstream\n"
            % (len(inner), first, len(stm)) + stm + b"\nendstream",
            4: _content_obj(b"BT /F1 14 Tf 72 700 Td (From objstm page one) Tj ET", flate=True),
            6: _content_obj(b"BT /F1 14 Tf 72 700 Td (From objstm page two) Tj ET"),
        }
    ) + b"\ntrailer\n<< /Root 1 0 R /Info 9 0 R >>\n"
    pages, dims, info = extract_pdf_pages(payload)
    assert info == {"title": "Packed title", "author": "Packed author"}
    assert [p[0]["content"] for p in pages] == [
        "From objstm page one",
        "From objstm page two",
    ]
    # page 1 inherits MediaBox from the /Pages parent; page 2 overrides it
    assert dims == [(612.0, 792.0), (595.0, 842.0)]


def test_pdf_mediabox_inherited_from_parent():
    payload = _pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 500 700] >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            4: _content_obj(b"BT /F1 12 Tf 72 600 Td (inherited box) Tj ET"),
        }
    ) + b"\ntrailer\n<< /Root 1 0 R >>\n"
    _, dims, _ = extract_pdf_pages(payload)
    assert dims == [(500.0, 700.0)]
