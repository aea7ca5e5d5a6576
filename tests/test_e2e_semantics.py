"""End-to-end semantic assertions on a crafted layout document (the
reference's test_detection.py style: known structure in, specific tags out)."""

from __future__ import annotations

import datetime as dt

from smoldocling_ocr_spark.functions.extract import extract_document
from smoldocling_ocr_spark.functions.layoutcodec import encode_layout


def _crafted_payload() -> bytes:
    width, height = 1275.0, 1650.0

    names = {1: "ALPHA", 2: "BETA", 3: "GAMMA"}

    def page(page_no: int) -> dict:
        word = names[page_no]
        elements = [
            # repeating header (every page, top zone)
            {"type": "text", "content": "Company Name Inc.", "bbox": [60, 10, 360, 30], "confidence": 0.98, "font_size": None},
            # ALL-CAPS large heading with whitespace gap
            {"type": "text", "content": f"SECTION {word}", "bbox": [60, 150, 480, 190], "confidence": 0.97, "font_size": None},
            # body paragraphs
            {"type": "text", "content": f"This is the {word} body paragraph with plenty of ordinary words in it for scoring.", "bbox": [60, 260, 560, 282], "confidence": 0.95, "font_size": None},
            {"type": "text", "content": f"The {word} follow-up paragraph continues with more routine page-specific content.", "bbox": [60, 315, 560, 337], "confidence": 0.94, "font_size": None},
            # bullet list item (early-exit rule)
            {"type": "text", "content": "• bullet item number one", "bbox": [80, 370, 420, 390], "confidence": 0.96, "font_size": None},
            # table + caption within 100px
            {"type": "text", "content": "Table 1: Crafted sample", "bbox": [60, 430, 420, 448], "confidence": 0.96, "font_size": None},
            {"type": "table", "content": "| K | V |\n|---|---|\n| a | 1 |", "bbox": [60, 460, 520, 560], "confidence": 0.9, "font_size": None},
            # uncertain element (0.5 <= conf < 0.7)
            {"type": "text", "content": "barely readable scribble", "bbox": [60, 600, 460, 620], "confidence": 0.62, "font_size": None},
            # artifact
            {"type": "text", "content": "|||---===", "bbox": [80, 660, 180, 675], "confidence": 0.2, "font_size": None},
            # body line referencing a footnote + footnote content in bottom 20%
            {"type": "text", "content": f"A {word} claim that needs support [1].", "bbox": [60, 700, 460, 722], "confidence": 0.95, "font_size": None},
            {"type": "text", "content": f"[1] The supporting footnote for the {word} section.", "bbox": [60, 1430, 460, 1444], "confidence": 0.93, "font_size": None},
            # watermark + page number (bottom zone)
            {"type": "text", "content": "DRAFT", "bbox": [80, 900, 200, 918], "confidence": 0.97, "font_size": None},
            {"type": "text", "content": f"Page {page_no} of 3", "bbox": [60, 1568, 210, 1582], "confidence": 0.99, "font_size": None},
        ]
        return {"width": width, "height": height, "elements": elements}

    return encode_layout(
        {
            "meta": {"title": "Crafted Doc", "author": "T. Author", "creation_date": "2023-01-02T00:00:00"},
            "pages": [page(i) for i in (1, 2, 3)],
        }
    )


def test_crafted_document_semantics():
    res = extract_document(
        "https://example.com/crafted.pdf", dt.datetime(2024, 3, 1), _crafted_payload(), None
    )
    md = res["markdown"]

    # frontmatter with pinned extraction date and sha-derived id
    assert md.startswith("---\ndocument:")
    assert 'extraction_date: "2024-03-01T00:00:00"' in md
    assert f'document_id: "{res["document_id"]}"' in md

    # page markers 1..3
    for n in (1, 2, 3):
        assert f"<!-- page:{n} -->" in md

    # repeating header tagged (not removed) on every page
    assert md.count("Company Name Inc.") == 3
    assert md.count("<!-- role:header -->") == 3

    # ALL-CAPS heading classified and promoted to H1 (min level rule)
    assert "# SECTION ALPHA" in md
    assert "<!-- role:heading" in md

    # bullet early-exit
    assert "<!-- role:list_item type:unordered -->" in md

    # caption linked to table: standalone caption line gone, caption attr on table
    assert 'caption:"Crafted sample"' in md
    assert "**Crafted sample**" in md
    assert "\nTable 1: Crafted sample\n" not in md

    # table re-padded to column width >= 3
    assert "| a   | 1   |" in md

    # uncertain wrap with confidence comment
    assert "<!-- confidence:0.62 -->" in md
    assert "[uncertain: barely readable scribble]" in md

    # artifact tagged and wrapped as low-confidence, not removed
    assert "<!-- role:artifact -->" in md
    assert "[low-confidence: |||---===]" in md

    # footnote linked with id
    assert "<!-- role:footnote id:1 -->" in md

    # watermark + page-number noise tags
    assert "<!-- role:watermark -->" in md and "DRAFT" in md
    assert md.count("<!-- role:page_number -->") == 3

    # reading order annotations restart per page
    assert md.count("<!-- reading-order:1 -->") == 3

    # quality metrics surface
    assert res["pages"] == 3
    assert res["captions_linked"] == 3
    assert res["footnotes_linked"] == 3
    assert res["gate_passed"] is True
    assert 0.0 < res["confidence_score"] <= 1.0


def test_html_acceptance_gate_requires_chars_and_words():
    """The digital-route acceptance gate mirrors the reference's conjunct
    (structure_engine.py:914-928): >100 chars AND >100 words. A long
    single-token blob (chars pass, words fail) must fall back to the text
    column; a normal article (both pass) routes html_dom."""
    ts = dt.datetime(2024, 3, 1)
    blob = "<html><body><p>" + "x" * 300 + "</p></body></html>"
    res = extract_document("https://x/blob.html", ts, blob.encode(), "fallback words")
    assert res["method"] == "text_layer"

    words = " ".join(f"word{i}" for i in range(150))
    article = f"<html><body><p>{words}</p></body></html>"
    res = extract_document("https://x/article.html", ts, article.encode(), "")
    assert res["method"] == "html_dom"


def _confidence_page(confidences: list, extra: list | None = None) -> bytes:
    """One DOCLAYv1 page: four text lines carrying ``confidences``, then
    ``extra`` elements as given."""
    texts = (
        "Quarterly review of the regional office",
        "Revenue grew in every segment this year.",
        "Costs were held flat against the plan.",
        "Hiring resumes in the second quarter.",
    )
    elements = [
        {"type": "text", "content": t, "bbox": [60, 100 + 60 * i, 560, 122 + 60 * i], "confidence": c, "font_size": None}
        for i, (t, c) in enumerate(zip(texts, confidences, strict=True))
    ]
    return encode_layout({"meta": {}, "pages": [{"width": 612, "height": 792, "elements": elements + (extra or [])}]})


MALFORMED_CONFIDENCES = ["0.9", "abc", True, None]


def test_malformed_confidence_reads_as_float_or_one():
    """Every stage reads confidence through one helper: a numeric string is
    its float, an unparseable value, a bool's float and None read as 1.0.
    The page extracts exactly like the page with those numbers (only the
    payload-hash document id differs)."""
    short = [{"type": "text", "content": "ok fine", "bbox": [60, 400, 140, 412], "font_size": None}]
    ts = dt.datetime(2024, 3, 1)
    got = extract_document("https://example.com/c", ts, _confidence_page(MALFORMED_CONFIDENCES, [dict(short[0], confidence="0.25")]), None)
    want = extract_document("https://example.com/c", ts, _confidence_page([0.9, 1.0, 1.0, 1.0], [dict(short[0], confidence=0.25)]), None)
    assert got["method"] == "layout_ocr"
    assert got["markdown"].replace(got["document_id"], "") == want["markdown"].replace(want["document_id"], "")
    # the 0.25 line is still an artifact under the < 0.3 noise rule
    assert "<!-- role:artifact -->" in got["markdown"] and got["noise_tagged"] == want["noise_tagged"] == 1
    assert {k: v for k, v in got.items() if k not in ("markdown", "document_id")} == {
        k: v for k, v in want.items() if k not in ("markdown", "document_id")
    }


def test_null_content_element_extracts():
    """A text element whose content is null is read as empty text, by noise
    tagging as by every other stage."""
    null = {"type": "text", "content": None, "bbox": [60, 500, 300, 520], "confidence": 0.9, "font_size": None}
    res = extract_document("https://example.com/n", dt.datetime(2024, 3, 1), _confidence_page([0.9] * 4, [null]), None)
    assert res["method"] == "layout_ocr" and res["elements"] == 6
    assert "Hiring resumes in the second quarter." in res["markdown"]
