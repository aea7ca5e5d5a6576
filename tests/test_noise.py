"""Noise tagging tests (ported semantics: reference noise_filter fixtures +
verify_pipeline.py tag-don't-remove assertion)."""

from smoldocling_ocr_spark.functions import noise


def _pages():
    return [
        [
            {"type": "text", "content": "Company Name Inc.", "y": 10},
            {"type": "text", "content": "# Introduction", "y": 100, "font_size": 18.0},
            {"type": "text", "content": "This is the content.", "y": 150},
            {"type": "text", "content": "Page 1 of 3", "y": 700},
            {"type": "text", "content": "CONFIDENTIAL", "y": 750},
        ],
        [
            {"type": "text", "content": "Company Name Inc.", "y": 10},
            {"type": "text", "content": "## Methods", "y": 100, "font_size": 16.0},
            {"type": "text", "content": "More content here.", "y": 150},
            {"type": "text", "content": "|||---===", "y": 300, "confidence": 0.2},
            {"type": "text", "content": "Page 2 of 3", "y": 700},
            {"type": "text", "content": "CONFIDENTIAL", "y": 750},
        ],
        [
            {"type": "text", "content": "Company Name Inc.", "y": 10},
            {"type": "text", "content": "## Results", "y": 100, "font_size": 16.0},
            {"type": "text", "content": "Final content.", "y": 150},
            {"type": "text", "content": "Page 3 of 3", "y": 700},
            {"type": "text", "content": "CONFIDENTIAL", "y": 750},
        ],
    ]


def _label(s: str, conf: float = 1.0) -> str | None:
    return noise.classify_noise(s.strip(), conf, None)


def test_page_number_predicate():
    for s in ("Page 1", "Page 12 of 30", "3 / 10", "- 4 -", "[ 7 ]", "42", "pg. 9"):
        assert _label(s) == "page_number", s
    assert _label("Page numbering discussion") != "page_number"


def test_watermark_predicate():
    for s in ("CONFIDENTIAL", "Draft", "DO NOT COPY", "All rights reserved.", "www.example.com", "Copyright © 2024"):
        assert _label(s) == "watermark", s
    assert _label("This draft chapter covers watermarks") != "watermark"


def test_artifact_predicates():
    assert _label("|||---===", 0.2) == "artifact"
    assert _label("...,,,", 1.0) == "artifact"
    assert _label("ab", 1.0) == "artifact"  # 1-2 letter fragment
    assert _label("xx", 0.2) == "artifact"
    assert _label("This is normal text content.", 0.95) != "artifact"


def test_garbled():
    assert noise.is_garbled("@#$%^&*()")
    assert noise.is_garbled("bcdfgklmn")  # consonant run
    assert noise.is_garbled("aaaaa repeated")
    assert not noise.is_garbled("normal words")


def test_repeater_detection_and_tagging():
    pages, report = noise.tag_document_noise(_pages())
    # tag-don't-remove: element counts unchanged
    assert [len(p) for p in pages] == [5, 6, 5]
    page1 = {e["content"]: e.get("noise_type") for e in pages[0]}
    assert page1["Company Name Inc."] == "header"
    assert page1["Page 1 of 3"] == "page_number"
    assert page1["CONFIDENTIAL"] in ("footer", "watermark")
    assert page1["This is the content."] is None
    page2 = {e["content"]: e.get("noise_type") for e in pages[1]}
    assert page2["|||---==="] == "artifact"
    assert report["headers_detected"] >= 1


def test_digit_masked_repeaters():
    # "Page N of M" on every page normalizes to one masked key
    pages = [
        [{"type": "text", "content": f"Doc Title {i}", "y": 50},
         {"type": "text", "content": "body " * 5, "y": 300},
         {"type": "text", "content": f"Page {i} of 4", "y": 900}]
        for i in range(1, 5)
    ]
    repeaters = noise.detect_repeaters(pages)
    assert "Page [NUM] of [NUM]" in repeaters["footers"]
    assert "Doc Title [NUM]" in repeaters["headers"]


def test_few_pages_skip_repeaters():
    pages, _ = noise.tag_document_noise(_pages()[:2])
    page1 = {e["content"]: e.get("noise_type") for e in pages[0]}
    # no repeater detection under 3 pages; header stays untagged
    assert page1["Company Name Inc."] is None
    # single-page predicates still apply
    assert page1["Page 1 of 3"] == "page_number"
