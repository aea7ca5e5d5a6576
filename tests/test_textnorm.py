"""Text normalization tests (ported semantics: reference test_cleaning.py,
test_list_normalization.py, test_hyphen_rendering.py)."""

from smoldocling_ocr_spark.functions import textnorm


def test_hyphen_merge_loose():
    assert textnorm.merge_hyphenated_words_loose("docu-\nment") == "document"
    assert textnorm.merge_hyphenated_words_loose("ABC-\nDEF") == "ABCDEF"
    assert textnorm.merge_hyphenated_words_loose("x1-\n2y") == "x12y"


def test_normalize_unicode_dashes():
    assert textnorm.normalize_markdown("a − b – c — d ― e") == "a - b - c - d - e"


def test_normalize_list_indent():
    # 2-4 space indent before a top-level bullet after a blank line is stripped
    text = "para\n\n    - Goods imported under the scheme\n"
    out = textnorm.normalize_markdown(text)
    assert "\n- Goods imported under the scheme" in out
    assert "    -" not in out


def test_normalize_star_bullets_and_newlines():
    out = textnorm.normalize_markdown("* one\n* two\n\n\n\n* three")
    assert out == "- one\n- two\n\n- three"


def test_normalize_blank_before_heading():
    out = textnorm.normalize_markdown("text\n## Heading")
    assert out == "text\n\n## Heading"


def test_normalize_combined_unicode_dash_list():
    text = "Intro:\n\n    − Goods imported under scheme\n    − Another item"
    out = textnorm.normalize_markdown(text)
    assert "- Goods imported under scheme" in out
    assert "−" not in out


def test_repeater_normalization():
    assert textnorm.mask_numbers("Page 3 of 10") == "Page [NUM] of [NUM]"
