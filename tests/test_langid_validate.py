"""Language detection + validation tests (reference test_enhancements.py,
test_validator.py semantics)."""

from smoldocling_ocr_spark.functions import langid, validate, confidence


def test_latin_languages():
    assert langid.detect_language("The quick brown fox and the lazy dog, it was fine.")["language"] == "en"
    assert langid.detect_language("Le renard brun rapide saute par-dessus le chien paresseux.")["language"] == "fr"
    assert langid.detect_language("Der schnelle braune Fuchs springt über den faulen Hund.")["language"] == "de"
    # the ASCII-word tokenizer only surfaces diacritic-free stopwords (trong/cho)
    assert langid.detect_language("Văn bản trong tài liệu cho thấy trong phần cho.")["language"] == "vi"


def test_scripts():
    assert langid.detect_language("မြန်မာဘာသာစကား နမူနာ စာသား ဖြစ်သည်")["language"] == "my"
    assert langid.detect_language("นี่คือข้อความตัวอย่างสำหรับการทดสอบ")["language"] == "th"
    assert langid.detect_language("이것은 테스트를 위한 샘플 텍스트입니다")["language"] == "ko"
    assert langid.detect_language("这是一个用于测试的示例文本包含常见的中文汉字")["language"] == "zh"
    assert langid.detect_language("これはテストのためのサンプルテキストです")["language"] == "ja"


def test_insufficient_text():
    assert langid.detect_language("hi")["method"] == "insufficient_text"


def test_validation_detects_issues():
    sample = (
        "---\ndocument:\n  source_file: \"t.pdf\"\nquality:\n  confidence_score: 0.85\n---\n\n"
        "<!-- page:1 -->\n\n<!-- role:heading level:1 -->\n# Introduction\n\n"
        "This is sample content. Based on the image, it shows a document.\n\n"
        "<!-- role:table -->\n| A | B |\n|---|---|\n| 1 | 2\n"
    )
    report = validate.validate_markdown(sample)
    assert report["hallucination_count"] == 1
    assert any("Incomplete table row" in i["message"] for i in report["issues"])
    assert report["errors"] >= 1


def test_validation_clean_document():
    sample = (
        "---\ndocument:\n  source_file: \"t.pdf\"\nquality:\n  confidence_score: 0.95\n---\n\n"
        "<!-- page:1 -->\n\n<!-- role:heading level:1 -->\n# Title\n\n"
        "Real content line one.\n\nReal content line two.\n\nReal content line three.\n"
    )
    report = validate.validate_markdown(sample)
    assert report["errors"] == 0
    assert report["quality_score"] >= 0.9


def test_quality_gate_actions():
    bad = "no frontmatter at all"
    report = validate.validate_markdown(bad)
    gate = validate.quality_gate(report)
    assert not gate["passed"]
    text = "---\n---\n" + "\n".join(f"line {i} of content." for i in range(8))
    lines = validate.validate_markdown(text)["content_lines"]
    assert lines == 8
    good_report = {"quality_score": 0.95, "hallucination_count": 0, "errors": 0, "content_lines": lines}
    gate = validate.quality_gate(good_report)
    assert gate["passed"] and gate["suggested_action"] == "accept"
    halluc_report = {"quality_score": 0.7, "hallucination_count": 2, "errors": 0, "content_lines": lines}
    assert validate.quality_gate(halluc_report)["suggested_action"] == "fallback_to_local_ocr"


def test_gate_content_lines_rule():
    """The gate's count covers every line, frontmatter included: a line
    counts unless it is blank or starts (unstripped) with --- or <!--."""
    text = "---\ntitle: x\n---\n\n<!-- page:1 -->\n  <!-- indented -->\n--- rule\nbody\n   \n"
    assert validate.validate_markdown(text)["content_lines"] == 3
    report = {"quality_score": 0.95, "hallucination_count": 0, "errors": 0, "content_lines": 4}
    assert validate.quality_gate(report)["failures"] == ["Only 4 content lines (min: 5)"]


def test_confidence_statistics():
    pages = [
        [{"confidence": 0.95}, {"confidence": 0.88}, {"confidence": 0.65}],
        [{"confidence": 0.45}, {"confidence": 0.91}],
    ]
    stats = confidence.document_statistics(pages)
    assert stats["total_elements"] == 5
    assert stats["uncertain_count"] == 2  # < 0.7
    assert 0 < stats["avg"] < 1
    score = confidence.overall_quality_score(stats)
    expected = round(0.6 * stats["avg"] + 0.2 * stats["min"] + 0.2 * (1 - stats["uncertain_percentage"] / 100), 4)
    assert score == expected
