"""Property-based tests (hypothesis) for the normalization core.

The reference has no property testing (SURVEY.md §5); these pin invariants
the chained regex pipeline must hold at any input — idempotency of the
normalizers, conservation of content under tagging, and codec round-trips.
"""

from __future__ import annotations

import hypothesis.strategies as st
from hypothesis import given, settings

from smoldocling_ocr_spark.functions import schema_enforce, textnorm
from smoldocling_ocr_spark.functions.layoutcodec import decode_layout, encode_layout

text_lines = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\r"),
    max_size=200,
)


@given(text_lines)
@settings(max_examples=200, deadline=None)
def test_normalize_markdown_idempotent(s):
    once = textnorm.normalize_markdown(s)
    assert textnorm.normalize_markdown(once) == once


@given(text_lines)
@settings(max_examples=200, deadline=None)
def test_normalize_no_unicode_dashes_remain(s):
    out = textnorm.normalize_markdown(s)
    assert not any(d in out for d in "−–—―")


@given(text_lines)
@settings(max_examples=200, deadline=None)
def test_hyphen_merge_never_grows(s):
    assert len(textnorm.merge_hyphenated_words_loose(s)) <= len(s)


@given(st.lists(st.lists(st.text(alphabet=st.characters(codec="utf-8", exclude_characters="|\n\r"), max_size=12), min_size=1, max_size=5), min_size=2, max_size=8))
@settings(max_examples=100, deadline=None)
def test_table_standardize_idempotent(rows):
    table = "\n".join("| " + " | ".join(r) + " |" for r in rows)
    once = schema_enforce.standardize_tables(table)
    assert schema_enforce.standardize_tables(once) == once


@given(text_lines)
@settings(max_examples=100, deadline=None)
def test_cleanup_formatting_terminates_with_single_newline(s):
    out = schema_enforce.cleanup_formatting(s)
    assert out.endswith("\n") and not out.endswith("\n\n\n\n")


@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "type": st.sampled_from(["text", "table", "figure"]),
                "content": st.text(max_size=50),
                "bbox": st.tuples(
                    st.floats(0, 1000, allow_nan=False),
                    st.floats(0, 1000, allow_nan=False),
                    st.floats(0, 1000, allow_nan=False),
                    st.floats(0, 1000, allow_nan=False),
                ).map(list),
                "confidence": st.floats(0, 1, allow_nan=False),
                "font_size": st.none() | st.floats(6, 40, allow_nan=False),
            }
        ),
        max_size=10,
    )
)
@settings(max_examples=100, deadline=None)
def test_layout_codec_roundtrip(elements):
    doc = {"meta": {"title": "t"}, "pages": [{"width": 1000, "height": 1000, "elements": elements}]}
    decoded = decode_layout(encode_layout(doc))
    assert len(decoded["pages"][0]["elements"]) == len(elements)
    for orig, back in zip(elements, decoded["pages"][0]["elements"]):
        assert list(back["bbox"]) == orig["bbox"]
        assert back["content"] == orig["content"]


def test_noise_tagging_conserves_elements():
    """Tag-Don't-Remove as a property: tagging never changes element count
    or content, only adds the noise_type key."""
    import random

    from smoldocling_ocr_spark.functions.noise import tag_document_noise

    rng = random.Random(7)
    pages = [
        [
            {
                "type": "text",
                "content": rng.choice(["Page 1", "CONFIDENTIAL", "real content here", "|||---===", "42"]),
                "y": rng.uniform(0, 1000),
                "confidence": rng.uniform(0.1, 1.0),
            }
            for _ in range(rng.randint(1, 12))
        ]
        for _ in range(rng.randint(1, 6))
    ]
    tagged, _ = tag_document_noise(pages)
    assert [len(p) for p in tagged] == [len(p) for p in pages]
    for before, after in zip(pages, tagged):
        for b, a in zip(before, after):
            assert a["content"] == b["content"]


def test_figure_components_match_reference_flood_fill():
    """Run-length CCL must be indistinguishable from the reference's
    stack-based flood fill (structure_engine.py:210-249): same components,
    same bboxes, same emission order — on 300 random occupancy grids."""
    import numpy as np

    from smoldocling_ocr_spark.functions.figures import _empty_components

    def flood_reference(occupancy):
        grid_h, grid_w = occupancy.shape
        visited = [[False] * grid_w for _ in range(grid_h)]
        occ = occupancy.tolist()
        out = []
        for sy in range(grid_h):
            for sx in range(grid_w):
                if visited[sy][sx] or occ[sy][sx]:
                    continue
                stack = [(sy, sx)]
                min_x = max_x = sx
                min_y = max_y = sy
                while stack:
                    y, x = stack.pop()
                    if y < 0 or y >= grid_h or x < 0 or x >= grid_w:
                        continue
                    if visited[y][x] or occ[y][x]:
                        continue
                    visited[y][x] = True
                    min_x, max_x = min(min_x, x), max(max_x, x)
                    min_y, max_y = min(min_y, y), max(max_y, y)
                    stack.extend([(y - 1, x), (y + 1, x), (y, x - 1), (y, x + 1)])
                out.append((min_x, min_y, max_x, max_y))
        return out

    rng = np.random.default_rng(7)
    for trial in range(300):
        h = int(rng.integers(1, 20))
        w = int(rng.integers(1, 20))
        density = rng.uniform(0.1, 0.9)
        occ = rng.random((h, w)) < density
        got = _empty_components(~occ)
        want = flood_reference(occ)
        assert got == want, f"trial {trial}: {got} != {want}"


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=st.sampled_from(list("<>/abcdiv spn!-=\"'&;#x41?")), max_size=400))
def test_htmlstrip_never_raises_on_garbage(s):
    """The DOM strip must survive arbitrary malformed markup (truncated tags,
    stray entities, unbalanced quotes) — at 10^12 CC pages every broken page
    WILL occur; the pipeline records parse failures, it never crashes."""
    from smoldocling_ocr_spark.functions.htmlstrip import extract_elements

    elements = extract_elements("<html><body>" + s)
    for e in elements:
        assert isinstance(e.get("content", ""), str)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=300), st.text(max_size=120))
def test_extract_document_total_on_arbitrary_payloads(payload, text):
    """extract_document is a total function over (payload, text): any byte
    string routes to one of the three methods and yields a valid markdown
    string plus every metric field (parse failures are recorded upstream by
    the UDF wrapper; the core itself must not raise on arbitrary input)."""
    import datetime as dt

    from smoldocling_ocr_spark.functions.extract import extract_document

    res = extract_document("https://x/fuzz", dt.datetime(2024, 1, 1), payload, text)
    assert isinstance(res["markdown"], str) and res["markdown"]
    assert res["method"] in (
        "layout_ocr", "html_dom", "text_layer", "pdf_text", "pdf_parse_failed",
    )
    assert res["pages"] >= 1
    assert 0.0 <= res["quality_score"] <= 1.0
