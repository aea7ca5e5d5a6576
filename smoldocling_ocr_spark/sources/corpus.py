"""Deterministic Common-Crawl-style corpus generator (seed=42).

Synthesizes the authoritative input table
``documents(url: string, warc_ts: timestamp, html: binary, text: string,
lang: string)`` (BASELINE.json ``input_hint``) at arbitrary scale, embedding
the reference's own test-fixture patterns (FIXTURES.md §3): repeating
headers/footers, Page-N footers, watermarks, multi-column layouts,
bullet/numbered lists, hyphen-broken lines, table/figure captions,
footnotes, low-confidence artifacts, hallucination phrases, and non-Latin
snippets. ~30% of urls share a few hot domains to exercise salted
repartitioning (host-domain skew).

Payload mix: ~45% HTML pages (DOM-strip path), ~45% DOCLAYv1 layout bytes
(scan path), ~10% plain text (text-layer path).
"""

from __future__ import annotations

import datetime as dt
import random
from typing import Any

from ..functions.layoutcodec import encode_layout

SEED = 42

HOT_DOMAINS = ["big-portal.example.com", "news-hub.example.org", "mega-wiki.example.net"]
COLD_DOMAIN_COUNT = 200

_LOREM_WORDS = (
    "analysis data pipeline document extraction quality spark engine layout "
    "column heading paragraph table figure caption footnote confidence noise "
    "reading order markdown schema language detection validation partition "
    "shuffle broadcast join aggregate window cluster executor throughput "
    "benchmark parquet arrow vectorized batch lineage checkpoint resume"
).split()

_DE_SENT = "Der schnelle braune Fuchs springt über den faulen Hund und die Katze."
_FR_SENT = "Le renard brun rapide saute par-dessus le chien paresseux dans le jardin."
_ES_SENT = "El rápido zorro marrón salta sobre el perro perezoso en el parque."
_VI_SENT = "Đây là một văn bản mẫu tiếng Việt với các từ thông dụng của ngôn ngữ."
_JA_SENT = "これはテストのためのサンプルテキストです。ひらがなとカタカナを含みます。"
_KO_SENT = "이것은 테스트를 위한 샘플 텍스트입니다 한국어 문장이 포함되어 있습니다."
_ZH_SENT = "这是一个用于测试的示例文本包含常见的中文汉字内容。"
_MY_SENT = "မြန်မာဘာသာစကား နမူနာ စာသား ဖြစ်သည်။"
_TH_SENT = "นี่คือข้อความตัวอย่างสำหรับการทดสอบภาษาไทย"

LANG_SENTENCES = {
    "de": _DE_SENT, "fr": _FR_SENT, "es": _ES_SENT, "vi": _VI_SENT,
    "ja": _JA_SENT, "ko": _KO_SENT, "zh": _ZH_SENT, "my": _MY_SENT, "th": _TH_SENT,
}


def _sentence(rng: random.Random, n_words: int) -> str:
    words = [rng.choice(_LOREM_WORDS) for _ in range(n_words)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(rng: random.Random, n_sentences: int = 3) -> str:
    return " ".join(_sentence(rng, rng.randint(8, 18)) for _ in range(n_sentences))


def _lang_for(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.70:
        return "en"
    if r < 0.76:
        return "de"
    if r < 0.82:
        return "fr"
    if r < 0.88:
        return "es"
    if r < 0.91:
        return "zh"
    if r < 0.94:
        return "ja"
    if r < 0.97:
        return "ko"
    if r < 0.98:
        return "my"
    if r < 0.99:
        return "th"
    return "vi"


def _make_html_doc(rng: random.Random, doc_idx: int, lang: str) -> tuple[bytes, str]:
    """Synthetic web page: boilerplate nav/footer + main content blocks."""
    title = _sentence(rng, 4).rstrip(".")
    paras = [_paragraph(rng, rng.randint(2, 4)) for _ in range(rng.randint(3, 8))]
    if lang != "en":
        paras.insert(0, (LANG_SENTENCES[lang] + " ") * 3)
    items = [_sentence(rng, rng.randint(3, 7)).rstrip(".") for _ in range(rng.randint(3, 5))]
    has_table = rng.random() < 0.5
    has_figure = rng.random() < 0.3
    has_code = rng.random() < 0.25
    hallucinated = rng.random() < 0.05

    parts = [
        "<!DOCTYPE html>",
        f"<html><head><title>{title}</title></head><body>",
        '<nav class="main-nav"><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>',
        '<div class="sidebar advert"><a href="/ad1">Buy now</a> <a href="/ad2">Subscribe today for more</a></div>',
        "<main><article>",
        f"<h1>{title}</h1>",
    ]
    parts.append(f"<p>{paras[0]}</p>")
    parts.append(f"<h2>{_sentence(rng, 3).rstrip('.')}</h2>")
    for p in paras[1:3]:
        parts.append(f"<p>{p}</p>")
    parts.append("<ul>" + "".join(f"<li>{it}</li>" for it in items[:3]) + "</ul>")
    if len(items) > 3:
        parts.append("<ol>" + "".join(f"<li>{it}</li>" for it in items[3:]) + "</ol>")
    if has_table:
        parts.append(f"<p>Table {doc_idx % 7 + 1}: Summary of measured values</p>")
        parts.append(
            "<table><tr><th>Metric</th><th>Value</th></tr>"
            + "".join(
                f"<tr><td>{rng.choice(_LOREM_WORDS)}</td><td>{rng.randint(1, 999)}</td></tr>"
                for _ in range(3)
            )
            + "</table>"
        )
    if has_figure:
        parts.append(
            f'<figure><img src="diagram.png" alt="diagram"/><figcaption>Figure {doc_idx % 5 + 1}: '
            f"{_sentence(rng, 5).rstrip('.')}</figcaption></figure>"
        )
    if has_code:
        parts.append("<pre>def main():\n    return 42</pre>")
    parts.append(f"<h3>{_sentence(rng, 2).rstrip('.')}</h3>")
    for p in paras[3:]:
        parts.append(f"<p>{p}</p>")
    if hallucinated:
        parts.append("<p>Based on the image, this section summarizes the remaining findings of the report.</p>")
    parts.append(f"<blockquote>{_paragraph(rng, 1)}</blockquote>")
    parts.append("</article></main>")
    parts.append('<footer class="site-footer"><a href="/terms">Terms</a> <a href="/privacy">Privacy</a> © 2024 Example Corp</footer>')
    parts.append("</body></html>")
    html = "\n".join(parts)
    visible_text = " ".join(paras) + " " + " ".join(items)
    return html.encode("utf-8"), visible_text


def _make_layout_doc(rng: random.Random, doc_idx: int, lang: str) -> tuple[bytes, str]:
    """Synthetic pre-OCR'd layout payload: 3-5 pages, 1275x1650 px geometry
    (test_detection.py:39), with every FIXTURES.md §3 pattern sampled."""
    n_pages = rng.randint(3, 5)
    width, height = 1275.0, 1650.0
    company = rng.choice(["Company Name Inc.", "Acme Industries Ltd.", "Globex Corporation"])
    watermark = rng.choice(["CONFIDENTIAL", "DRAFT", "All Rights Reserved."])
    two_column = rng.random() < 0.3
    pages: list[dict[str, Any]] = []
    texts: list[str] = []

    for page_no in range(1, n_pages + 1):
        elements: list[dict[str, Any]] = []

        def add(kind: str, content: str, x0: float, y0: float, w: float, h: float,
                conf: float = 0.95) -> None:
            elements.append(
                {
                    "type": kind,
                    "content": content,
                    "bbox": [x0, y0, x0 + w, y0 + h],
                    "confidence": round(conf, 2),
                    "font_size": None,
                }
            )
            if kind == "text":
                texts.append(content)

        # repeating header + footer + page number (repeater fixtures).
        # Geometry keeps x-centers inside the body column(s) so gap
        # clustering finds the intended column count, matching the
        # reference's narrow-box fixtures (test_layout_analyzer.py:32-54).
        add("text", company, 60, 10, 300, 20, 0.98)
        heading = _sentence(rng, 3).rstrip(".").upper()
        add("text", heading, 60, 120, 420, 40, 0.96)

        if two_column:
            col_xs = [50.0, 680.0]
            for ci, cx in enumerate(col_xs):
                y = 220.0
                for si in range(rng.randint(3, 5)):
                    content = _sentence(rng, rng.randint(10, 16))
                    if lang != "en" and si == 1 and ci == 0:
                        content = LANG_SENTENCES[lang]
                    add("text", content, cx, y, 450, 22, rng.uniform(0.85, 0.99))
                    y += 60.0
        else:
            y = 220.0
            body_sents = rng.randint(4, 7)
            for si in range(body_sents):
                conf = rng.uniform(0.85, 0.99)
                if si == 2 and rng.random() < 0.35:
                    conf = rng.uniform(0.55, 0.65)  # uncertain band
                content = _sentence(rng, rng.randint(10, 18))
                if lang != "en" and si in (1, 3):
                    content = LANG_SENTENCES[lang]
                add("text", content, 60, y, 500, 22, conf)
                y += 55.0
            # bullet list
            add("text", "• " + _sentence(rng, 5).rstrip("."), 80, y, 440, 20); y += 40
            add("text", f"{rng.randint(1, 9)}. " + _sentence(rng, 4).rstrip("."), 80, y, 440, 20); y += 40
            if rng.random() < 0.5:
                # table + caption within the 100px proximity threshold
                add("text", f"Table {page_no}: Sample measurements", 60, y, 400, 18); y += 30
                add("table", "| Metric | Value |\n|---|---|\n| alpha | 1 |\n| beta | 2 |", 60, y, 500, 120); y += 150
            if rng.random() < 0.4:
                add("figure", "[Figure: 300x200px]", 60, y, 420, 200)
                add("text", f"Figure {page_no}: System diagram overview", 60, y + 90, 400, 18)
                y += 260
            if rng.random() < 0.3:
                add("text", "|||---===", 80, y, 100, 15, 0.2)  # artifact
                y += 30
            if rng.random() < 0.4:
                body_with_ref = _sentence(rng, 9).rstrip(".") + " as discussed [1]."
                add("text", body_with_ref, 60, y, 500, 22); y += 40
                add("text", "[1] This is the footnote content for the reference.", 60, height * 0.86, 500, 14, 0.93)

        # hyphen-broken pair rendered as two lines in one element
        if page_no == 2:
            add("text", "This is a docu-\nment with broken words.", 60, 1300, 500, 44, 0.9)

        add("text", watermark, 80, height * 0.55 if watermark == "DRAFT" else height * 0.93, 220, 18, 0.97)
        add("text", f"Page {page_no} of {n_pages}", 60, height * 0.95, 150, 14, 0.99)

        pages.append({"width": width, "height": height, "elements": elements})

    meta = {
        "title": _sentence(rng, 4).rstrip("."),
        "author": rng.choice(["J. Smith", "A. Nguyen", "M. Müller", ""]),
        "creation_date": f"2023-{rng.randint(1,12):02d}-{rng.randint(1,28):02d}T00:00:00",
    }
    payload = encode_layout({"meta": meta, "pages": pages})
    return payload, " ".join(texts)


def _make_pdf_doc(rng: random.Random, doc_idx: int, lang: str) -> tuple[bytes, str]:
    """Deterministic digital-PDF payload (north_star: 'parses embedded
    PDF/layout bytes into ordered reading-flow spans'): 1-2 pages of
    positioned text drawn with Tf/Td/TL/T*/Tj operators in Flate-compressed
    content streams — the classic digitally-generated shape
    functions/pdftext.py handles."""
    import zlib

    n_pages = rng.randint(1, 2)
    objects: list[bytes] = []
    page_obj_nums = []
    next_obj = 3
    texts: list[str] = []
    for page_no in range(1, n_pages + 1):
        ops = [b"BT /F1 16 Tf 72 720 Td 14 TL"]
        title = f"Document {doc_idx % 97} Section {page_no}"
        texts.append(title)
        ops.append(b"(" + title.encode("latin-1") + b") Tj")
        ops.append(b"/F1 11 Tf 72 690 Td 13 TL")
        for j in range(rng.randint(3, 6)):
            line = _sentence(rng, rng.randint(6, 10))
            if lang != "en" and page_no == 1 and j == 0:
                line = "Latin transliteration sample line."  # keep latin-1 safe
            texts.append(line)
            safe = line.encode("latin-1", errors="replace")
            ops.append(b"(" + safe.replace(b"\\", rb"\\").replace(b"(", rb"\(").replace(b")", rb"\)") + b") Tj T*")
        ops.append(b"ET")
        data = zlib.compress(b"\n".join(ops))
        content_num = next_obj
        objects.append(
            b"%d 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n" % (content_num, len(data))
            + data
            + b"endstream\nendobj\n"
        )
        page_num = next_obj + 1
        objects.append(
            b"%d 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents %d 0 R >>\nendobj\n"
            % (page_num, content_num)
        )
        page_obj_nums.append(page_num)
        next_obj += 2
    kids = b" ".join(b"%d 0 R" % n for n in page_obj_nums)
    info_num = next_obj
    day = doc_idx % 28 + 1
    info = (
        b"%d 0 obj\n<< /Title (Report %d) /Author (Author %d) "
        b"/CreationDate (D:202401%02d090000) >>\nendobj\n"
        % (info_num, doc_idx % 211, doc_idx % 17, day)
    )
    header = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [" + kids + b"] /Count %d >>\nendobj\n" % n_pages
    )
    trailer = b"trailer\n<< /Root 1 0 R /Info %d 0 R >>\n" % info_num
    return header + b"".join(objects) + info + trailer + b"%%EOF", "\n\n".join(texts)


def _make_text_doc(rng: random.Random, lang: str) -> tuple[bytes, str]:
    paras = [_paragraph(rng, rng.randint(2, 4)) for _ in range(rng.randint(3, 6))]
    if lang != "en":
        paras.insert(0, LANG_SENTENCES[lang])
    text = "\n\n".join(paras)
    return text.encode("utf-8"), text


def generate_rows(n_docs: int, seed: int = SEED, start: int = 0) -> list[dict[str, Any]]:
    """n_docs deterministic rows of the documents table, starting at doc
    index ``start`` — per-doc seeded streams make any slice reproducible
    independently of the rest of the corpus."""
    rows: list[dict[str, Any]] = []
    base_ts = dt.datetime(2024, 3, 1, 0, 0, 0)
    for i in range(start, start + n_docs):
        rng = random.Random(seed * 1_000_003 + i)  # per-doc stream → order-independent
        lang = _lang_for(rng)
        kind_roll = rng.random()
        if kind_roll < 0.40:
            payload, text = _make_html_doc(rng, i, lang)
            path_kind = "html"
        elif kind_roll < 0.82:
            payload, text = _make_layout_doc(rng, i, lang)
            path_kind = "layout"
        elif kind_roll < 0.92:
            payload, text = _make_pdf_doc(rng, i, lang)
            path_kind = "pdf"
        else:
            payload, text = _make_text_doc(rng, lang)
            path_kind = "text"

        if rng.random() < 0.30:
            domain = rng.choice(HOT_DOMAINS)  # host-domain skew
        else:
            domain = f"site-{rng.randint(0, COLD_DOMAIN_COUNT):04d}.example.io"
        url = f"https://{domain}/{path_kind}/doc-{i:06d}.html"
        rows.append(
            {
                "url": url,
                "warc_ts": base_ts + dt.timedelta(seconds=i * 37),
                "html": payload,
                "text": text,
                "lang": lang,
            }
        )
    return rows


ROWS_PER_FILE = 500


def write_corpus_parquet(path: str, n_docs: int, seed: int = SEED) -> None:
    """Write the corpus with pyarrow (no Spark needed — usable from pytest).

    Multi-file dataset directory (<= ROWS_PER_FILE rows per file) so the
    Spark scan parallelizes — a single parquet file is one input split and
    serializes the read stage no matter how many cores the job has.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = generate_rows(n_docs, seed)

    def to_table(chunk: list[dict]) -> pa.Table:
        return pa.table(
            {
                "url": [r["url"] for r in chunk],
                "warc_ts": pa.array([r["warc_ts"] for r in chunk], type=pa.timestamp("us")),
                "html": pa.array([r["html"] for r in chunk], type=pa.binary()),
                "text": [r["text"] for r in chunk],
                "lang": [r["lang"] for r in chunk],
            }
        )

    import os

    os.makedirs(path, exist_ok=True)
    for i in range(0, max(len(rows), 1), ROWS_PER_FILE):
        chunk = rows[i : i + ROWS_PER_FILE]
        if chunk:
            pq.write_table(to_table(chunk), os.path.join(path, f"part-{i // ROWS_PER_FILE:05d}.parquet"))
