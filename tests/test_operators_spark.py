"""Spark operator tests: layout role counts, streaming adapter,
multimodal plumbing, figure detection, resume, lineage and payload tiers."""

from __future__ import annotations

import datetime as dt
import struct

import pytest
from pyspark.sql import Row, functions as F


# cc_docs fixture lives in conftest.py (shared with test_job_cli.py)


def test_role_distribution_matches_plain_python(spark, cc_docs):
    """The catalog's role counts equal a plain-Python Counter of
    ``analyze_page`` roles over the decoded /layout/ payloads, and each
    page's reading order starts at 1 and stays within n + 1 (the
    low-confidence postfix may share rank n + 1)."""
    from collections import Counter

    from smoldocling_ocr_spark.functions.extract import decode_payload
    from smoldocling_ocr_spark.functions.layout import analyze_page
    from smoldocling_ocr_spark.plans.catalog import spark_queries

    want = Counter()
    for row in cc_docs.filter(F.col("url").contains("/layout/")).select("html", "text").collect():
        pages, _, _, _ = decode_payload(bytes(row["html"]), row["text"])
        for page in pages:
            elements = analyze_page(page)["elements"]
            want.update(e["semantic_role"] for e in elements)
            ranks = [e["reading_order"] for e in elements]
            assert min(ranks) == 1 and max(ranks) <= len(ranks) + 1
    assert "paragraph" in want and "heading" in want

    got = {r["semantic_role"]: r["n"] for r in spark_queries()["role_distribution"](spark, "/root/testdata/sf0.001").collect()}
    assert got == dict(want)


def test_role_distribution_reads_malformed_confidence(spark):
    """Confidences "0.9", "abc", True and None read through the shared
    helper, so the role pass completes over them and counts every element."""
    from smoldocling_ocr_spark.functions.layoutcodec import encode_layout
    from smoldocling_ocr_spark.plans.catalog import _role_counts

    elements = [
        {"type": "text", "content": f"line {i} of the page", "bbox": [60, 100 + 40 * i, 400, 120 + 40 * i], "confidence": c}
        for i, c in enumerate(["0.9", "abc", True, None])
    ]
    payload = encode_layout({"meta": {}, "pages": [{"width": 612, "height": 792, "elements": elements}]})
    docs = spark.createDataFrame([Row(url="https://x/conf", html=bytearray(payload), text=None)], "url string, html binary, text string")
    assert sum(r["n"] for r in _role_counts(docs).collect()) == 4


def test_streaming_foreachbatch(spark, cc_docs, tmp_path):
    from smoldocling_ocr_spark.streaming.adapter import start_extract_stream

    src = str(tmp_path / "src")
    cc_docs.limit(6).write.parquet(src)
    stream = spark.readStream.schema(cc_docs.schema).parquet(src)
    q = start_extract_stream(
        stream, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 6
    assert "markdown" in out.columns


def test_decode_image_unsupported_raises():
    """Only PNG, BMP, TIFF and WebP-lossless decode; a JPEG (truncated or
    arithmetic-coded SOF10), a GIF, a "BM" too short to sniff as BMP or
    garbage is a declared boundary that raises NotImplementedError, never a
    bogus array or a struct.error."""
    from smoldocling_ocr_spark.operators.multimodal import decode_image

    for payload in (
        b"\xff\xd8\xff\xe0" + b"\x00" * 64,
        b"\xff\xd8\xff\xca" + struct.pack(">H", 11)
        + struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]),
        b"GIF89a" + struct.pack("<HH", 32, 16) + b"\0" * 50,
        b"BM" + bytes(10),
        b"\x00\x01garbage" * 20,
    ):
        with pytest.raises(NotImplementedError):
            decode_image(payload)


def _encode_png(px, filters):
    """Minimal PNG encoder for test fixtures: 8-bit RGB, one chosen filter
    type per row (exercises every unfilter branch in the decoder)."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = px.shape
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int16)
    for y, f in zip(range(h), filters):
        line = px[y].reshape(-1).astype(np.int16)
        out = line.copy()
        for x in range(w * ch):
            a = int(line[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            if f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            else:
                pred = 0
            out[x] = (int(line[x]) - pred) & 0xFF
        raw += bytes([f]) + bytes(out.astype(np.uint8))
        prev = line

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_real():
    """The PNG decode path is REAL (stdlib zlib + unfiltering): pixel-exact
    round-trip through an independently-written encoder, one row per filter
    type 0-4."""
    import numpy as np

    from smoldocling_ocr_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    for filters in ([0, 1, 2, 3, 4], [4, 4, 4, 4, 4], [0, 0, 0, 0, 0]):
        data = _encode_png(px, filters)
        got = decode_image(data)
        assert got.shape == (5, 7, 3)
        assert np.array_equal(got, px), f"filters={filters}"


def test_decode_bmp_real():
    import numpy as np
    import struct

    from smoldocling_ocr_spark.operators.multimodal import decode_image, sniff_media

    rng = np.random.default_rng(4)
    px = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        line = px[y, :, ::-1].tobytes()  # RGB → BGR
        rows += line + b"\x00" * (stride - len(line))
    header = b"BM" + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    got = decode_image(header + dib + rows)
    assert np.array_equal(got, px)
    # sniffed as BMP but cut inside the header fields: a declared error
    truncated = (header + dib)[:30]
    assert sniff_media(truncated) == "bmp"
    with pytest.raises(ValueError, match="truncated BMP header"):
        decode_image(truncated)


def test_occupancy_grid_figures():
    from smoldocling_ocr_spark.functions.figures import detect_figure_regions

    # text fills the page except a 200x200 hole at (300..500, 300..500)
    boxes = []
    for y in range(0, 800, 50):
        for x in range(0, 800, 50):
            if 300 <= x < 500 and 300 <= y < 500:
                continue
            boxes.append((x, y, x + 50, y + 50))
    regions = detect_figure_regions(800, 800, boxes)
    assert len(regions) == 1
    assert regions[0]["bbox"] == (300, 300, 500, 500)
    assert regions[0]["content"] == "[Figure: 200x200px]"
    # no text at all → no regions (reference early-exit)
    assert detect_figure_regions(800, 800, []) == []


def test_resume_and_lineage(spark, cc_docs):
    from smoldocling_ocr_spark.operators.lineage import extraction_metrics
    from smoldocling_ocr_spark.operators.pipeline import extract_documents

    extracted = extract_documents(cc_docs.limit(10), num_partitions=4).cache()
    metrics = extraction_metrics(extracted).collect()[0]
    assert metrics["docs"] == 10
    assert metrics["parse_failures"] == 0


def test_extraction_lineage_same_pass(spark, cc_docs):
    """north_rule lineage: the fused pass stamps partition_id/payload_bytes,
    so per-partition doc/parse-failure/byte counts come from a plain agg of
    the extracted table — including failure counts per split."""
    import datetime as dt
    from pyspark.sql import Row
    from smoldocling_ocr_spark.operators.lineage import extraction_lineage
    from smoldocling_ocr_spark.operators.pipeline import extract_documents

    bad = spark.createDataFrame(
        [Row(url="https://x/corrupt", warc_ts=dt.datetime(2024, 1, 1),
             html=bytearray(b"DOCLAYv1\n{oops"), text="", lang="en")]
    )
    docs = cc_docs.limit(9).unionByName(bad)
    extracted = extract_documents(docs, num_partitions=4).cache()
    rows = extraction_lineage(extracted).collect()
    assert sum(r["doc_count"] for r in rows) == 10
    assert sum(r["parse_failure_count"] for r in rows) == 1
    assert sum(r["bytes_processed"] for r in rows) > 0
    assert all(r["partition_id"] >= 0 for r in rows)
    assert all(r["min_url"] <= r["max_url"] for r in rows)


def test_pdf_parse_failure_counted_in_lineage(spark, cc_docs):
    """A corrupt %PDF- payload routes to the text fallback with the
    DISTINCT pdf_parse_failed method (extraction succeeds, parse_failed
    stays false) and lineage counts it separately from hard failures
    (VERDICT r3 task 5)."""
    import datetime as dt
    from pyspark.sql import Row
    from smoldocling_ocr_spark.operators.lineage import extraction_lineage, extraction_metrics
    from smoldocling_ocr_spark.operators.pipeline import extract_documents

    bad_pdf = spark.createDataFrame(
        [Row(url="https://x/corrupt.pdf", warc_ts=dt.datetime(2024, 1, 1),
             html=bytearray(b"%PDF-1.4\nnot a real pdf"), text="salvaged text body",
             lang="en")]
    )
    docs = cc_docs.limit(9).unionByName(bad_pdf)
    extracted = extract_documents(docs, num_partitions=4).cache()
    row = extracted.filter("url = 'https://x/corrupt.pdf'").collect()[0]
    assert row["method"] == "pdf_parse_failed"
    assert row["parse_failed"] is False  # routed, not lost
    assert "salvaged text body" in row["markdown"]
    rows = extraction_lineage(extracted).collect()
    assert sum(r["pdf_parse_failure_count"] for r in rows) == 1
    assert sum(r["parse_failure_count"] for r in rows) == 0
    metrics = extraction_metrics(extracted).collect()[0]
    assert metrics["pdf_parse_failures"] == 1 and metrics["parse_failures"] == 0


def test_corrupt_payload_captured(spark):
    from smoldocling_ocr_spark.operators.pipeline import extract_documents

    bad = spark.createDataFrame(
        [Row(url="https://x/bad", warc_ts=dt.datetime(2024, 1, 1), html=bytearray(b"DOCLAYv1\n{oops"), text="", lang="en")]
    )
    out = extract_documents(bad, salt=False).collect()
    assert out[0]["parse_failed"] is True


def test_oversized_payload_tier_routing(spark, cc_docs):
    """A >8MB payload must route to the oversized side of split_by_tier and
    still extract (text-fallback path) in the dedicated low-parallelism
    pass; normal docs are untouched."""
    import datetime as dt
    from pyspark.sql import Row
    from smoldocling_ocr_spark.operators.pipeline import extract_documents, split_by_tier

    giant = spark.createDataFrame(
        [
            Row(
                url="https://giant.example.com/big",
                warc_ts=dt.datetime(2024, 1, 1),
                html=bytearray(b"x" * (9 * 1024 * 1024)),
                text="fallback text for the oversized document. " * 8,
                lang="en",
            )
        ]
    )
    docs = cc_docs.limit(4).unionByName(giant)
    normal, oversized = split_by_tier(docs)
    assert normal.count() == 4
    big = oversized.collect()
    assert len(big) == 1 and big[0]["url"] == "https://giant.example.com/big"
    out = extract_documents(oversized, salt=False).collect()
    assert len(out) == 1 and out[0]["markdown"]


def test_null_payload_routes_to_oversized_pass(spark):
    """A null payload has no size to vouch for it: split_by_tier sends it to
    the oversized side, and extracting it yields a parse_failed row."""
    from pyspark.sql import types as T
    from smoldocling_ocr_spark.operators.pipeline import extract_documents, split_by_tier

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    docs = spark.createDataFrame(
        [
            ("https://x/null", dt.datetime(2024, 1, 1), None, None, "en"),
            ("https://x/small", dt.datetime(2024, 1, 1), bytearray(b"short text"), "short text", "en"),
        ],
        schema,
    )
    normal, oversized = split_by_tier(docs)
    assert [r["url"] for r in normal.collect()] == ["https://x/small"]
    assert [r["url"] for r in oversized.collect()] == ["https://x/null"]
    out = extract_documents(oversized, salt=False).collect()
    assert len(out) == 1 and out[0]["parse_failed"] is True and out[0]["payload_bytes"] is None


def test_empty_input_yields_empty_output(spark, cc_docs):
    from smoldocling_ocr_spark.operators.pipeline import extract_documents

    out = extract_documents(cc_docs.limit(0))
    assert out.count() == 0
    # schema survives the empty path (Arrow empty-batch handling)
    assert "markdown" in out.columns and "parse_failed" in out.columns


def test_extraction_lineage_run_pass_discriminators(spark, cc_docs):
    """TaskContext partition ids restart at 0 per pass/run; when the table
    carries (run_id, extract_pass) stamps the lineage groupBy must keep
    same-numbered partitions from different passes apart (ADVICE r01)."""
    from smoldocling_ocr_spark.operators.lineage import extraction_lineage
    from smoldocling_ocr_spark.operators.pipeline import extract_documents

    # cache so both union branches reuse the SAME materialized rows (a live
    # union would renumber the second branch's partitions stage-wide)
    base = extract_documents(cc_docs.limit(8), num_partitions=2).cache()
    base.count()
    both = (
        base.withColumn("run_id", F.lit("r1")).withColumn("extract_pass", F.lit("normal"))
        .unionByName(
            base.withColumn("run_id", F.lit("r1")).withColumn("extract_pass", F.lit("oversized"))
        )
    )
    rows = extraction_lineage(both).collect()
    assert {"run_id", "extract_pass", "partition_id"} <= set(rows[0].asDict())
    keys = [(r["run_id"], r["extract_pass"], r["partition_id"]) for r in rows]
    assert len(keys) == len(set(keys))
    # same partition_id appears once per pass, never merged
    passes_per_pid = {}
    for r in rows:
        passes_per_pid.setdefault(r["partition_id"], set()).add(r["extract_pass"])
    assert any(len(v) == 2 for v in passes_per_pid.values())
    assert sum(r["doc_count"] for r in rows) == 16


def test_extraction_lineage_matches_global_sort(spark, cc_docs):
    """The lineage relation is sorted inside one partition; its rows, their
    order and its schema equal the global ``orderBy`` formulation on a
    two-run, two-pass input."""
    from smoldocling_ocr_spark.operators.lineage import extraction_lineage
    from smoldocling_ocr_spark.operators.pipeline import extract_documents

    base = extract_documents(cc_docs.limit(8), num_partitions=2).cache()
    base.count()
    stamped = [
        base.withColumn("run_id", F.lit(run)).withColumn("extract_pass", F.lit(pass_))
        for run in ("r2", "r1")
        for pass_ in ("oversized", "normal")
    ]
    both = stamped[0]
    for df in stamped[1:]:
        both = both.unionByName(df)
    keys = ["run_id", "extract_pass", "partition_id"]
    want = (
        both.groupBy(*keys)
        .agg(
            F.count("*").alias("doc_count"),
            F.sum(F.when(F.col("parse_failed"), 1).otherwise(0)).alias("parse_failure_count"),
            F.sum(F.when(F.col("method") == "pdf_parse_failed", 1).otherwise(0)).alias(
                "pdf_parse_failure_count"
            ),
            F.sum("payload_bytes").alias("bytes_processed"),
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
        )
        .orderBy(*keys)
    )
    got = extraction_lineage(both)
    assert got.schema == want.schema
    rows = got.collect()
    assert len(rows) == 8
    assert rows == want.collect()
    base.unpersist()


def test_scan_path_emits_grid_figures_in_flow():
    """Grid-detected figure regions reach the markdown on the scan path:
    appended AFTER layout analysis with no reading_order (structure_engine.py
    :384-411), so the (reading_order or 0, y) render sort places them first
    on their page. Before them, each page holds exactly analyze_page's
    ordering (its roles aside), with the same column count."""
    from smoldocling_ocr_spark.functions.extract import extract_document, decode_payload, run_layout_analysis
    from smoldocling_ocr_spark.sources.corpus import generate_rows
    from smoldocling_ocr_spark.functions import layout, layoutcodec

    rows = [r for r in generate_rows(60) if layoutcodec.is_layout_payload(bytes(r["html"]))]
    assert rows
    r = rows[0]
    res = extract_document(r["url"], r["warc_ts"], bytes(r["html"]), r["text"])
    assert res["method"] == "layout_ocr"
    md = res["markdown"]
    assert "[Figure:" in md
    # the grid figure renders before the first reading-ordered element
    page1 = md.split("<!-- page:1 -->")[1].split("<!-- page:2 -->")[0]
    assert page1.index("role:figure") < page1.index("reading-order:1")

    # the fused layout pass is layout.analyze_page's ordering without its
    # roles: on every layout and PDF page, the elements before the appended
    # grid figures match analyze_page's in order, reading_order and every
    # other field, and the column count is the same
    n_pages = 0
    for r in generate_rows(600):
        pages, dims, _, method = decode_payload(bytes(r["html"]), r["text"])
        if method not in ("layout_ocr", "pdf_text"):
            continue
        want_pages, _, _, _ = decode_payload(bytes(r["html"]), r["text"])
        got, ncol = run_layout_analysis(pages, page_dims=dims)
        want_ncol = 0
        for got_page, want_page in zip(got, want_pages, strict=True):
            if not (want_page and all(e.get("bbox") for e in want_page)):
                assert got_page == want_page
                want_ncol = max(want_ncol, 1)
                continue
            result = layout.analyze_page(want_page)
            want_ncol = max(want_ncol, result["column_count"])
            want = [
                {k: v for k, v in e.items() if k not in ("semantic_role", "role_confidence")}
                for e in result["elements"]
            ]
            assert got_page[: len(want)] == want
            grid = got_page[len(want):]
            assert all(e["type"] == "figure" and "reading_order" not in e for e in grid)
            n_pages += 1
        assert ncol == want_ncol
    assert n_pages > 100


def test_exif_entry_sized_by_tiff_type():
    """An SSHORT (type 8) entry with count 3 holds 6 bytes, more than fit in
    the entry, so its value is read from the offset the entry holds."""
    from smoldocling_ocr_spark.functions.imagedec import ifd_entries

    value = struct.pack("<3h", -1, 2, -3)
    ifd0 = struct.pack("<H", 1) + struct.pack("<HHII", 0x0112, 8, 3, 26) + struct.pack("<I", 0)
    tiff = b"II*\x00" + struct.pack("<I", 8) + ifd0 + value
    assert len(tiff) == 26 + len(value)
    assert list(ifd_entries(tiff, 8, "<")) == [(0x0112, 8, 3, value)]


def test_cluster_conf_profile():
    from smoldocling_ocr_spark.session import cluster_conf

    conf = cluster_conf(executors=1000, executor_cores=8)
    assert conf["spark.sql.shuffle.partitions"] == str(2 * 1000 * 8)
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.speculation"] == "true"
    # every value must be a string (spark-submit --conf k=v form)
    assert all(isinstance(v, str) for v in conf.values())


def test_streaming_restart_exactly_once(spark, cc_docs, tmp_path):
    """Checkpointed restart: a second availableNow run over the same
    checkpoint processes ONLY files that arrived after the first run —
    no re-extraction, no duplicate urls in the sink (the streaming form of
    the north-rule checkpoint-resume contract)."""
    import os

    from smoldocling_ocr_spark.streaming.adapter import start_extract_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    rows = cc_docs.limit(10).collect()
    first, second = rows[:6], rows[6:]
    spark.createDataFrame(first).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(cc_docs.schema).parquet(src)
    q = start_extract_stream(stream, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 6

    # late arrivals land in the same source directory
    spark.createDataFrame(second).coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(cc_docs.schema).parquet(src)
    q2 = start_extract_stream(stream2, out, ckpt)
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == 10, "restart must process only the new files"
    assert got.select("url").distinct().count() == 10


def test_span_dedup_owner_encoding_overflow_raises(spark):
    """A document with pos >= owner_enc would silently collide owner keys
    (doc_id*enc+pos) and corrupt keep/drop decisions — the encoding must
    fail loudly instead (ADVICE r5)."""
    from smoldocling_ocr_spark.operators.dedup import span_dedup_frame

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o")], ["doc_id", "text"]
    )
    # 15 words -> 5 spans at span=3; owner_enc=4 overflows at pos 4
    with pytest.raises(Exception) as ei:
        span_dedup_frame(docs, span=3, owner_enc=4).collect()
    assert "overflows owner encoding" in str(ei.value)
    # within bounds the same corpus dedups fine
    ok = span_dedup_frame(docs, span=3, owner_enc=8).collect()
    assert ok[0]["kept_spans"] == 5 and ok[0]["removed_spans"] == 0
