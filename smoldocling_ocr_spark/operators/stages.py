"""Staged (un-fused) pipeline: element relation + grouped layout analysis.

The production path fuses parse→layout→render into one ``mapInPandas`` stage
(operators/pipeline.py). This module keeps the staged form for operator-level
testing and inspection (SURVEY.md §2.11): the element relation is a real
DataFrame, and layout analysis runs as ``groupBy(url, page).applyInPandas``
(GROUPED_MAP) — the natural Spark shape for per-page algorithms.

Scale note: the staged form shuffles element rows on (url, page) — at 100 TB
that's the expensive plan, which is exactly why production fuses. Keeping
both makes the trade-off observable in ``.explain()``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..functions.confidence import element_confidence
from ..functions.extract import decode_payload
from ..functions.layout import analyze_page

ELEMENTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("elem_idx", T.IntegerType(), False),
        T.StructField("type", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("x0", T.DoubleType(), True),
        T.StructField("y0", T.DoubleType(), True),
        T.StructField("x1", T.DoubleType(), True),
        T.StructField("y1", T.DoubleType(), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("font_size", T.DoubleType(), True),
    ]
)

ANALYZED_SCHEMA = T.StructType(
    ELEMENTS_SCHEMA.fields
    + [
        T.StructField("column_id", T.IntegerType(), True),
        T.StructField("reading_order", T.IntegerType(), True),
        T.StructField("semantic_role", T.StringType(), True),
        T.StructField("role_confidence", T.DoubleType(), True),
        T.StructField("uncertain", T.BooleanType(), True),
    ]
)


def parse_elements(docs: DataFrame) -> DataFrame:
    """documents → one row per element (UDTF-shaped mapInPandas parse)."""

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, payload, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                try:
                    pages, _, _, _ = decode_payload(bytes(payload), text)
                except Exception:
                    continue
                for page_no, elements in enumerate(pages, 1):
                    for idx, e in enumerate(elements):
                        bbox = e.get("bbox") or (None, None, None, None)
                        rows.append(
                            {
                                "url": url,
                                "page": page_no,
                                "elem_idx": idx,
                                "type": e.get("type", "text"),
                                "content": e.get("content"),
                                "x0": bbox[0],
                                "y0": bbox[1] if bbox[1] is not None else e.get("y"),
                                "x1": bbox[2],
                                "y1": bbox[3],
                                "confidence": element_confidence(e),
                                "font_size": e.get("font_size"),
                            }
                        )
            yield pd.DataFrame(rows, columns=[f.name for f in ELEMENTS_SCHEMA.fields])

    return docs.select("url", "html", "text").mapInPandas(parse_batch, schema=ELEMENTS_SCHEMA)


def analyze_layout(elements: DataFrame) -> DataFrame:
    """Per-(url, page) grouped-map layout pass: confidence split → column
    detection → XY-cut → multi-signal roles (layout_analyzer.py:428-493)."""

    out_cols = [f.name for f in ANALYZED_SCHEMA.fields]

    def per_page(pdf: pd.DataFrame) -> pd.DataFrame:
        elems = []
        for row in pdf.itertuples(index=False):
            d = {
                "url": row.url,
                "page": row.page,
                "elem_idx": row.elem_idx,
                "type": row.type,
                "content": row.content,
                "confidence": row.confidence,
                "font_size": row.font_size,
            }
            if row.x0 is not None and not pd.isna(row.x0):
                d["bbox"] = (row.x0, row.y0, row.x1, row.y1)
            else:
                d["y0"] = row.y0
            elems.append(d)
        result = analyze_page(elems)
        rows = []
        for e in result["elements"]:
            bbox = e.get("bbox") or (None, e.get("y0"), None, None)
            rows.append(
                {
                    "url": e["url"],
                    "page": e["page"],
                    "elem_idx": e["elem_idx"],
                    "type": e.get("type"),
                    "content": e.get("content"),
                    "x0": bbox[0],
                    "y0": bbox[1],
                    "x1": bbox[2],
                    "y1": bbox[3],
                    "confidence": e.get("confidence"),
                    "font_size": e.get("font_size"),
                    "column_id": e.get("column_id"),
                    "reading_order": e.get("reading_order"),
                    "semantic_role": e.get("semantic_role"),
                    "role_confidence": e.get("role_confidence"),
                    "uncertain": bool(e.get("uncertain", False)),
                }
            )
        return pd.DataFrame(rows, columns=out_cols)

    return elements.groupBy("url", "page").applyInPandas(per_page, schema=ANALYZED_SCHEMA)

