"""Python UDTF surface: run the extractor from plain SQL.

Spark 4's Python UDTFs make the whole pipeline callable as a lateral table
function, so a SQL-only user can extract without touching the DataFrame
API::

    SELECT e.url, e.method, e.quality_score
    FROM cc_documents AS t,
         LATERAL extract_doc(t.url, t.warc_ts, t.html, t.text) AS e

This is the convenience surface — the perf path stays the Arrow-batched
``operators.pipeline.extract_documents`` (mapInPandas, one fused stage).
The UDTF evaluates row-at-a-time per input row (Arrow-optimized transfer,
but no batch fusion), which is fine for ad-hoc SQL and wrong for the 100 TB
job; the docstring IS the guidance.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf

EXTRACT_DOC_SCHEMA = (
    "url string, markdown string, method string, language string, "
    "pages int, elements int, quality_score double, confidence_score double, "
    "gate_passed boolean, parse_failed boolean"
)


# the row fields the UDTF emits, in schema order
_FIELDS = [column.split()[0] for column in EXTRACT_DOC_SCHEMA.split(", ")]


@udtf(returnType=EXTRACT_DOC_SCHEMA)
class ExtractDoc:
    """One documents-row → one extracted row (parse failures captured)."""

    def eval(self, url: str, warc_ts, html, text: str):  # noqa: ANN001
        from ..operators.pipeline import extraction_row

        row = extraction_row(url, warc_ts, html, text)
        yield tuple(row[name] for name in _FIELDS)


def register_extract_udtf(spark: SparkSession) -> str:
    name = "extract_doc"
    spark.udtf.register(name, ExtractDoc)
    return name
