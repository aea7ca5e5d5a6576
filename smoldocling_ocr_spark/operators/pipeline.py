"""The fused extraction pipeline (documents → extracted markdown).

Rebuild of the reference lifecycle (/root/reference/app.py:240-305 +
structure_engine.py:253-481 + enhanced_pipeline.py:223-257) as one Spark
stage: ``repartition(P, salted hash(url))`` → ``mapInPandas(extract_batch)``.
Parse → layout → noise → captions → render fuse into a single per-partition
Arrow pass so element rows never hit the shuffle (SURVEY.md §4.1 item 4) —
the only shuffle is the explicit salted repartition that breaks host-domain
skew, and the optional resume anti-join.

Scale design notes (100 TB / 10^12 docs):
  * the fused stage is embarrassingly parallel — wall clock scales with
    bytes/core; no stage barrier besides the input exchange
  * payloads over 8 MB are split off (``split_by_tier``) so a handful of
    50 MB documents can be routed to a dedicated low-parallelism pass
    instead of stalling a batch
  * checkpoint-resume is a ``left_anti`` join against the output table on
    url (the reference's md5-memo cache, re-expressed; app.py:242-249)
  * per-partition lineage (docs, bytes, parse failures) needs no second
    input scan: the same fused pass stamps (partition_id, payload_bytes)
    on every row and ``lineage.extraction_lineage`` aggregates the output
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.extract import extract_document

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("document_id", T.StringType(), True),
        T.StructField("markdown", T.StringType(), True),
        T.StructField("method", T.StringType(), True),
        T.StructField("language", T.StringType(), True),
        T.StructField("pages", T.IntegerType(), True),
        T.StructField("elements", T.IntegerType(), True),
        T.StructField("quality_score", T.DoubleType(), True),
        T.StructField("confidence_score", T.DoubleType(), True),
        T.StructField("validation_errors", T.IntegerType(), True),
        T.StructField("validation_warnings", T.IntegerType(), True),
        T.StructField("hallucinations", T.IntegerType(), True),
        T.StructField("gate_passed", T.BooleanType(), True),
        T.StructField("gate_action", T.StringType(), True),
        T.StructField("quality_level", T.StringType(), True),
        T.StructField("captions_linked", T.IntegerType(), True),
        T.StructField("footnotes_linked", T.IntegerType(), True),
        T.StructField("noise_tagged", T.IntegerType(), True),
        T.StructField("parse_failed", T.BooleanType(), True),
        # lineage fields stamped by the same fused pass (north_rule: per-
        # partition doc/parse-failure/byte counts with NO second input scan —
        # lineage is a groupBy(partition_id) over the extracted table)
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("payload_bytes", T.LongType(), True),
    ]
)

_OUT_COLS = [f.name for f in EXTRACTED_SCHEMA.fields]


def extraction_row(
    url: str, warc_ts: Any, payload: bytes | None, text: str | None, partition_id: int
) -> dict[str, Any]:
    """One documents row → one ``EXTRACTED_SCHEMA`` row. A document the core
    cannot extract becomes a ``parse_failed`` row, never a raise (north rule:
    record parse failures in lineage). The fused pass emits it for every
    document of a partition."""
    try:
        res = extract_document(url, warc_ts, bytes(payload), text)
        res["parse_failed"] = False
    except Exception:
        res = {"url": url, "parse_failed": True}
    res["partition_id"] = partition_id
    res["payload_bytes"] = None if payload is None else len(payload)
    return {col: res.get(col) for col in _OUT_COLS}


def _extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched worker: one python process handles whole batches; all
    per-document work happens in the deterministic functions/ core."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx else -1
    for pdf in batches:
        rows = [
            extraction_row(url, warc_ts, payload, text, pid)
            for url, warc_ts, payload, text in zip(pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"])
        ]
        yield pd.DataFrame(rows, columns=_OUT_COLS)


def with_salted_partitioning(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Explicit salted repartition on hash(url) — breaks host-domain skew
    while keeping each document on exactly one partition (salt is a pure
    function of url, so groups stay intact; SURVEY.md §7.3 item 4).

    The default width is one task per core: a single wave of Python tasks.
    Each Python task pays a fixed start-up of about 0.2 s whatever its size
    (pyspark's per-task ``setup_spark_files`` calls
    ``importlib.invalidate_caches()``, which re-reads the directory of
    ``pyspark.zip`` once per cached zipimporter). On a 4-core host, 32
    trivial ``mapInPandas`` tasks took 1.9–2.3 s against 0.08–0.18 s for a
    JVM-only noop job. Two tasks per core run the write in two waves and pay
    that start-up twice per core: one wave took the 1,000-doc extract job
    from 301 to 373 docs/s (medians of 10 pairs), and the 6,000-doc write
    from 7.05 s to 6.39 s (medians of 6)."""
    if num_partitions is None:
        num_partitions = docs.sparkSession.sparkContext.defaultParallelism
    # full-entropy salted hash as the partition key — repartition applies its
    # own hash % P on top, so pre-reducing with pmod(…, P) here would throw P
    # distinct values into P bins (balls-in-bins collisions: empty partitions
    # + doubled ones). Leave the 64-bit value intact.
    key = F.xxhash64(F.col("url"), F.lit(0x5D0C))
    return docs.repartition(num_partitions, key)


def split_by_tier(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(normal, oversized) — route payloads over 8 MB to a dedicated
    low-parallelism pass. A null payload has no size to vouch for it and
    goes with the oversized side."""
    oversized = F.coalesce(F.length(F.col("html")) > 8 * 1024 * 1024, F.lit(True))
    return docs.filter(~oversized), docs.filter(oversized)


def resume_filter(docs: DataFrame, extracted: DataFrame | None) -> DataFrame:
    """Checkpoint-resume: drop urls already present in the output table.

    The broadcast hint is deliberately absent — at 10^12-document scale both
    sides are huge; AQE picks the join strategy, and the skew-join config
    handles hot domains."""
    if extracted is None:
        return docs
    return docs.join(extracted.select("url"), on="url", how="left_anti")


def extract_documents(
    docs: DataFrame,
    num_partitions: int | None = None,
    already_extracted: DataFrame | None = None,
    salt: bool = True,
) -> DataFrame:
    """documents(url, warc_ts, html, text, lang) → extracted markdown table."""
    pending = resume_filter(docs.select("url", "warc_ts", "html", "text"), already_extracted)
    if salt:
        pending = with_salted_partitioning(pending, num_partitions)
    return pending.mapInPandas(_extract_batch, schema=EXTRACTED_SCHEMA)
