"""Per-partition lineage/metrics emission (north_rule checkpoint contract).

The reference tracks per-conversion stats in usage_stats.json
(/root/reference/app.py:317,351; utils/formatters.py:104-132); at cluster
scale that becomes a metrics relation with one row per task partition:
(partition_id, doc_count, parse_failure_count, bytes_processed, ...),
committed alongside the output so a restarted job can prove which input
splits completed and anti-join the rest (exact checkpoint-resume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def extraction_lineage(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage from the extracted table itself — the fused
    pass stamps (partition_id, payload_bytes, parse_failed) on every row, so
    the north-rule lineage relation (split id, doc count, parse-failure
    count, bytes processed) is a plain hash aggregate with NO second scan of
    the input. Computed over the *written* output it also certifies exactly
    which partitions committed (checkpoint-resume proof).

    TaskContext partition ids restart at 0 for every pass and every run, so
    when the table carries run/pass discriminators (stamped by
    jobs/extract_job.py) they join the grouping key — otherwise rows from the
    normal and oversized passes (or two resume runs) would conflate under the
    same partition_id.

    The relation holds one row per task partition, so it is sorted in a
    single partition: a global ``orderBy`` would add a range-partition
    sampling job and a second shuffle for the same rows in the same order."""
    keys = [c for c in ("run_id", "extract_pass") if c in extracted.columns] + ["partition_id"]
    return (
        extracted.groupBy(*keys)
        .agg(
            F.count("*").alias("doc_count"),
            F.sum(F.when(F.col("parse_failed"), 1).otherwise(0)).alias("parse_failure_count"),
            # PDFs whose digital parse failed and were ROUTED to the text
            # fallback (extraction still succeeded) — distinct from hard
            # parse_failed rows, per the north-rule failure accounting
            F.sum(F.when(F.col("method") == "pdf_parse_failed", 1).otherwise(0)).alias(
                "pdf_parse_failure_count"
            ),
            F.sum("payload_bytes").alias("bytes_processed"),
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
        )
        .coalesce(1)
        .sortWithinPartitions(*keys)
    )


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Aggregate job metrics over the extracted table (relational — one pass)."""
    return extracted.agg(
        F.count("*").alias("docs"),
        F.sum(F.when(F.col("parse_failed"), 1).otherwise(0)).alias("parse_failures"),
        F.sum(F.when(F.col("method") == "pdf_parse_failed", 1).otherwise(0)).alias(
            "pdf_parse_failures"
        ),
        F.sum("pages").alias("pages"),
        F.sum("elements").alias("elements"),
        F.avg("quality_score").alias("avg_quality"),
        F.avg("confidence_score").alias("avg_confidence"),
        F.sum(F.when(F.col("gate_passed"), 1).otherwise(0)).alias("gate_passed_docs"),
        F.sum("captions_linked").alias("captions_linked"),
        F.sum("footnotes_linked").alias("footnotes_linked"),
        F.sum("noise_tagged").alias("noise_tagged"),
    )
