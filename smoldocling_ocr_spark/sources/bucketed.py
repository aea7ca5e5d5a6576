"""Bucketed tables: co-located joins with ZERO exchange on the join key.

At 10^12 documents the resume anti-join (pending = input ⟕̸ output on url)
re-shuffles both giant relations every run if they are plain parquet. Writing
both tables bucketed by ``url`` into the session catalog pins an identical
hash-partition layout on disk, so Catalyst plans the join with **no Exchange
on either side** — each task zips bucket i of the input with bucket i of the
output. The same layout serves every url-keyed operation for free afterwards
(dedup joins, merge upserts, incremental re-extraction).

The reference has no table-layout story (single-process app over local
files); this is the Spark-native contract the north rule's "resumable from
checkpoint at 10^12-document scale" implies. Bucket count is a deployment
constant (same number on both sides or Spark falls back to shuffling the
mismatched side).

Spark-specific notes:
* bucketing needs the table catalog (``saveAsTable``) — pathless
  ``.parquet()`` writes cannot record bucket metadata
* set ``spark.sql.sources.bucketing.autoBucketedScan.enabled`` false if you
  need the bucketed layout even for scans without joins
* sort within buckets by the key so merge-joins skip the per-task sort too
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.pipeline import resume_filter

BUCKETS = 16


def write_bucketed(df: DataFrame, table: str) -> None:
    """Persist ``df`` as a catalog table bucketed (and sorted) by ``url``,
    replacing any table of that name."""
    (
        df.write.mode("overwrite")
        .bucketBy(BUCKETS, "url")
        .sortBy("url")
        .format("parquet")
        .saveAsTable(table)
    )


def colocated_resume_pending(spark: SparkSession, docs_table: str, extracted_table: str) -> DataFrame:
    """Checkpoint-resume pending set via a co-located left-anti join: when
    both tables are bucketed by url with the same bucket count, the plan has
    no Exchange — bucket i joins bucket i in place."""
    return resume_filter(spark.table(docs_table), spark.table(extracted_table))
