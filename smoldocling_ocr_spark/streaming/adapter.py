"""Structured Streaming adapter for the extraction pipeline.

``readStream`` on a documents-shaped source → the same fused extraction
stage → ``foreachBatch`` sink. Because extraction is stateless per url, no
watermark or state store is required.

Delivery is at-least-once. The checkpoint keeps a clean restart from
re-reading source files an earlier run committed, but the sink is a plain
``mode("append")`` parquet write: a microbatch replayed after a failure
between its write and its checkpoint commit appends its rows a second
time. Nothing de-duplicates the output; a reader that needs one row per
url must de-duplicate on ``url``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.pipeline import extract_documents


def extract_stream(stream_docs: DataFrame) -> DataFrame:
    """Streaming documents DataFrame → streaming extracted DataFrame.

    ``mapInPandas`` is a stateless projection, so the fused pipeline applies
    to a streaming relation unchanged (salting is skipped — repartition of a
    stream would force a shuffle per microbatch; source partitioning rules)."""
    return extract_documents(stream_docs, salt=False)


def start_extract_stream(
    stream_docs: DataFrame, output_path: str, checkpoint_path: str
) -> StreamingQuery:
    """Start the extraction stream writing parquet per microbatch."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(output_path)

    return (
        extract_stream(stream_docs)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
