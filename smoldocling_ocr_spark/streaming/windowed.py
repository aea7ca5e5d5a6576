"""Event-time windowed aggregation with a watermark.

The reference app is batch-only (SURVEY.md §2.10), so the extraction
pipeline itself needs no state store. This module covers the engine's
streaming-aggregation surface for metrics feeds: tumbling event-time
windows over the lineage/metrics stream with late-data handling, the
canonical `readStream → withWatermark → window → agg` shape.

State-store sizing note (100 TB): the state per group is one count row per
(window, event_type); the watermark bounds retained windows, so state is
O(active_windows × types), independent of input volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

WINDOW = "10 minutes"
WATERMARK = "20 minutes"


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Tumbling WINDOW counts + value sums per event_type over ``ts``, with
    late data bounded by WATERMARK.

    Works identically on a batch or streaming relation (withWatermark is a
    no-op for batch), so the batch form doubles as the correctness oracle
    for the streaming run in tests.
    """
    # watermarks require TIMESTAMP (ltz); parquet sources often carry NTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window(F.col("ts"), WINDOW).alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("value_sum"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "value_sum",
        )
    )
