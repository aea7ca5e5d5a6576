"""spark-submit entry point for the extraction pipeline.

Usage (cluster):
    python jobs/make_pyfiles.py dist/deps.zip
    spark-submit --py-files dist/deps.zip jobs/extract_job.py \
        --input  <documents table path/URI> \
        --output <extracted table path>    \
        --lineage <lineage table path>     \
        [--resume]          # anti-join urls already present in --output

The package is pure Python (stdlib + pyspark/pandas/numpy which executors
already have), so the deps zip is all that ships — no native wheels
(SURVEY.md §4.1 item 7).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description="extract documents to markdown")
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--lineage", default=None)
    parser.add_argument("--resume", action="store_true")
    parser.add_argument("--cores", default=None, help="local[N] cores (local mode only)")
    args = parser.parse_args(argv)

    import uuid

    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F, types as T

    from smoldocling_ocr_spark.operators.lineage import extraction_lineage, extraction_metrics
    from smoldocling_ocr_spark.operators.pipeline import EXTRACTED_SCHEMA, extract_documents, split_by_tier
    from smoldocling_ocr_spark.session import get_spark

    spark = get_spark(app_name="extract_job", cores=args.cores)

    # every read of --output uses the schema this job writes: no footer-merge
    # job (mergeSchema), and columns missing from parts that an older package
    # version appended read as null, as they would under mergeSchema
    output_schema = T.StructType(
        EXTRACTED_SCHEMA.fields
        + [T.StructField("run_id", T.StringType()), T.StructField("extract_pass", T.StringType())]
    )

    docs = spark.read.parquet(args.input)
    already = None
    if args.resume:
        try:
            already = spark.read.schema(output_schema).parquet(args.output).select("url")
        except AnalysisException as e:
            # first run — nothing extracted yet. Any other error (an
            # unreadable output) must fail the job, not re-extract everything
            if e.getCondition() != "PATH_NOT_FOUND":
                raise

    # TaskContext partition ids restart at 0 per pass and per run; the
    # (run_id, extract_pass) stamp keeps lineage rows from distinct
    # passes/runs distinguishable under groupBy
    run_id = uuid.uuid4().hex[:12]

    normal, oversized = split_by_tier(docs)
    extracted = (
        extract_documents(normal, already_extracted=already)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("extract_pass", F.lit("normal"))
    )
    extracted.write.mode("append").parquet(args.output)

    # dedicated low-parallelism pass for oversized payloads (north_rule)
    if not oversized.isEmpty():
        big = (
            extract_documents(oversized, num_partitions=4, already_extracted=already)
            .withColumn("run_id", F.lit(run_id))
            .withColumn("extract_pass", F.lit("oversized"))
        )
        big.write.mode("append").parquet(args.output)

    result = spark.read.schema(output_schema).parquet(args.output)
    if args.lineage:
        # lineage over the WRITTEN table: certifies exactly which partitions
        # committed (north_rule checkpoint-resume), no second input scan.
        # overwrite, not append — the relation is derived from the FULL
        # output each run; appending would double-count rows already covered
        # by the previous run's aggregates
        extraction_lineage(result).write.mode("overwrite").parquet(args.lineage)

    extraction_metrics(result).show(truncate=False)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
