"""spark-submit entry point for the corpus-curation pipeline.

Chains the training-data operators over a documents table the way a real
pretraining-data rebuild does, writing one parquet table per stage so every
stage is independently resumable and auditable:

    components  exact/near-dup clustering (one label per duplicate cluster)
    curated     one survivor per component, minus the docs that overlap
                the benchmark set (decontamination), fall outside the
                Gopher-style word-count band (cheap quality gate) or lose
                the per-language md5-threshold downsampling
    sequences   chunk + pack: training sequences with packing manifest

Each stage reads its predecessor's WRITTEN table, never its lazy plan: the
survivor join reads ``components`` and chunking reads ``curated``, so no
write re-runs the clustering, the decontamination scan or a sort that an
earlier write already paid for.

The stages are the catalog's corpus operators (``operators.corpusops``):
``connected_components``, ``benchmark_hits`` (the ``decontamination_scan``
core), ``stratified_sample`` (``stratified_sample_by_lang``) and
``packed_chunks`` (``sequence_packing``) — the job composes them and owns
only the survivor choice, the benchmark hold-out and the word-count gate.

Usage (cluster):
    python jobs/make_pyfiles.py dist/deps.zip
    spark-submit --py-files dist/deps.zip jobs/curate_job.py \
        --input  <documents table path> \
        --output <curated output dir>   \
        [--skip-decontamination] [--skip-sampling]

Every decision in the pipeline is deterministic (md5 laws, min-owner
clustering), so a re-run over the same input produces byte-identical
outputs — the property checkpoint-resume at 10^12 docs depends on.
"""

from __future__ import annotations

import argparse


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description="curate a documents corpus")
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--skip-decontamination", action="store_true")
    parser.add_argument("--skip-sampling", action="store_true")
    parser.add_argument("--min-words", type=int, default=3)
    parser.add_argument("--cores", default=None, help="local[N] cores (local mode only)")
    args = parser.parse_args(argv)

    from pyspark.sql import functions as F

    from smoldocling_ocr_spark.operators.corpusops import (
        benchmark_hits,
        connected_components,
        is_bench,
        packed_chunks,
        stratified_sample,
    )
    from smoldocling_ocr_spark.session import get_spark, owned_blocks

    spark = get_spark(app_name="curate_job", cores=args.cores)
    docs = spark.read.parquet(args.input)
    out = args.output.rstrip("/")

    def write_table(df, name: str, *partition_cols: str):
        """Write one stage's table and read it back with the written schema
        (a partitionBy directory holding no files has none to infer)."""
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(f"{out}/{name}")
        return spark.read.schema(df.schema).parquet(f"{out}/{name}")

    # 1. duplicate clustering -> keep the component-min doc (the survivor);
    # the write is the action that reads clustering's checkpoints
    with owned_blocks(spark):
        comps = write_table(connected_components(docs), "components")
    survivors = docs.join(
        comps.filter(F.col("doc_id") == F.col("component")).select("doc_id"), "doc_id"
    )

    # 2. decontamination: drop docs sharing any benchmark 5-gram. The
    # benchmark split is held out of the training corpus UNCONDITIONALLY
    # (r6, ADVICE r5: --skip-decontamination used to ship the held-out
    # benchmark docs); the flag skips only the n-gram overlap scan, whose
    # benchmark index comes from ALL input docs, so a benchmark doc removed
    # by duplicate clustering still contaminates its surviving twin.
    survivors = survivors.filter(~is_bench())
    if not args.skip_decontamination:
        survivors = survivors.join(benchmark_hits(survivors, docs), "doc_id", "left_anti")

    # 3. cheap quality gate (full Gopher bank lives in textstats; the word
    # band is the stage-gate form)
    # count WORDS, not split fragments: consecutive/leading spaces yield
    # empty strings that must not pass the gate
    survivors = survivors.filter(
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != "")) >= args.min_words
    )

    # 4. per-language deterministic downsampling
    if not args.skip_sampling:
        survivors = stratified_sample(survivors)

    curated = write_table(survivors, "curated")

    # 5. chunk + pack into training sequences
    sequences = write_table(packed_chunks(curated), "sequences", "shard")

    counts = {
        "input_docs": docs.count(),
        "curated_docs": curated.count(),
        "sequences_rows": sequences.count(),
    }
    print(counts)
    spark.stop()


if __name__ == "__main__":
    main()
