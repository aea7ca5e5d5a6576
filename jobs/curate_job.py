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

    from pyspark.sql import Window as W, functions as F

    from smoldocling_ocr_spark.operators.corpusops import (
        BENCH_MOD,
        BENCH_REM,
        DECON_NGRAM,
        SAMPLE_DEFAULT_THRESHOLD,
        SAMPLE_THRESHOLDS,
        PACK_BUDGET,
        PACK_SHARDS,
        connected_components,
        token_windows,
    )
    from smoldocling_ocr_spark.session import get_spark

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

    # 1. duplicate clustering -> keep the component-min doc (the survivor)
    comps = write_table(connected_components(docs), "components")
    survivors = docs.join(
        comps.filter(F.col("doc_id") == F.col("component")).select("doc_id"), "doc_id"
    )

    # 2. decontamination: drop docs sharing any benchmark 5-gram (the
    # benchmark rows themselves are held out of the training corpus too).
    # The benchmark gram index is built from ALL input docs, NOT from the
    # dedup survivors: a benchmark doc removed by duplicate clustering
    # must still contaminate its surviving twin (building the index from
    # survivors would let the benchmark's own text ship in the training
    # set through a duplicate). word_grams guards docs shorter than the
    # gram width.
    # The benchmark split is held out of the training corpus UNCONDITIONALLY
    # (r6, ADVICE r5: the ~is_bench filter used to live inside the branch, so
    # --skip-decontamination shipped the held-out benchmark docs into the
    # curated output); the flag skips only the n-gram overlap scan.
    is_bench = F.col("doc_id") % BENCH_MOD == BENCH_REM
    survivors = survivors.filter(~is_bench)
    if not args.skip_decontamination:
        from smoldocling_ocr_spark.operators.dedup import word_grams

        toks = F.split(F.lower(F.col("text")), " ")
        bench = (
            docs.filter(is_bench)
            .select(F.explode(F.array_distinct(word_grams(toks, DECON_NGRAM))).alias("gram"))
            .distinct()
        )
        surv_grams = survivors.select(
            "doc_id",
            F.explode(F.array_distinct(word_grams(toks, DECON_NGRAM))).alias("gram"),
        )
        contaminated = (
            surv_grams.join(F.broadcast(bench), "gram").select("doc_id").distinct()
        )
        survivors = survivors.join(contaminated, "doc_id", "left_anti")

    # 3. cheap quality gate (full Gopher bank lives in textstats; the word
    # band is the stage-gate form)
    # count WORDS, not split fragments: consecutive/leading spaces yield
    # empty strings that must not pass the gate
    survivors = survivors.filter(
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != "")) >= args.min_words
    )

    # 4. per-language deterministic downsampling
    if not args.skip_sampling:
        u = F.substring(
            F.md5(F.concat(F.lit("smpl:"), F.col("doc_id").cast("string"))), 1, 8
        )
        thr = F.lit(SAMPLE_DEFAULT_THRESHOLD)
        for lang, t in reversed(list(SAMPLE_THRESHOLDS.items())):
            thr = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thr)
        survivors = survivors.filter(u < thr)

    curated = write_table(survivors, "curated")

    # 5. chunk + pack into training sequences
    chunks = token_windows(curated).select(
        "doc_id",
        "chunk_id",
        F.col("ck"),
        F.size("ck").alias("n_tokens"),
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = chunks.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("bin", F.expr(f"cum_before div {PACK_BUDGET}"))
    sequences = write_table(
        packed.select("shard", "bin", "doc_id", "chunk_id", "n_tokens", "ck"),
        "sequences",
        "shard",
    )

    counts = {
        "input_docs": docs.count(),
        "curated_docs": curated.count(),
        "sequences_rows": sequences.count(),
    }
    print(counts)
    spark.stop()


if __name__ == "__main__":
    main()
