"""Documents-table access: load driver testdata or synthesize the CC corpus.

Two documents-shaped tables exist:

1. ``{sf_dir}/documents.parquet`` — the driver's TPC-H-ish synthetic table
   ``(doc_id, text, lang, source, n_chars)`` used by the DuckDB-oracle
   operator twins (TESTDATA.md).
2. The authoritative input shape from BASELINE.json ``input_hint``:
   ``(url, warc_ts, html, text, lang)`` — synthesized deterministically
   (seed=42) at a scale derived from the sf directory name and cached as
   parquet under /tmp, since no external data may be used.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from .corpus import SEED, write_corpus_parquet

_SF_RE = re.compile(r"sf([0-9.]+)")

# docs per scale factor: sf0.001 → 60, sf0.01 → 600, sf0.1 → 6000
_DOCS_PER_SF = 60000


def corpus_size_for(sf_dir: str) -> int:
    m = _SF_RE.search(sf_dir)
    sf = float(m.group(1)) if m else 0.001
    return max(20, int(sf * _DOCS_PER_SF))


def corpus_parquet_path(sf_dir: str, n_docs: int | None = None) -> str:
    """Synthesize (once) and return the CC-style corpus parquet for sf_dir."""
    if n_docs is None:
        n_docs = corpus_size_for(sf_dir)
    cache_dir = os.environ.get("SMOLDOCLING_CORPUS_DIR", "/tmp/smoldocling_corpus")
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"documents_cc_n{n_docs}_s{SEED}.parquet")
    if not os.path.exists(path):
        tmp = path + ".tmp"
        write_corpus_parquet(tmp, n_docs, SEED)
        os.replace(tmp, path)
    return path


def read_cc_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(corpus_parquet_path(sf_dir))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism when
    the input offers fewer partitions than the cluster has cores.

    The driver testdata tables are single-file, single-row-group parquet, so
    every scan yields ONE task and all downstream per-row CPU work (md5
    min-hash signatures, higher-order-function cosines, n-gram explodes)
    serializes onto one core no matter how many the session has. At real
    scale the scan arrives pre-split (many files / row groups) and this is a
    no-op — the partition count is compared against ``defaultParallelism``,
    never a constant — so the extra exchange exists exactly where it buys
    parallelism and nowhere else."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p)


TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)

