"""Corpus-graph and corpus-curation operators (training-data pipeline ops
beyond pairwise dedup; no reference counterpart — the reference processes
documents independently, these are the corpus-level stages a 10¹²-doc
training-data rebuild needs around it).

* ``dedup_connected_components`` — duplicate CLUSTERS from the MinHash-LSH
  bucket graph. Pair lists (what every dedup family emits) are not what a
  pipeline acts on; it needs components and one survivor per component.
  Implemented as alternating min-label propagation over the bipartite
  doc↔bucket graph (the bucket-star form of Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC 2014): per-bucket min is one
  map-side-combined aggregation, labels flow doc → bucket → doc, so the
  pair graph is NEVER materialized (Σ bucket sizes rows per round, not
  Σ bucket² pair rows). The fixpoint (per-component min doc_id) is unique,
  so the iterative Spark job is still exactly oracle-checkable: the DuckDB
  twin computes the same components with a recursive CTE.

* ``decontamination_scan`` — benchmark n-gram overlap scan (the GPT-3
  appendix-C / PaLM style train-test decontamination): flag every corpus
  document sharing any word 5-gram with a held-out benchmark set. The
  benchmark index is small by nature, so it rides as one BROADCAST
  relation and the scan is a map-side join — the only shuffle is the
  per-doc hit count.

* ``stratified_sample_by_lang`` — deterministic per-language downsampling
  (temperature-style language rebalancing): keep probability is compared
  against the document's md5-derived uniform, expressed as an 8-hex-digit
  threshold STRING so both engines decide membership with a pure string
  compare (no float arithmetic anywhere). A pure narrow projection+filter:
  zero shuffles at any corpus size, deterministic across reruns/resumes.

The decontamination, sampling and packing queries are thin wrappers around
DataFrame→DataFrame cores (:func:`benchmark_hits`, :func:`stratified_sample`,
:func:`packed_chunks`) that ``jobs/curate_job.py`` calls too, so the catalog
query, the job and the tests run one implementation of each operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..sources.documents import read_table
from .dedup import BAND_SIZE, MINHASH_SEEDS, _SHINGLES_SQL, lsh_bands, word_grams

CC_MAX_ITERS = 20

# deterministic benchmark membership: every 50th doc (offset 7) is "the
# held-out benchmark" — fixture-law style, identical in both engines
BENCH_MOD = 50
BENCH_REM = 7
DECON_NGRAM = 5

# per-language keep rates as EXACT 8-hex-digit thresholds on the first 8
# md5 nibbles (rate = threshold / 2^32): en downsampled hardest (it
# dominates the synthetic corpus), zh kept in full
SAMPLE_THRESHOLDS = {
    "en": "40000000",  # 0.25
    "de": "c0000000",  # 0.75
    "fr": "c0000000",  # 0.75
    "es": "c0000000",  # 0.75
    "zh": "ffffffff",  # ~1.0
}
SAMPLE_DEFAULT_THRESHOLD = "80000000"  # 0.5 for unlisted languages


def _persistent_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def _unpersist_rdd_ids(spark, ids: set[int]) -> None:
    """Free specific checkpoint/persist blocks by RDD id (non-blocking)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(False)


def connected_components(docs: DataFrame, max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """(doc_id, component, csize) for every document: component = min doc_id
    reachable through shared LSH buckets, csize = component population.

    Each round is two key-hashed aggregations (doc→root min, root→doc min)
    with map-side combine; convergence when no label changes. Rounds
    needed = component diameter (near-dup components are shallow); a loud
    failure after ``max_iters`` rather than a silent partial answer.

    r6 shape: every (band, bucket) node is CONTRACTED to its min member doc
    ("root") once, up front — two buckets sharing a root collapse into one
    node, connectivity (and therefore the min-label fixpoint the oracle
    checks) is unchanged, and each propagation round moves labels
    doc → root → doc exactly as the (band, bucket) form did. The rounds
    then iterate over a DISTINCT (doc_id, root) INT-pair edge relation —
    materialized once with an eager localCheckpoint — instead of
    re-joining the md5-string-keyed band relation twice per round; the
    convergence test rides a ``chg`` column on the label update (one
    action per round, no separate old⨝new join); and each round's
    checkpoint blocks are freed as soon as the next round lands (the
    GraphFrames-between-Pregel-rounds pattern, ADVICE r5). On a real
    cluster with a checkpoint dir, reliable checkpointing replaces the
    local variant."""
    spark = docs.sparkSession
    bands = lsh_bands(docs).persist()
    before_edges = _persistent_rdd_ids(spark)
    roots = bands.groupBy("band", "bucket").agg(F.min("doc_id").alias("root"))
    edges = (
        bands.join(roots, ["band", "bucket"])
        .select("doc_id", "root")
        .distinct()
        .localCheckpoint()  # eager: signature pipeline runs exactly once
    )
    bands.unpersist()
    edge_ids = _persistent_rdd_ids(spark) - before_edges
    labels = docs.select("doc_id", F.col("doc_id").alias("label"))
    prev_ids: set[int] = set()
    for _ in range(max_iters):
        rmin = (
            edges.join(labels, "doc_id")
            .groupBy("root")
            .agg(F.min("label").alias("rlabel"))
        )
        pulled = (
            edges.join(rmin, "root")
            .groupBy("doc_id")
            .agg(F.min("rlabel").alias("nlabel"))
        )
        nlabel = F.least(F.col("label"), F.coalesce("nlabel", "label"))
        before_round = _persistent_rdd_ids(spark)
        new_labels = (
            labels.join(pulled, "doc_id", "left")
            .select("doc_id", nlabel.alias("label"), (nlabel < F.col("label")).alias("chg"))
            .localCheckpoint(eager=False)
        )
        # one action per round: materializes the checkpoint AND yields the
        # convergence count (the old form paid a second join + job for it)
        changed = new_labels.filter("chg").count()
        labels = new_labels.select("doc_id", "label")
        _unpersist_rdd_ids(spark, prev_ids)
        prev_ids = _persistent_rdd_ids(spark) - before_round
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
        )
    _unpersist_rdd_ids(spark, edge_ids)
    sizes = labels.groupBy("label").agg(F.count("*").alias("csize"))
    return (
        labels.join(sizes, "label")
        .select("doc_id", F.col("label").alias("component"), "csize")
        .orderBy("doc_id")
    )


def is_bench():
    """The held-out benchmark split: every BENCH_MOD-th doc_id."""
    return F.col("doc_id") % BENCH_MOD == BENCH_REM


def benchmark_hits(cands: DataFrame, docs: DataFrame) -> DataFrame:
    """(doc_id, matched_ngrams) for each candidate doc sharing a distinct
    word DECON_NGRAM-gram with the benchmark split of ``docs``.

    The benchmark index is built from ``docs`` as given, not from the
    candidates: a benchmark doc dropped upstream (e.g. as a duplicate) must
    still contaminate its surviving twin. Benchmarks are small by nature, so
    the distinct benchmark grams ride as one explicit broadcast and the scan
    is a map-side join; the only shuffle is the per-doc hit count. Grams are
    deduped per doc with array_distinct before the explode (the oracle's
    SELECT DISTINCT (doc_id, gram) with zero shuffle), and word_grams
    yields none for docs shorter than the gram width."""
    toks = F.split(F.lower(F.col("text")), " ")

    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", F.explode(F.array_distinct(word_grams(toks, DECON_NGRAM))).alias("gram")
        )

    bench = grams(docs.filter(is_bench())).select("gram").distinct()
    return (
        grams(cands)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("matched_ngrams"))
    )


def stratified_sample(docs: DataFrame) -> DataFrame:
    """The docs kept by the per-language downsampling: a string compare
    between the doc's md5-uniform (first 8 hex nibbles of 'smpl:<doc_id>')
    and the language's exact hex threshold — reproducible across reruns,
    engines and resume boundaries, zero shuffles."""
    u = F.substring(F.md5(F.concat(F.lit("smpl:"), F.col("doc_id").cast("string"))), 1, 8)
    thr = F.lit(SAMPLE_DEFAULT_THRESHOLD)
    for lang, t in reversed(list(SAMPLE_THRESHOLDS.items())):
        thr = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thr)
    return docs.filter(u < thr)


def register(query) -> None:
    seed_sql = ",".join(str(s) for s in range(MINHASH_SEEDS))

    @query(
        "dedup_connected_components",
        sql=f"""
        WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
        sig AS (
          SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minh
          FROM sh, LATERAL unnest([{seed_sql}]) AS s(seed)
          GROUP BY doc_id, seed
        ),
        bands AS (
          SELECT doc_id, seed // {BAND_SIZE} AS band,
                 md5(string_agg(minh, ',' ORDER BY seed)) AS bucket
          FROM sig GROUP BY doc_id, seed // {BAND_SIZE}
        ),
        stars AS (
          SELECT band, bucket, min(doc_id) AS root FROM bands GROUP BY band, bucket
        ),
        edges AS (
          SELECT DISTINCT b.doc_id AS src, s.root AS dst
          FROM bands b JOIN stars s ON b.band = s.band AND b.bucket = s.bucket
          WHERE b.doc_id <> s.root
        ),
        undirected AS (
          SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
        ),
        reach(doc_id, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT u.dst, r.lbl FROM reach r JOIN undirected u ON u.src = r.doc_id
        ),
        comp AS (
          SELECT doc_id, CAST(min(lbl) AS BIGINT) AS component
          FROM reach GROUP BY doc_id
        )
        SELECT c.doc_id, c.component, CAST(s.csize AS BIGINT) AS csize
        FROM comp c
        JOIN (SELECT component, count(*) AS csize FROM comp GROUP BY component) s
          ON c.component = s.component
        ORDER BY c.doc_id
        """,
    )
    def cc_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        return connected_components(docs)

    @query(
        "decontamination_scan",
        sql=f"""
        WITH grams AS (
          SELECT DISTINCT doc_id,
                 array_to_string(toks[i+1:i+{DECON_NGRAM}], ' ') AS gram
          FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
               LATERAL unnest(range(greatest(len(toks) - {DECON_NGRAM - 1}, 0))) AS t(i)
        ),
        bench AS (
          SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_MOD} = {BENCH_REM}
        ),
        hits AS (
          SELECT g.doc_id, CAST(count(*) AS BIGINT) AS matched_ngrams
          FROM grams g JOIN bench b ON g.gram = b.gram
          WHERE g.doc_id % {BENCH_MOD} <> {BENCH_REM}
          GROUP BY g.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(h.matched_ngrams, 0) AS BIGINT) AS matched_ngrams,
               (coalesce(h.matched_ngrams, 0) > 0) AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % {BENCH_MOD} <> {BENCH_REM}
        ORDER BY d.doc_id
        """,
    )
    def decon_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Benchmark n-gram decontamination of every non-benchmark doc:
        :func:`benchmark_hits`, zero-filled for docs with no hit."""
        docs = read_table(spark, sf_dir, "documents")
        train = docs.filter(~is_bench())
        hits = benchmark_hits(train, docs)
        return (
            train.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("matched_ngrams", F.lit(0)).alias("matched_ngrams"),
                (F.coalesce("matched_ngrams", F.lit(0)) > 0).alias("contaminated"),
            )
            .orderBy("doc_id")
        )

    lang_cases_sql = " ".join(
        f"WHEN '{lang}' THEN '{thr}'" for lang, thr in SAMPLE_THRESHOLDS.items()
    )

    @query(
        "stratified_sample_by_lang",
        sql=f"""
        SELECT doc_id, lang FROM documents
        WHERE substr(md5('smpl:' || doc_id), 1, 8) <
              (CASE lang {lang_cases_sql} ELSE '{SAMPLE_DEFAULT_THRESHOLD}' END)
        ORDER BY doc_id
        """,
    )
    def sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Deterministic language-stratified downsampling
        (:func:`stratified_sample`)."""
        docs = read_table(spark, sf_dir, "documents")
        return stratified_sample(docs).select("doc_id", "lang").orderBy("doc_id")


# --- training-sequence production (chunking + packing) ----------------------

CHUNK_W = 32  # tokens per training chunk
CHUNK_STRIDE = 24  # stride (overlap = W - stride = 8)
PACK_BUDGET = 256  # tokens per packed sequence
PACK_SHARDS = 16  # packing shards: bounded window partitions at any scale


def token_windows(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, ck): overlapping windows of CHUNK_W tokens of
    split(text, ' ') at CHUNK_STRIDE, last window ragged — the one chunking
    law of training_chunks, sequence_packing and the curate job. The split
    is projected as a column first so the window lambda slices a value,
    not the split expression (which it would re-run per window)."""
    toks = F.col("toks")
    n_chunks = (F.greatest(F.size(toks) - 1, F.lit(0)) / CHUNK_STRIDE).cast("int") + 1
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * CHUNK_STRIDE + 1, CHUNK_W),
    )
    return docs.select("doc_id", F.split(F.col("text"), " ").alias("toks")).select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "ck")
    )


def packed_chunks(docs: DataFrame) -> DataFrame:
    """(shard, bin, doc_id, chunk_id, n_tokens, ck): GPT-style
    concat-then-cut sequence packing of the :func:`token_windows` chunks.
    Chunks stream in deterministic (doc_id, chunk_id) order within a shard
    and land in bin = floor(cumulative_tokens_before / PACK_BUDGET).
    Sharding by doc_id % PACK_SHARDS keeps every packing window partition
    bounded at any corpus size (a single global cumsum would be an Exchange
    SinglePartition — forbidden); shards pack independently exactly as real
    pipelines pack per output file."""
    chunks = token_windows(docs).select(
        "doc_id",
        "chunk_id",
        "ck",
        F.size("ck").alias("n_tokens"),
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        chunks.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("bin", F.expr(f"cum_before div {PACK_BUDGET}"))
        .select("shard", "bin", "doc_id", "chunk_id", "n_tokens", "ck")
    )


def register_training(query) -> None:
    @query(
        "training_chunks",
        sql=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        chunks AS (
          SELECT doc_id, u.i::INT AS chunk_id,
                 t[(u.i * {CHUNK_STRIDE} + 1):(u.i * {CHUNK_STRIDE} + {CHUNK_W})] AS ck
          FROM toks,
               LATERAL unnest(range((greatest(len(t) - 1, 0) // {CHUNK_STRIDE}) + 1)) AS u(i)
        )
        SELECT doc_id, chunk_id,
               CAST(len(ck) AS BIGINT) AS n_tokens,
               substring(md5(array_to_string(ck, ' ')), 1, 16) AS chunk_fp
        FROM chunks ORDER BY doc_id, chunk_id
        """,
    )
    def training_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Overlapping token-window chunking (the make-training-sequences
        stage): windows of CHUNK_W tokens at CHUNK_STRIDE, last window
        ragged. Pure per-doc projection + explode — embarrassingly
        parallel, no shuffle except the presentation sort."""
        docs = read_table(spark, sf_dir, "documents")
        return (
            token_windows(docs)
            .select(
                "doc_id",
                "chunk_id",
                F.size("ck").cast("long").alias("n_tokens"),
                F.substring(F.md5(F.concat_ws(" ", F.col("ck"))), 1, 16).alias(
                    "chunk_fp"
                ),
            )
            .orderBy("doc_id", "chunk_id")
        )

    @query(
        "sequence_packing",
        sql=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        chunks AS (
          SELECT doc_id, u.i::INT AS chunk_id,
                 len(t[(u.i * {CHUNK_STRIDE} + 1):(u.i * {CHUNK_STRIDE} + {CHUNK_W})]) AS n_tokens
          FROM toks,
               LATERAL unnest(range((greatest(len(t) - 1, 0) // {CHUNK_STRIDE}) + 1)) AS u(i)
        ),
        placed AS (
          SELECT doc_id % {PACK_SHARDS} AS shard, doc_id, chunk_id, n_tokens,
                 coalesce(sum(n_tokens) OVER (
                   PARTITION BY doc_id % {PACK_SHARDS} ORDER BY doc_id, chunk_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          FROM chunks
        )
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM placed GROUP BY shard, cum_before // {PACK_BUDGET}
        ORDER BY shard, bin
        """,
    )
    def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-(shard, bin) manifest of :func:`packed_chunks`."""
        docs = read_table(spark, sf_dir, "documents")
        return (
            packed_chunks(docs)
            .groupBy(F.col("shard").cast("long").alias("shard"), "bin")
            .agg(
                F.count("*").alias("n_chunks"),
                F.sum("n_tokens").alias("n_tokens"),
            )
            .orderBy("shard", "bin")
        )
