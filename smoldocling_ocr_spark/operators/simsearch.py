"""Similarity search over the embeddings table (array<float> column).

* brute-force cosine top-k — the correctness baseline: cross join queries ×
  corpus, double-precision dot product via ``F.aggregate``/``zip_with``,
  rank by rounded similarity with id tiebreak (rounding makes the ranking
  stable across engines' float accumulation orders)
* sign-LSH bucketed variant — the scale path: bucket on a sign-pattern
  sketch whose BIT WIDTH GROWS WITH THE CORPUS (bits ≈ log2(N / target
  bucket rows), from parquet footer counts — zero Spark jobs), so bucket
  count scales with N and expected bucket occupancy stays ≈ constant.
  Candidate pairs only form within a bucket, turning the O(n²) cross join
  into a bucket-local join whose per-bucket work is bounded at any N; a
  fixed bit width would instead concentrate ~N/2^bits rows per bucket and
  go quadratic at 10⁹ vectors. Banded, with an exact cosine verify, it is
  the LSH near-dup (:func:`lsh_verified_pairs`).
* embedding-cosine near-dup — threshold pair scan via tiled GEMM (dedup
  family's fifth member; BASELINE task list)
* IVF — a coarse quantizer prunes each query to its nprobe nearest
  inverted lists: per-label centroids (:func:`ivf_topk`) or learned
  k-means lists (:func:`kmeans_fit`, :func:`ivf_kmeans_topk`)
* PQ — per-subspace k-means codebooks (:func:`pq_fit`), vectors stored as
  code ids, queries answered by asymmetric distance computation over
  per-query tables (:func:`pq_topk`; the fixed-integer-codebook twin
  :func:`pq_topk_fixed_books` is oracle-checked)
* IVF-PQ — list pruning in front of the ADC scan (:func:`ivf_pq_topk`)

The IVF/PQ family shares one implementation of each stage: one Lloyd kernel
(:func:`_lloyd`: k-means is one subspace with a cosine argmax, PQ is m
subspaces with an L2 argmin), the query relation (:func:`_queries`), the
per-label centroids, the query × broadcast-centroid probe (:func:`_probe`),
the nearest-code expression, the ADC tables and sum, and the per-query
top-k window (:func:`_topk`). Each stage is a single JVM expression or
plan fragment, so sharing it adds no boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..sources.documents import read_table, spread

TOPK = 3
N_QUERIES = 5
NEARDUP_THRESHOLD = 0.40
DIM = 64  # driver embeddings are fixed 64-dim float arrays
IVF_NPROBE = 3
IVF_N_LISTS = 10  # embeddings.label has 10 distinct values (the coarse lists)

# --- adaptive sign-LSH sizing ---------------------------------------------
# Bucket-key cardinality must grow with the corpus: band bit-width is derived
# from the row count (bits = max(min, ceil(log2(N / TARGET_BUCKET_ROWS)))) so
# the expected bucket occupancy stays ≈ TARGET_BUCKET_ROWS at any N, and the
# bucket-local join stays sub-quadratic. Recall at the near-dup threshold is
# held as bits widen by ADDING BANDS along the standard b·r S-curve:
# P(pair becomes a candidate) = 1 − (1 − p^bits)^bands with
# p = 1 − acos(threshold)/π, solved for bands at TARGET_RECALL and capped at
# MAX_BANDS. At the driver sf0.01 scale (N=500) this degenerates to the
# measured 16×4-bit banding (candidate recall 0.966 vs the exact all-pairs
# form at threshold 0.40 on near-uniform synthetic vectors — sign-LSH's
# hardest regime; real near-dups at cosine ≥0.9 collide far more often, so
# far fewer bands hold the same recall at wide bits).
TARGET_BUCKET_ROWS = 128
MIN_BAND_BITS = 4  # banded near-dup floor: 16 buckets/band on tiny corpora
MIN_SIGN_BITS = 8  # single-sketch bucket queries: 256-bucket floor
MAX_BANDS = 64
TARGET_RECALL = 0.93


def band_bits(n_rows: int, min_bits: int = MIN_BAND_BITS) -> int:
    """Smallest b with 2^b buckets ≥ N / TARGET_BUCKET_ROWS (pure-integer math —
    the DuckDB oracle computes the identical value with a range() scan, so
    both engines always agree on the banding)."""
    import math

    return max(min_bits, max(0, math.ceil(max(1, n_rows) / TARGET_BUCKET_ROWS) - 1).bit_length())


def bands_for_bits(bits: int, threshold: float = NEARDUP_THRESHOLD) -> int:
    """Band count holding TARGET_RECALL at `threshold` for a given band
    width: ceil(ln(1−R) / ln(1−p^bits)), p = 1 − acos(θ)/π. Evaluated in
    Python only — the oracle receives the resulting integers as a CASE
    lookup, so no cross-engine float boundary can flip the plan."""
    import math

    p_bit = 1.0 - math.acos(threshold) / math.pi
    p_band = p_bit**bits
    if p_band >= 1.0:
        return 1
    n = math.ceil(math.log(1.0 - TARGET_RECALL) / math.log(1.0 - p_band))
    return max(1, min(MAX_BANDS, n))


N_BLOCKS = 8


MAX_BLOCK_ROWS = 4096  # keep a collected block ≈ 4096 vectors (≈1 MB @ 64-dim f64)


def blocked_cosine_pairs(
    emb: DataFrame,
    threshold: float,
    n_blocks: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """(vec_a, vec_b) pairs with cosine > threshold, via tiled numpy GEMM.

    Plan shape: groupBy(block) collect → B rows of (ids, matrix) → self-join
    on block_a <= block_b (B(B+1)/2 tile pairs) → mapInPandas computes the
    normalized tile product and emits qualifying pairs. Double precision to
    match the DuckDB oracle's DOUBLE[] computation.

    B scales with the corpus (ceil(N / MAX_BLOCK_ROWS), min 8) so a collected
    block row stays bounded regardless of N — a fixed B would grow block rows
    linearly toward the 2 GB row limit. The result is blocking-invariant.

    The caller gives ``n_blocks``, or ``n_rows`` (e.g. from parquet footer
    metadata — see :func:`parquet_row_count`), so sizing B costs zero Spark
    jobs.
    """
    import math

    import numpy as np
    import pandas as pd
    from collections.abc import Iterator
    from pyspark.sql import types as T

    if n_blocks is None:
        n_blocks = max(N_BLOCKS, math.ceil(n_rows / MAX_BLOCK_ROWS))

    blocks = (
        emb.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int"))
        .groupBy("blk")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("embedding").alias("vectors"),
        )
    )
    a = blocks.select(
        F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"), F.col("vectors").alias("vecs_a")
    )
    b = blocks.select(
        F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"), F.col("vectors").alias("vecs_b")
    )
    tiles = a.join(b, F.col("blk_a") <= F.col("blk_b"))

    out_schema = T.StructType(
        [T.StructField("vec_a", T.LongType(), False), T.StructField("vec_b", T.LongType(), False)]
    )

    def score_tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict[str, int]] = []
            for t in pdf.itertuples(index=False):
                ids_a = np.asarray(t.ids_a, dtype=np.int64)
                ids_b = np.asarray(t.ids_b, dtype=np.int64)
                ma = np.asarray([np.asarray(v, dtype=np.float64) for v in t.vecs_a])
                mb = np.asarray([np.asarray(v, dtype=np.float64) for v in t.vecs_b])
                ma /= np.linalg.norm(ma, axis=1, keepdims=True)
                mb /= np.linalg.norm(mb, axis=1, keepdims=True)
                sims = ma @ mb.T
                ii, jj = np.nonzero(sims > threshold)
                same_block = t.blk_a == t.blk_b
                for i, j in zip(ii, jj):
                    va, vb = int(ids_a[i]), int(ids_b[j])
                    if same_block:
                        # pair appears as (i,j) and (j,i) — keep one orientation
                        if va < vb:
                            rows.append({"vec_a": va, "vec_b": vb})
                    elif va != vb:
                        # distinct blocks: each unordered pair appears once
                        rows.append({"vec_a": min(va, vb), "vec_b": max(va, vb)})
            yield pd.DataFrame(rows, columns=["vec_a", "vec_b"])

    return tiles.mapInPandas(score_tiles, schema=out_schema)


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from parquet footer metadata — a driver-side O(footers)
    read, no Spark job. At cluster scale the same number comes from the table
    catalog (Iceberg snapshot summary ``total-records``) for free."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _dot(a, b):
    """Double-precision dot product, folded left to right."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    """Row norm sqrt(Σv²), the same sequential double fold everywhere, so a
    norm hoisted into its own projection is bit-identical to an inline one."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def _cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def bits_sql(min_bits: int) -> str:
    """Adaptive sketch width in PURE-INTEGER SQL (identical to
    :func:`band_bits`: smallest b with 2^b · target ≥ count(*), floored at
    min_bits) — the oracle derives the same bucket count from the same row
    count at any sf, so the comparison stays exact as the corpus grows."""
    return (
        f"greatest({min_bits}, (SELECT min(b)::INT FROM range(40) t(b) "
        f"WHERE (1::BIGINT << b) * {TARGET_BUCKET_ROWS} >= "
        f"(SELECT count(*) FROM embeddings)))"
    )


# '1'/'0' for hyperplane pl.h over embeddings alias e — mirrors
# _plane_bit()/_plane_indices() token for token (comparisons only, no float
# arithmetic, so FLOAT vs DOUBLE evaluation cannot diverge).
PLANE_BIT_SQL = (
    f"CASE WHEN pl.h < {DIM} "
    f"THEN (CASE WHEN e.embedding[pl.h + 1] > 0 THEN '1' ELSE '0' END) "
    f"ELSE (CASE WHEN e.embedding[(pl.h % {DIM}) + 1] > "
    f"e.embedding[(((pl.h % {DIM}) + 1 + (((pl.h // {DIM}) - 1) % {DIM - 1})) % {DIM}) + 1] "
    f"THEN '1' ELSE '0' END) END"
)


def _plane_indices(h: int) -> tuple[int, int | None]:
    """Deterministic hyperplane family indexed by h, shared verbatim with
    the DuckDB oracle. h < DIM is the axis plane sign(x[h]); h ≥ DIM is the
    sparse difference plane sign(x[u] − x[v]) with u = h mod DIM and v
    offset by 1 + ((h div DIM) − 1) mod (DIM−1) — always v ≠ u, giving
    DIM + DIM·(DIM−1) = 4160 distinct directions at DIM=64, far more than
    any bits·bands this module ever requests."""
    u = h % DIM
    if h < DIM:
        return u, None
    v = (u + 1 + ((h // DIM) - 1) % (DIM - 1)) % DIM
    return u, v


def _plane_bit(h: int):
    """'1'/'0' for hyperplane h. Pure comparisons (no float arithmetic), so
    Spark-on-float and DuckDB-on-FLOAT evaluate bit-identically."""
    u, v = _plane_indices(h)
    e = F.col("embedding")
    if v is None:
        return F.when(F.element_at(e, u + 1) > 0, "1").otherwise("0")
    return F.when(F.element_at(e, u + 1) > F.element_at(e, v + 1), "1").otherwise("0")


def _band_key(b: int, bits: int):
    """Bit-string key of band b: hyperplanes [b·bits, (b+1)·bits)."""
    return F.concat(*[_plane_bit(b * bits + i) for i in range(bits)])


def lsh_verified_pairs(emb: DataFrame, n_rows: int) -> DataFrame:
    """The composed 100-TB near-dup shape: banded sign-LSH candidates →
    exact cosine verify at NEARDUP_THRESHOLD. Returns (vec_a, vec_b, sim)
    with sim rounded 5dp.

    Sizing: band width grows with the corpus (:func:`band_bits` — pass
    ``n_rows`` from parquet footers / the table catalog so sizing costs zero
    Spark jobs) and the band count holds recall along the b·r S-curve
    (:func:`bands_for_bits`), so bucket cardinality scales with N instead of
    being a compile-time constant.

    Plan shape: ALL bands materialize in one pass — posexplode of the
    per-row band-key array to (vec_id, band, bkey) — and candidates form in
    ONE self equi-join on (band, bkey): a single shuffle exchange that the
    probe side reuses (ReusedExchange), not one join per band. Only
    surviving deduped pairs pay the exact double-precision cosine.

    The exact GEMM form (:func:`blocked_cosine_pairs`) is the correctness
    baseline; this is the sub-quadratic path that must front it at 10⁹
    vectors. Measured candidate recall is asserted in
    tests/test_simsearch.py and recorded in BENCH/BASELINE.md."""
    bits = band_bits(n_rows)
    n_bands = bands_for_bits(bits)
    # r6: the tiny single-row-group scan serializes banding AND (worse) the
    # exact verify of every candidate pair onto one task; spread the banding
    # input and pin the candidate exchange at full width (the verify rides
    # on the candidate partitioning — its per-row cost is a 64-dim fold,
    # enormous relative to its 16 bytes, so AQE's byte-based coalescing
    # would shrink it to ~1 task). repartition BY the dedup key means the
    # dropDuplicates aggregate reuses this exchange instead of adding one.
    p = emb.sparkSession.sparkContext.defaultParallelism
    keys = F.array(*[_band_key(b, bits) for b in range(n_bands)])
    banded = spread(emb).select("vec_id", F.posexplode(keys).alias("band", "bkey"))
    a = banded.select(F.col("vec_id").alias("vec_a"), "band", "bkey")
    c = banded.select(F.col("vec_id").alias("vec_b"), "band", "bkey")
    cand = (
        a.join(c, ["band", "bkey"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .repartition(p, "vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    # per-VECTOR norms, hoisted out of the per-PAIR verify: _norm is the
    # exact expression _cosine uses, so dot/(na*nb) is bit-identical to the
    # per-pair form while paying the two norm folds N times, not |cand|
    # times (2/3 of the verify flops gone)
    ea = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        _norm(F.col("embedding")).alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    sim = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .filter(sim > NEARDUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round(sim, 5).alias("sim"))
    )


def _matrix_expr(matrix):
    """Nested array literal as ONE parsed SQL expression. ``F.lit`` on a
    nested Python list expands to one py4j ``lit``/``array`` call per
    element (~650 round trips for a 10×64 matrix, 0.9–2.9 s of driver time
    PER Lloyd iteration — measured r6); a single ``F.expr`` string is one
    round trip and one JVM parse. ``repr(float)`` is the shortest
    round-tripping decimal and Java's parseDouble is correctly rounded, so
    the literal doubles are bit-identical to the ``F.lit`` path."""
    def fmt(x):
        if isinstance(x, list):
            return "array(" + ",".join(fmt(v) for v in x) + ")"
        if isinstance(x, int):
            return str(x)
        return f"{float(x)!r}D"

    return F.expr(fmt(matrix))


def _scores_expr(centroids: list[list[float]], ne):
    """Per-row cosine scores against all centroids via ONE k×DIM matrix
    literal and a higher-order zip_with. One Literal node instead of k×DIM
    expression nodes, so the generated code has the SAME shape on every
    Lloyd iteration (centroid values live in the literal's data, not the
    plan) — whole-stage codegen compiles once and is cache-hit for the rest
    of the fit.

    r6: centroid norms are precomputed driver-side (same IEEE-double
    sequential fold as the JVM expression, so sqrt(Σv²) is bit-identical)
    and ride as a k-array literal; ``ne`` is an expression for the ROW's
    norm, evaluated once in a prior projection, so the row's 64 squares are
    not re-folded once per centroid. Scores equal the ``_cosine``-per-
    centroid form bit for bit: same dot fold, same norms, same dot/(na·nb)
    arithmetic."""
    import math

    matrix = _matrix_expr([[float(v) for v in c] for c in centroids])
    norms = _matrix_expr(
        [math.sqrt(sum(float(v) * float(v) for v in c)) for c in centroids]
    )
    return F.zip_with(matrix, norms, lambda c, nc: _dot(F.col("embedding"), c) / (ne * nc))


# past this k the literal expression tree (k×DIM literal nodes) would choke
# whole-stage codegen; the broadcast-join form takes over
KMEANS_LITERAL_MAX_K = 64


def assign_lists(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, embedding, list_id, best) — nearest-centroid (max cosine)
    assignment under the k-appropriate strategy:

    * k ≤ KMEANS_LITERAL_MAX_K: ONE JVM-side projection, no shuffle, no N×k
      row explosion — the row norm is hoisted into its own projection, the
      :func:`_scores_expr` array is evaluated once per row and list_id is
      its first argmax (ties resolve to the lowest list id).
    * k > KMEANS_LITERAL_MAX_K: centroids become a broadcast relation —
      emb × broadcast(k rows) → per-pair JVM cosine → per-vec argmax
      (max over (sim, −list_id) structs: highest sim, ties to the lowest
      list id — byte-identical semantics to the literal form). One
      exchange for the argmax groupBy; expression tree stays O(DIM)
      regardless of k, so k=4096 plans as fast as k=10 (VERDICT r3 item 4).
    """
    if len(centroids) <= KMEANS_LITERAL_MAX_K:
        scored = emb.select("vec_id", "embedding", _norm(F.col("embedding")).alias("_ne")).select(
            "vec_id",
            "embedding",
            _scores_expr(centroids, F.col("_ne")).alias("scores"),
        )
        return scored.select(
            "vec_id",
            "embedding",
            # array_position is 1-based; ties resolve to the first
            (F.array_position(F.col("scores"), F.array_max("scores")) - 1)
            .cast("int")
            .alias("list_id"),
            F.array_max("scores").alias("best"),
        )
    spark = emb.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "list_id int, cvec array<double>",
    )
    sim = _cosine(F.col("embedding"), F.col("cvec"))
    scored = emb.join(F.broadcast(cent)).select(
        "vec_id", "embedding", "list_id", sim.alias("sim")
    )
    byv = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(F.col("sim").alias("s"), (-F.col("list_id")).alias("nl"))
        ).alias("m"),
        F.first("embedding").alias("embedding"),
    )
    return byv.select(
        "vec_id",
        "embedding",
        (-F.col("m.nl")).cast("int").alias("list_id"),
        F.col("m.s").alias("best"),
    )


def _lloyd(emb: DataFrame, cols: list, m: int, k: int, iters: int, assign, keys, extra=()):
    """The one Lloyd loop, the Spark-iterative shape: per iteration ONE
    partial-aggregating groupBy job (one avg aggregate per dimension,
    map-side combine — no N×k shuffle rows) plus a small driver collect that
    becomes the next literal.

    * seeds: the k lowest vec_ids' vectors, each cut into ``m`` subspaces,
      so ``books[s][c]`` is centroid c of subspace s;
    * the iterated relation ``cols`` (a projection of ``emb`` whose
      (sub)vector column is named ``embedding``) is spread to full
      parallelism and persisted for the fit — every iteration re-reads it
      (the MLlib-KMeans pattern) — and unpersisted in ``finally``, so no
      cached block outlives the fit, whether it returns or raises;
    * each iteration: ``assign(work, books)`` adds the cell ``keys``, then
      ``groupBy(keys).agg(*extra, avg per dim)`` → collect; a cell is
      (sub_id, code) when m > 1, else the single key; an empty cell keeps
      its old centroid.

    Returns (books, the collected rows of every iteration). At 10⁹ vectors
    this is m·k·(DIM/m) partial states per executor and m·k rows to the
    driver per iteration — the same plan shape at any scale."""
    d = DIM // m
    seeds = emb.orderBy("vec_id").limit(k).select("embedding").collect()
    books = [[[float(v) for v in r.embedding[s * d : (s + 1) * d]] for r in seeds] for s in range(m)]
    # iteration-invariant aggregate columns, built ONCE: each Column costs
    # py4j round trips, which inside the loop were pure driver overhead
    aggs = [
        *extra,
        *[F.avg(F.element_at("embedding", i + 1).cast("double")).alias(f"c{i}") for i in range(d)],
    ]
    rounds = []
    # spread first, project after: pruning pushes the projection below the
    # round-robin repartition, whose pre-sort orders rows by their bytes, so
    # each fit's own column set decides the partitions — and with them the
    # partial-aggregate order and the last bits of every avg
    work = spread(emb).select(*cols).persist()
    try:
        for _ in range(iters):
            rows = assign(work, books).groupBy(*keys).agg(*aggs).collect()
            books = [list(b) for b in books]
            for r in rows:
                books[r[keys[0]] if m > 1 else 0][r[keys[-1]]] = [r[f"c{i}"] for i in range(d)]
            rounds.append(rows)
    finally:
        work.unpersist()
    return books, rounds


def kmeans_fit(
    emb: DataFrame, k: int = IVF_N_LISTS, iters: int = 4
) -> tuple[list[list[float]], list[float]]:
    """Lloyd's k-means over the embedding column: :func:`_lloyd` with one
    subspace, cells keyed by ``list_id`` and assigned by cosine argmax
    (:func:`assign_lists` — literal scores array under
    KMEANS_LITERAL_MAX_K, broadcast-join argmax above it). Deterministic:
    seeds are the k lowest vec_ids, assignment ties take the lowest list id.

    Returns (centroids, inertia_history) where inertia is the mean cosine
    DISTANCE (1 − similarity) to the assigned centroid — monotone
    non-increasing under Lloyd iterations up to the mean-vs-cosine
    re-normalization (asserted with tolerance in tests)."""
    books, rounds = _lloyd(
        emb,
        ["vec_id", "embedding"],
        m=1,
        k=k,
        iters=iters,
        assign=lambda work, books: assign_lists(work, books[0]),
        keys=["list_id"],
        extra=[F.count("*").alias("members"), F.avg(F.lit(1.0) - F.col("best")).alias("mean_dist")],
    )
    history = [
        sum(r["mean_dist"] * r["members"] for r in rows) / sum(r["members"] for r in rows)
        for rows in rounds
    ]
    return books[0], history


def _queries(emb: DataFrame) -> DataFrame:
    """(query_id, qe): the query vectors — the N_QUERIES lowest vec_ids."""
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )


def _label_centroids(emb: DataFrame) -> DataFrame:
    """(label, cvec): the per-label coarse quantizer — DIM per-dim avg
    aggregates in ONE groupBy pass, map-side combine, no explode."""
    return emb.groupBy("label").agg(
        F.array(
            *[
                F.round(F.avg(F.element_at("embedding", i + 1).cast("double")), 6)
                for i in range(DIM)
            ]
        ).alias("cvec")
    )


def _probe(q: DataFrame, cent: DataFrame, key: str, nprobe: int, *keep: str) -> DataFrame:
    """(query_id, *keep, key): each query's nprobe nearest coarse lists —
    queries × broadcast centroids (``key``, ``cvec``), ranked by rounded
    cosine, ties to the lowest list key."""
    psim = F.round(_cosine(F.col("qe"), F.col("cvec")), 5)
    wprobe = W.partitionBy("query_id").orderBy(F.desc("psim"), F.asc(key))
    return (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "qe", key, psim.alias("psim"))
        .withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", *keep, key)
    )


def _topk(cand: DataFrame, score, order) -> DataFrame:
    """Per-query top-TOPK window over candidate (query_id, vec_id, …) rows,
    the query itself excluded: rank by ``order`` of ``score``, ties to the
    lowest neighbor id."""
    w = W.partitionBy("query_id").orderBy(order("score"), F.asc("neighbor_id"))
    return (
        cand.filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


def _cosine_score():
    """Rounded query↔candidate cosine, the score of every cosine top-k."""
    return F.round(_cosine(F.col("qe"), F.col("embedding")), 5)


def ivf_kmeans_topk(spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF over LEARNED k-means lists instead of the label column: fit the
    coarse quantizer (kmeans_fit), assign every vector its list with a
    shuffle-free expression, then run the same probe→list-scan→top-k plan
    as :func:`ivf_topk`. nprobe = k degenerates to brute force (invariant
    pinned in tests)."""
    emb = read_table(spark, sf_dir, "embeddings")
    centroids, _ = kmeans_fit(emb)
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], ["list_id", "cvec"]
    )
    # spread: the assignment + per-candidate exact cosine otherwise run on
    # the single-task scan of the tiny parquet (no-op on pre-split inputs)
    listed = assign_lists(spread(emb), centroids).select("vec_id", "embedding", "list_id")
    probes = _probe(_queries(emb), cent, "list_id", nprobe, "qe")
    return _topk(listed.join(F.broadcast(probes), on="list_id"), _cosine_score(), F.desc)


def ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF search — the ANN scale path: a coarse quantizer (per-label
    centroids) prunes the corpus to nprobe inverted lists per query; only
    those lists are scanned. Plan shape: centroids (10 rows) broadcast to
    queries → top-nprobe probe → tiny probe relation broadcast into an
    equi-join on label (partition-pruned list scan at scale) → per-query
    top-k window. Search cost drops from O(N) per query to
    O(N * nprobe / n_lists). With nprobe = IVF_N_LISTS the search is
    exhaustive and must equal brute force exactly — the invariant
    tests/test_simsearch.py pins."""
    emb = read_table(spark, sf_dir, "embeddings")
    probes = _probe(_queries(emb), _label_centroids(emb), "label", nprobe, "qe")
    # spread the list-scan side: per-candidate exact cosine is the dominant
    # cost and otherwise rides the single-task scan (centroids/queries stay
    # on the raw scan — their float accumulation order is unchanged)
    return _topk(spread(emb).join(F.broadcast(probes), on="label"), _cosine_score(), F.desc)


def register(query) -> None:
    @query(
        "ann_cosine_topk",
        sql=f"""
        SELECT query_id, neighbor_id, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 5) DESC,
                            c.vec_id
                 ) AS rank
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < {N_QUERIES}
        ) WHERE rank <= {TOPK} ORDER BY query_id, rank
        """,
    )
    def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = read_table(spark, sf_dir, "embeddings")
        # spread the corpus side: N_QUERIES × N exact cosines otherwise all
        # evaluate on the single-task scan
        return _topk(_queries(emb).crossJoin(spread(emb)), _cosine_score(), F.desc)

    @query(
        "embedding_cosine_neardup",
        sql=f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > {NEARDUP_THRESHOLD}
        ORDER BY vec_a, vec_b
        """,
    )
    def neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """All-pairs cosine via blocked matrix multiply: rows are hashed into
        B blocks, each block collapses to one (ids, matrix) row, block PAIRS
        cross-join (B² tiny rows, not N² data rows), and a vectorized numpy
        GEMM scores each tile inside an Arrow batch. This is the scalable
        all-pairs shape: per-tile work is dense BLAS, the shuffle moves each
        vector B times instead of N times."""
        emb = read_table(spark, sf_dir, "embeddings")
        n = parquet_row_count(sf_dir, "embeddings")
        return blocked_cosine_pairs(emb, NEARDUP_THRESHOLD, n_rows=n).orderBy("vec_a", "vec_b")

    @query(
        "ann_lsh_buckets",
        sql=f"""
        WITH p AS (SELECT {bits_sql(MIN_SIGN_BITS)} AS bits),
        planes AS (
          SELECT ti.i::INT AS i, ti.i::INT AS h
          FROM p, LATERAL unnest(range(p.bits)) AS ti(i)
        ),
        bk AS (
          SELECT e.vec_id, string_agg({PLANE_BIT_SQL}, '' ORDER BY pl.i) AS bucket
          FROM embeddings e CROSS JOIN planes pl
          GROUP BY e.vec_id
        )
        SELECT bucket, count(*) AS vectors
        FROM bk GROUP BY bucket HAVING count(*) >= 2 ORDER BY bucket
        """,
    )
    def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = read_table(spark, sf_dir, "embeddings")
        bits = band_bits(parquet_row_count(sf_dir, "embeddings"), min_bits=MIN_SIGN_BITS)
        return (
            emb.select(_band_key(0, bits).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("vectors"))
            .filter(F.col("vectors") >= 2)
            .orderBy("bucket")
        )

    @query(
        "ann_lsh_candidate_pairs",
        sql=f"""
        WITH p AS (SELECT {bits_sql(MIN_SIGN_BITS)} AS bits),
        planes AS (
          SELECT ti.i::INT AS i, ti.i::INT AS h
          FROM p, LATERAL unnest(range(p.bits)) AS ti(i)
        ),
        bk AS (
          SELECT e.vec_id, string_agg({PLANE_BIT_SQL}, '' ORDER BY pl.i) AS bucket
          FROM embeddings e CROSS JOIN planes pl
          GROUP BY e.vec_id
        )
        SELECT a.vec_id AS vec_a, c.vec_id AS vec_b
        FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        ORDER BY vec_a, vec_b
        """,
    )
    def lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = read_table(spark, sf_dir, "embeddings")
        bits = band_bits(parquet_row_count(sf_dir, "embeddings"), min_bits=MIN_SIGN_BITS)
        b = emb.select("vec_id", _band_key(0, bits).alias("bucket"))
        a = b.alias("a")
        c = b.alias("c")
        return (
            a.join(c, (F.col("a.bucket") == F.col("c.bucket")) & (F.col("a.vec_id") < F.col("c.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"), F.col("c.vec_id").alias("vec_b"))
            .orderBy("vec_a", "vec_b")
        )

    @query(
        "embedding_label_centroids",
        sql="""
        SELECT label, count(*) AS members,
               round(avg(embedding[1]::DOUBLE), 5) AS c0,
               round(avg(embedding[2]::DOUBLE), 5) AS c1
        FROM embeddings GROUP BY label ORDER BY label
        """,
    )
    def centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF coarse-quantizer building block: per-label centroid components."""
        emb = read_table(spark, sf_dir, "embeddings")
        return (
            emb.groupBy("label")
            .agg(
                F.count("*").alias("members"),
                F.round(F.avg(F.element_at("embedding", 1).cast("double")), 5).alias("c0"),
                F.round(F.avg(F.element_at("embedding", 2).cast("double")), 5).alias("c1"),
            )
            .orderBy("label")
        )

    @query(
        "ann_ivf_topk",
        sql=f"""
        WITH comp AS (
          SELECT label, i, round(avg(embedding[i+1]::DOUBLE), 6) AS c
          FROM embeddings, LATERAL unnest(range({DIM})) AS t(i)
          GROUP BY label, i
        ),
        cent AS (SELECT label, list(c ORDER BY i) AS cvec FROM comp GROUP BY label),
        probe AS (
          SELECT query_id, label FROM (
            SELECT q.vec_id AS query_id, c.label,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.cvec), 5) DESC, c.label
                   ) AS pr
            FROM embeddings q, cent c WHERE q.vec_id < {N_QUERIES}
          ) WHERE pr <= {IVF_NPROBE}
        )
        SELECT query_id, neighbor_id, rank FROM (
          SELECT p.query_id, e.vec_id AS neighbor_id,
                 row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 5) DESC,
                            e.vec_id
                 ) AS rank
          FROM probe p JOIN embeddings e ON e.label = p.label
               JOIN embeddings q ON q.vec_id = p.query_id
          WHERE e.vec_id <> p.query_id
        ) WHERE rank <= {TOPK} ORDER BY query_id, rank
        """,
    )
    def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """See :func:`ivf_topk` — registered at the default nprobe."""
        return ivf_topk(spark, sf_dir, IVF_NPROBE)

    # Band count per width, precomputed in Python (bands_for_bits) and
    # handed to the oracle as an integer CASE lookup — no cross-engine float
    # math can flip the banding.
    bands_case = " ".join(
        f"WHEN {b} THEN {bands_for_bits(b)}" for b in range(MIN_BAND_BITS, 33)
    )

    @query(
        "ann_lsh_verified_neardup",
        sql=f"""
        WITH p AS (SELECT {bits_sql(MIN_BAND_BITS)} AS bits),
        p2 AS (SELECT bits, (CASE bits {bands_case} ELSE {MAX_BANDS} END) AS n_bands FROM p),
        planes AS (
          SELECT tb.band::INT AS band, ti.i::INT AS i,
                 (tb.band * p2.bits + ti.i)::INT AS h
          FROM p2, LATERAL unnest(range(p2.n_bands)) AS tb(band),
               LATERAL unnest(range(p2.bits)) AS ti(i)
        ),
        bands AS (
          SELECT e.vec_id, pl.band, string_agg({PLANE_BIT_SQL}, '' ORDER BY pl.i) AS bkey
          FROM embeddings e CROSS JOIN planes pl
          GROUP BY e.vec_id, pl.band
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
          FROM bands a JOIN bands c
            ON a.band = c.band AND a.bkey = c.bkey AND a.vec_id < c.vec_id
        )
        SELECT cand.vec_a, cand.vec_b,
               round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 5) AS sim
        FROM cand JOIN embeddings ea ON ea.vec_id = cand.vec_a
                  JOIN embeddings eb ON eb.vec_id = cand.vec_b
        WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) > {NEARDUP_THRESHOLD}
        ORDER BY vec_a, vec_b
        """,
    )
    def lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The composed scale-path near-dup (LSH candidates → exact verify),
        end-to-end as one plan — see :func:`lsh_verified_pairs`. The oracle
        replicates the same adaptive banding (row-count-derived bit width is
        pure-integer SQL; the band-count S-curve lookup is a precomputed
        CASE), so the driver certifies the composed pipeline AT ANY SF; the
        candidate stage is one posexplode self-join on (band, bkey), recall
        vs the exact all-pairs form is measured in tests/test_simsearch.py
        and recorded in BENCH/BASELINE.md."""
        emb = read_table(spark, sf_dir, "embeddings")
        n = parquet_row_count(sf_dir, "embeddings")
        return lsh_verified_pairs(emb, n_rows=n).orderBy("vec_a", "vec_b")

    @query("ann_ivf_kmeans_topk")  # rows-only: iterative Lloyd fit (per-brief
    # exemption for iterative algorithms); invariants pinned in pytest —
    # inertia monotone, nprobe=k == brute force, separable-cluster recovery
    def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
        return ivf_kmeans_topk(spark, sf_dir)


# --- product quantization (PQ) ---------------------------------------------
# The memory-side ANN scale path (Jégou et al. 2011): split DIM into
# PQ_M subspaces, k-means each subspace to PQ_K codes, store each vector as
# PQ_M uint8 codes (64×f32 = 256 B → 8 B at M=8), and answer queries with
# asymmetric distance computation (ADC): per-query L2 tables of size M×K,
# candidate score = sum of M table lookups — no float vector ever touched
# at query time. Composable with the IVF list pruning above (IVF-PQ).

PQ_M = 8  # subspaces (DIM/PQ_M dims each)
PQ_K = 16  # codes per subspace


def _nearest_code(sub, book, t: str = "double"):
    """First-argmin squared-L2 code of subvector ``sub`` against ``book``
    (an array<array> codebook expression), summed in SQL type ``t`` — DOUBLE
    for fitted codebooks, BIGINT (exact) for the integer twin."""
    dists = F.transform(
        book,
        lambda c: F.aggregate(
            F.zip_with(sub, c, lambda x, y: (x.cast(t) - y) * (x.cast(t) - y)),
            F.lit(0).cast(t),
            lambda acc, v: acc + v,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_fit(emb: DataFrame, iters: int = 3) -> list[list[list[float]]]:
    """Per-subspace Lloyd k-means, ALL subspaces in each single job:
    :func:`_lloyd` with PQ_M subspaces over the (sub_id, subvector) rows of
    a posexplode, assigned by L2 argmin against the codebook matrix literal,
    every (sub_id, code) centroid updated in one groupBy with map-side
    combine. Per iteration: one job, PQ_M·PQ_K rows to the driver.
    Deterministic seeds (first PQ_K vectors' slices) and first-argmin
    tie-break, so the codebook is a pure corpus function."""
    d = DIM // PQ_M

    def assign(work, books):
        book = F.element_at(_matrix_expr(books), F.col("sub_id") + 1)
        return work.select("sub_id", _nearest_code(F.col("embedding"), book).alias("code"), "embedding")

    slices = F.array(*[F.slice("embedding", s * d + 1, d) for s in range(PQ_M)])
    books, _ = _lloyd(
        emb,
        [F.posexplode(slices).alias("sub_id", "embedding")],
        m=PQ_M,
        k=PQ_K,
        iters=iters,
        assign=assign,
        keys=["sub_id", "code"],
    )
    return books


def _pq_codes_expr(books: list[list[list[float]]], vec: str = "embedding", t: str = "double"):
    """array<int> of the m nearest-code ids of column ``vec`` — one matrix
    literal, shuffle-free, constant codegen shape across refits."""
    d = DIM // len(books)
    matrix = _matrix_expr(books)
    return F.array(
        *[
            _nearest_code(F.slice(vec, s * d + 1, d), F.element_at(matrix, s + 1), t)
            for s in range(len(books))
        ]
    )


def pq_encode(emb: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """(vec_id, codes array<int>) — the 8-byte-per-vector representation."""
    return emb.select("vec_id", _pq_codes_expr(books).alias("codes"))


def _adc_tables(spark: SparkSession, queries: list, books, t: str = "double") -> DataFrame:
    """(query_id, tab): per query row (id, vector), the m×k table of squared
    L2 distances from each query subvector to every code — exact Python
    arithmetic, int or float alike — as a broadcastable relation."""
    d = len(books[0][0])
    tables = [
        (
            int(qid),
            [[sum((qv[s * d + i] - c[i]) ** 2 for i in range(d)) for c in book] for s, book in enumerate(books)],
        )
        for qid, qv in queries
    ]
    return spark.createDataFrame(tables, f"query_id long, tab array<array<{t}>>")


def _adc(t: str = "double"):
    """ADC distance of a candidate: Σ_s tab[s][codes[s]], folded in type t."""
    return F.aggregate(
        F.zip_with(F.col("codes"), F.col("tab"), lambda c, tab: F.element_at(tab, c + 1)),
        F.lit(0).cast(t),
        lambda acc, v: acc + v,
    )


def pq_topk(
    spark: SparkSession, sf_dir: str, books: list[list[list[float]]] | None = None
) -> DataFrame:
    """ADC top-k over PQ codes: queries keep full precision, corpus rows are
    codes only. Per query the M×K distance table rides as ONE literal; the
    scan cost is M array lookups + adds per candidate — no N×DIM floats.
    Plan: encoded corpus (shuffle-free projection) × broadcast query tables
    → per-query top-k window. Ties break to the lowest neighbor id.
    Pass ``books`` to search with a pre-fitted codebook (tests use this to
    pin the zero-quantization-error equivalence with the TRUE codebook —
    a fresh Lloyd fit may land on a different local optimum)."""
    emb = read_table(spark, sf_dir, "embeddings")
    if books is None:
        books = pq_fit(emb)
    # spread: the m×k×(DIM/m) nearest-code encode is the heavy per-row step
    encoded = pq_encode(spread(emb), books)
    qdf = _adc_tables(spark, _queries(emb).collect(), books)
    return _topk(encoded.crossJoin(F.broadcast(qdf)), F.round(_adc(), 6), F.asc)


PQ_QUANT = 64  # fixed-books twin: floor(x*64) int quantization, exact cross-engine


def _fixed_books_int() -> list[list[list[int]]]:
    """Deterministic INTEGER PQ_M×PQ_K codebook from a pure-integer law — the
    same law is embedded in the DuckDB oracle, so encode/ADC arithmetic is
    exact in both engines (no float summation-order hazard)."""
    return [
        [[((s * 31 + c * 17 + i * 7) % 129) - 64 for i in range(DIM // PQ_M)] for c in range(PQ_K)]
        for s in range(PQ_M)
    ]


def pq_topk_fixed_books(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search with an injected deterministic codebook over integer-
    quantized vectors — the query-time half of PQ (encode + table lookup +
    top-k), oracle-backed; the Lloyd fit stays in the rows-only twin.
    Same plan shape as pq_topk: shuffle-free encode projection × broadcast
    per-query ADC tables → per-query top-k window. All distances are exact
    BIGINT sums, so ranks are engine-independent without rounding."""
    emb = read_table(spark, sf_dir, "embeddings")
    books = _fixed_books_int()
    qe = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * PQ_QUANT).cast("long")
    )
    quant = emb.select("vec_id", qe.alias("qe"))
    # spread: integer encode (m×k×d squared-diff folds per row) off the
    # single-task scan; all-BIGINT arithmetic, so values are unaffected
    encoded = spread(quant).select("vec_id", _pq_codes_expr(books, "qe", "long").alias("codes"))
    qdf = _adc_tables(spark, quant.filter(F.col("vec_id") < N_QUERIES).collect(), books, "long")
    return _topk(encoded.crossJoin(F.broadcast(qdf)), _adc("long"), F.asc)


def register_pq(query) -> None:
    @query("ann_pq_topk")  # rows-only: iterative per-subspace Lloyd fit
    # (per-brief exemption); zero-quantization-error equivalence to exact
    # L2 search and recall measurement pinned in tests/test_simsearch.py
    def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
        return pq_topk(spark, sf_dir)

    _d = DIM // PQ_M

    @query(
        "ann_pq_topk_fixed_books",
        sql=f"""
        WITH qv AS (
          SELECT vec_id,
                 list_transform(embedding,
                                x -> CAST(floor(CAST(x AS DOUBLE) * {PQ_QUANT}) AS BIGINT)) AS qe
          FROM embeddings
        ),
        books AS (
          SELECT CAST(s.s AS INT) AS s, CAST(c.c AS INT) AS c, CAST(i.i AS INT) AS i,
                 CAST(((s.s*31 + c.c*17 + i.i*7) % 129) - 64 AS BIGINT) AS val
          FROM (SELECT unnest(range({PQ_M})) AS s) s,
               (SELECT unnest(range({PQ_K})) AS c) c,
               (SELECT unnest(range({_d})) AS i) i
        ),
        sub AS (
          SELECT v.vec_id, b.s, b.c,
                 CAST(sum((v.qe[b.s*{_d} + b.i + 1] - b.val)
                        * (v.qe[b.s*{_d} + b.i + 1] - b.val)) AS BIGINT) AS dist
          FROM qv v, books b
          GROUP BY v.vec_id, b.s, b.c
        ),
        codes AS (
          -- min over dist*K+c: tie on dist -> lowest c (= Spark's first argmin)
          SELECT vec_id, s, CAST(min(dist * {PQ_K} + c) % {PQ_K} AS INT) AS code
          FROM sub GROUP BY vec_id, s
        ),
        qtab AS (
          SELECT vec_id AS query_id, s, c, dist AS qdist FROM sub WHERE vec_id < {N_QUERIES}
        ),
        cand AS (
          SELECT qt.query_id, cd.vec_id AS neighbor_id, CAST(sum(qt.qdist) AS BIGINT) AS adist
          FROM codes cd JOIN qtab qt ON qt.s = cd.s AND qt.c = cd.code
          WHERE cd.vec_id <> qt.query_id
          GROUP BY qt.query_id, cd.vec_id
        )
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
          FROM cand
        ) WHERE rank <= {TOPK} ORDER BY query_id, rank
        """,
    )
    def ann_pq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
        return pq_topk_fixed_books(spark, sf_dir)


def ivf_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = IVF_NPROBE,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ — the composed billion-scale ANN shape (Jégou et al. 2011
    IVFADC): the coarse quantizer (per-label lists, as in :func:`ivf_topk`)
    prunes the corpus to nprobe inverted lists per query, and the fine
    search runs over PQ CODES with per-query ADC tables — so the scan
    touches ~N·nprobe/n_lists candidates at M byte-lookups each, never a
    float vector. Plan: encoded corpus keeps its list id (one shuffle-free
    projection) → probe relation (queries × broadcast centroids → top-nprobe)
    broadcast into an equi-join on list id (partition-pruned at scale) →
    per-query top-k window. With nprobe = all lists and a zero-error
    codebook this MUST equal exact search (invariant pinned in tests)."""
    emb = read_table(spark, sf_dir, "embeddings")
    if books is None:
        books = pq_fit(emb)
    encoded = spread(emb).select("vec_id", "label", _pq_codes_expr(books).alias("codes"))
    q = _queries(emb)
    probes = _probe(q, _label_centroids(emb), "label", nprobe).join(
        _adc_tables(spark, q.collect(), books), "query_id"
    )
    return _topk(encoded.join(F.broadcast(probes), on="label"), F.round(_adc(), 6), F.asc)


def register_ivf_pq(query) -> None:
    @query("ann_ivf_pq_topk")  # rows-only: iterative PQ fit (per-brief
    # exemption); exhaustive-probe + zero-error == exact-search invariant
    # pinned in tests/test_simsearch.py
    def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
        return ivf_pq_topk(spark, sf_dir)
