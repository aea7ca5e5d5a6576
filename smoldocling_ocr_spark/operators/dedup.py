"""Deduplication operators for training-data pipelines.

Four families over the ``documents`` table, each with a DuckDB oracle twin:

* exact        — hash-groupBy on md5(text), keep min(doc_id)
* n-gram Jaccard — word-3-gram shingles → shingle-equijoin → |∩|/|∪|
* MinHash+LSH  — k md5-keyed min-hashes → banded buckets → candidate pairs
  (cross-engine portable: the "hash" is the lexicographic min of
  ``md5(seed || ':' || shingle)`` hex strings — identical in Spark & DuckDB)
* SimHash      — 16-bit bit-majority signature; bit b of a token is
  ``md5(b || ':' || token)[0] >= '8'`` (top bit of a uniform hash), again
  engine-portable via pure string comparison

Scale notes: shingle explode → groupBy/join shuffles on the shingle key;
at 100 TB the LSH band-bucket join replaces the quadratic shingle join
(candidates only), and the banded signature is 8 aggregates per doc —
map-side partial aggregation keeps the shuffle narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..sources.documents import read_table, spread

MINHASH_SEEDS = 8
BAND_SIZE = 2
JACCARD_THRESHOLD = 0.5



def word_grams(toks, n: int):
    """Array of word n-grams (space-joined) of a token-array column; EMPTY
    — not crashing — for docs with fewer than n tokens (the DuckDB oracles'
    range(greatest(., 0)) semantics). One shared guarded law for every
    gram-based operator.

    Gram i is element i of n shifted slices zipped together: slice k holds
    tokens k+1 .. k+m with m = size - n + 1 grams. The lambda sees only
    the zipped struct and must never reference ``toks``: callers pass an
    expression such as split(lower(text), ' '), and a higher-order
    function's lambda is interpreted per element with no subexpression
    elimination, so a lambda that slices ``toks`` re-splits the whole
    document once per gram — quadratic in document length. Below the
    width the guard keeps the negative slice length from being evaluated."""
    m = F.size(toks) - n + 1
    shifted = F.arrays_zip(*[F.slice(toks, k + 1, m) for k in range(n)])
    grams = F.transform(shifted, lambda z: F.concat_ws(" ", *[z[str(k)] for k in range(n)]))
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


_SHINGLES_SQL = """
      SELECT DISTINCT doc_id,
             toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
           LATERAL unnest(range(greatest(len(toks) - 2, 0))) AS t(i)
"""



def lsh_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) — the banded-minhash relation, THE shared law
    for dedup_minhash_lsh and connected-components clustering (one
    implementation so the pair query and the cluster query can never
    disagree): k md5-keyed min-hash aggregates over UNEXPLODED
    (doc_id, shingle) rows (map-side combine; min() is duplicate-invariant
    so no distinct), then md5 band buckets.

    The input is ``spread`` so the k·|shingles| md5 evaluations — the
    dominant cost of the signature — run at full width instead of on the
    single-task scan of a tiny one-row-group file (no-op on pre-split
    inputs)."""
    toks = F.split(F.lower(F.col("text")), " ")
    sh = spread(docs).select("doc_id", F.explode(word_grams(toks, 3)).alias("shingle"))
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")))).alias(f"minh{s}")
        for s in range(MINHASH_SEEDS)
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(",", *[F.col(f"minh{b * BAND_SIZE + i}") for i in range(BAND_SIZE)])
            ).alias("bucket"),
        )
        for b in range(MINHASH_SEEDS // BAND_SIZE)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "doc_id", "bb.band", "bb.bucket"
    )


def register(query) -> None:
    @query(
        "dedup_exact",
        sql="""
        SELECT count(*) AS total_docs,
               count(DISTINCT md5(text)) AS distinct_docs,
               count(*) - count(DISTINCT md5(text)) AS duplicate_docs
        FROM documents
        """,
    )
    def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        return docs.agg(
            F.count("*").alias("total_docs"),
            F.count_distinct(F.md5("text")).alias("distinct_docs"),
            (F.count("*") - F.count_distinct(F.md5("text"))).alias("duplicate_docs"),
        )

    @query(
        "dedup_exact_survivors",
        sql="""
        SELECT md5(text) AS content_hash, min(doc_id) AS survivor_id, count(*) AS copies
        FROM documents GROUP BY 1 HAVING count(*) >= 1 ORDER BY content_hash LIMIT 100
        """,
    )
    def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        return (
            docs.groupBy(F.md5("text").alias("content_hash"))
            .agg(F.min("doc_id").alias("survivor_id"), F.count("*").alias("copies"))
            .orderBy("content_hash")
            .limit(100)
        )

    @query(
        "dedup_ngram_jaccard",
        sql=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 4) AS jaccard
        FROM common JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
        """,
    )
    def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact Jaccard pairs via PPJoin-style prefix filtering: for
        J(A,B) ≥ t the overlap is ≥ ceil(t·|A|), so A's (|A|−ceil(t|A|)+1)-
        prefix under a global rarest-first shingle order must intersect B's —
        candidates form only on prefix shingles (the rare ones, with few join
        partners) instead of the full quadratic shingle self-join, then every
        candidate pair is verified exactly with array_intersect. Shingles are
        64-bit hashes (8-byte shuffle keys; the oracle joins exact strings).

        Plan shape (4 shuffles + the final tiny sort, AQE-coalescible —
        no cache pin, no per-doc window sort):
          sh(distinct on longs) → freq ⨝ sh → per-doc sorted (df,sh) set
          → prefix = slice(set) explode → prefix self-join → verify on the
          SAME collected set (sz := size(shs), so prefix length and the
          verified set can never disagree under a hash collision).
        """
        # r6 reuse hygiene (the r6 plan had 48 Exchanges: `sh` evaluated
        # twice inside docsets and docsets evaluated THREE more times —
        # prefix, verify-a, verify-b — each a full explode→distinct→agg
        # rerun; tests/test_plans.py pins the shuffle count of the plan over
        # the checkpoints). Lazy localCheckpoints pin each shared relation to one
        # evaluation inside the timed action, and the scan is spread off the
        # single-task tiny-file partition. The returned frame reads both
        # checkpoints, so the scope of the caller that runs the action frees
        # them (``session.owned_blocks``).
        docs = read_table(spark, sf_dir, "documents")
        toks = F.split(F.lower(F.col("text")), " ")
        n = 3
        # r6: per-doc set semantics via array_distinct BEFORE the explode —
        # a map-side projection — instead of a corpus-wide
        # (doc_id, shingle) DISTINCT, which shuffled the full exploded gram
        # relation (260k rows at sf0.1; the whole corpus at scale) just to
        # dedup within each doc. Same rows out: grams are already unique
        # per doc after array_distinct, and df/sz/candidates derive from
        # the identical per-doc sets (the oracle's DISTINCT is per doc_id
        # too — a shingle appearing in many docs still yields one row per
        # doc either way). Caveat: the dedup runs on gram strings BEFORE
        # xxhash64, so two distinct grams of one doc that collide in 64 bits
        # (~2^-64 per pair) give duplicate (doc_id, sh) rows and inflate that
        # hash's df by one. That only perturbs the rarest-first prefix order,
        # never the verified sets (collect_set/array_intersect dedup them).
        sh = (
            spread(docs)
            .select("doc_id", F.explode(F.array_distinct(word_grams(toks, n))).alias("g"))
            .select("doc_id", F.xxhash64("g").alias("sh"))
            .localCheckpoint(eager=False)
        )
        freq = sh.groupBy("sh").agg(F.count("*").alias("df"))
        # One groupBy builds the rarest-first-sorted shingle set per doc;
        # sz and the prefix both derive from it (no separate sizes agg, no
        # row_number window exchange).
        docsets = (
            sh.join(freq, "sh")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_set(F.struct("df", "sh"))).alias("ranked"))
            .select(
                "doc_id",
                F.transform("ranked", lambda s: s["sh"]).alias("shs"),
                F.size("ranked").alias("sz"),
            )
            .localCheckpoint(eager=False)
        )
        prefix_len = (
            F.col("sz") - F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("sz")) + 1
        ).cast("int")
        prefix = docsets.select(
            "doc_id",
            "sz",
            F.posexplode(F.slice("shs", F.lit(1), prefix_len)).alias("pos", "sh"),
        )
        a = prefix.alias("a")
        b = prefix.alias("b")
        t = JACCARD_THRESHOLD
        # PPJoin+ pruning in the join condition (both exact — verification
        # below is the ground truth, these only shrink the candidate set):
        # * length filter: J >= t forces t·max(|A|,|B|) <= min(|A|,|B|)
        # * positional filter: for the EARLIEST common prefix shingle at
        #   (pos_a, pos_b) under the shared global rarest-first order, total
        #   overlap <= min(sz_a - pos_a, sz_b - pos_b); J >= t needs overlap
        #   >= ceil(t/(1+t)·(sz_a+sz_b)). Later matches only tighten the
        #   bound, so any-match-passes == earliest-match-passes. The 1e-9
        #   slack keeps float ceil from over-pruning an exact boundary.
        alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("a.sz") + F.col("b.sz")) - F.lit(1e-9))
        cand = (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.greatest("a.sz", "b.sz") * t <= F.least("a.sz", "b.sz"))
                & (
                    F.least(F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos"))
                    >= alpha
                ),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        sa = docsets.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"))
        sb = docsets.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
        inter = F.size(F.array_intersect("shs_a", "shs_b"))
        union = F.size("shs_a") + F.size("shs_b") - inter
        jac = inter / union
        # r6: the threshold test in INTEGER form. `jac >= t` is pushed into
        # the verify join's condition, where codegen does no subexpression
        # elimination — the double form evaluates array_intersect (the
        # dominant per-candidate cost: a hash-set build over both shingle
        # sets) TWICE per candidate pair, once for the numerator and once
        # inside `union`. With t = p/q exactly (Fraction(double) is the
        # double's exact rational; t=0.5 -> 1/2):
        #   inter/union >= p/q  <=>  (q+p)*inter >= p*(|A|+|B|)
        # in exact arithmetic. The double division cannot flip the
        # comparison only while q is small: inter, |A|, |B| are exact ints
        # and the true quotient is either >= t or <= t - 1/(q*union), a gap
        # wider than half an ulp at t while q*union stays far below 2^53.
        # A double's exact rational has a power-of-two denominator, so the
        # assert admits only dyadic thresholds k/2^j with 2^j <= 1000 (0.5,
        # 0.75, 0.625, ...); for those this is bit-equivalent to the
        # oracle's `n_common*1.0/union >= t`. A decimal such as 0.8 is
        # 3602879701896397/2^52: the equivalence fails at exact 4/5
        # quotients and p*(|A|+|B|) overflows.
        # The emitted `jaccard` value still uses the same double division.
        from fractions import Fraction

        tf = Fraction(JACCARD_THRESHOLD)
        assert tf.denominator <= 1000, (
            f"JACCARD_THRESHOLD={JACCARD_THRESHOLD} is not a small-denominator "
            "dyadic fraction; the integer verify filter is exact only for those"
        )
        keep = inter * F.lit(tf.denominator + tf.numerator) >= (
            F.size("shs_a") + F.size("shs_b")
        ) * F.lit(tf.numerator)
        return (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(keep)
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
            .orderBy("doc_a", "doc_b")
        )

    band_sql = ",".join(str(b) for b in range(MINHASH_SEEDS // BAND_SIZE))
    seed_sql = ",".join(str(s) for s in range(MINHASH_SEEDS))

    @query(
        "dedup_minhash_lsh",
        sql=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        sig AS (
          SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minh
          FROM sh, LATERAL unnest([{seed_sql}]) AS s(seed)
          GROUP BY doc_id, seed
        ),
        bands AS (
          SELECT doc_id, seed // {BAND_SIZE} AS band,
                 md5(string_agg(minh, ',' ORDER BY seed)) AS bucket
          FROM sig GROUP BY doc_id, seed // {BAND_SIZE}
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ORDER BY doc_a, doc_b
        """,
    )
    def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
        # All k min-hashes as k aggregate expressions over the UNEXPLODED
        # (doc_id, shingle) rows: map-side partial agg reduces each partition
        # to one row per doc before the shuffle, instead of shuffling
        # k × |shingles| exploded rows (8× less shuffle volume at 100 TB).
        # No distinct: min() is duplicate-invariant, so the signature over
        # the shingle MULTISET equals the one over the set — skipping the
        # (doc_id, shingle-string) dedup removes a whole string shuffle
        # (the oracle keeps its DISTINCT; results are provably identical).
        #
        # r6: the banded relation feeds BOTH sides of the self-join, and the
        # planner builds the broadcast side as a full second evaluation of
        # the signature pipeline (no ReusedExchange across a
        # BroadcastExchange boundary — the r6 plan held the whole
        # explode→agg subtree twice; tests/test_plans.py pins the shuffle
        # count of the plan over the checkpoint). A lazy localCheckpoint
        # materializes the signatures ONCE inside the timed action and both
        # join sides read the checkpointed partitions; RDD-level storage, so
        # no CacheManager entry can leak into other queries' plans. The
        # returned frame reads the checkpoint, so the scope of the caller
        # that runs the action frees it (``session.owned_blocks``).
        docs = read_table(spark, sf_dir, "documents")
        bands = lsh_bands(docs).localCheckpoint(eager=False)
        a = bands.alias("a")
        b = bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
            .orderBy("doc_a", "doc_b")
        )

    bit_exprs_sql = ", ".join(str(b) for b in range(16))

    @query(
        "dedup_simhash",
        sql=f"""
        WITH toks AS (
          SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
          ) WHERE tok <> ''
        ),
        bits AS (
          SELECT doc_id, b,
                 CASE WHEN sum(CASE WHEN substr(md5(b || ':' || tok), 1, 1) >= '8' THEN 1 ELSE 0 END) * 2
                           >= count(*) THEN 1 ELSE 0 END AS bit
          FROM toks, LATERAL unnest([{bit_exprs_sql}]) AS s(b)
          GROUP BY doc_id, b
        )
        SELECT doc_id, string_agg(bit::VARCHAR, '' ORDER BY b) AS simhash
        FROM bits GROUP BY doc_id ORDER BY doc_id
        """,
    )
    def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
        # 16 bit-majorities as 16 aggregate expressions over the unexploded
        # (doc_id, tok) rows — one groupBy pass, map-side combine, no 16×
        # token explode (same shuffle-narrowing as dedup_minhash above).
        # r6 note: spreading the scan and pinning the distinct exchange at
        # full width were both tried and MEASURED SLOWER (interleaved A/B at
        # sf0.1: 0.35 s original vs 0.74/0.82 s) — the 16 md5 bit signals
        # over the deduped token relation are cheap enough here that an
        # extra exchange of the exploded tokens costs more than it
        # parallelizes. Kept in the original shape; see OPTIMIZATION_r06.md.
        # r6 third session: per-doc token dedup via array_distinct in the
        # projection (map-side) instead of a corpus-wide (doc_id, tok)
        # DISTINCT — drops the distinct's Exchange+HashAggregate pair, and
        # the remaining groupBy(doc_id) gets map-side partial aggregation
        # over already-unique per-doc tokens. Same (doc_id, tok) set, so
        # every bit majority — and the oracle-hashed simhash string — is
        # identical.
        docs = read_table(spark, sf_dir, "documents")
        toks = docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(F.lower(F.col("text")), " "))).alias("tok"),
        ).filter(F.col("tok") != "")
        bit_aggs = []
        for b in range(16):
            token_bit = F.when(
                F.substring(F.md5(F.concat(F.lit(f"{b}:"), F.col("tok"))), 1, 1) >= "8", 1
            ).otherwise(0)
            bit_aggs.append(
                F.when(F.sum(token_bit) * 2 >= F.count("*"), 1).otherwise(0).cast("string").alias(f"bit{b}")
            )
        return (
            toks.groupBy("doc_id")
            .agg(*bit_aggs)
            .select("doc_id", F.concat(*[F.col(f"bit{b}") for b in range(16)]).alias("simhash"))
            .orderBy("doc_id")
        )


SPAN_DEDUP_OWNER_ENC = 1_000_000  # pos < 1e6 per doc: owner = doc_id*1e6 + pos
SPAN_DEDUP_HOT_K = 65536  # bounded hot-span broadcast list (the Zipf head)
SPAN_DEDUP_HOT_MIN = 8  # spans below this corpus count carry no skew risk


def keyed_min_owner(ex: DataFrame, key: str, hot_min: int = SPAN_DEDUP_HOT_MIN) -> DataFrame:
    """``ex`` plus an ``owner`` column = min(owner_key) over rows sharing
    ``key``, with the hot-key broadcast split: AQE's OptimizeSkewedJoin
    structurally cannot split the join-back (the owner aggregate sits
    between the shuffle stage and the join), so the Zipf head is handled
    explicitly — the top SPAN_DEDUP_HOT_K keys by count (count >= ``hot_min``)
    ride as a constant-size broadcast and never shuffle on ``key``; only
    the uniform cold tail takes the shuffled join. Shared by
    global_span_dedup and exact_substring_dedup.

    r6 note: ADVICE r5 flagged the owner aggregate's double evaluation
    (hot top-K build + cold join-back). Materializing it once via
    localCheckpoint was tried and MEASURED SLOWER (interleaved A/B at
    sf0.1: 1.9–2.9 s vs 0.36 s without — the checkpoint barrier +
    store/reload costs more than re-running the cheap explode+groupBy), so
    the double evaluation is kept deliberately; see OPTIMIZATION_r06.md."""
    owner = ex.groupBy(key).agg(
        F.min("owner_key").alias("owner"), F.count("*").alias("cnt")
    )
    hot = (
        owner.filter(F.col("cnt") >= hot_min)  # prune BEFORE the top-K: the
        # candidate set is tiny on any corpus, so TakeOrdered heaps over a
        # few thousand rows instead of every distinct key
        .orderBy(F.desc("cnt"), F.asc(key))
        .limit(SPAN_DEDUP_HOT_K)
        .select(key, F.col("owner").alias("hot_owner"))
    )
    exb = ex.join(F.broadcast(hot), key, "left")
    hot_rows = (
        exb.filter(F.col("hot_owner").isNotNull())
        .withColumn("owner", F.col("hot_owner"))
        .drop("hot_owner")
    )
    cold_rows = (
        exb.filter(F.col("hot_owner").isNull())
        .drop("hot_owner")
        .join(owner.select(key, "owner"), key)
    )
    return hot_rows.unionByName(cold_rows)


def span_dedup_frame(
    docs: DataFrame,
    span: int = 3,
    owner_enc: int = SPAN_DEDUP_OWNER_ENC,
    hot_min: int = SPAN_DEDUP_HOT_MIN,
) -> DataFrame:
    """Spark side of global_span_dedup, parameterized so tests can exercise
    the owner-encoding overflow guard and the hot-span split directly.

    Skew (r5): real text has Zipf-headed spans ("of the and" style), and the
    owner join-back keys on span — but AQE's OptimizeSkewedJoin structurally
    CANNOT split this join: the owner side's final aggregate sits between
    the shuffle stage and the join, and the rule only matches
    SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) with ENSURE_REQUIREMENTS
    origin (verified empirically — a 70%-hot corpus plans zero skew splits).
    So skew is handled explicitly with the classic hot-key broadcast split:
    the owner aggregation already produces per-span counts, the top
    SPAN_DEDUP_HOT_K spans by count (a bounded TakeOrdered — constant-size
    broadcast at any corpus scale) with count >= ``hot_min`` become a
    broadcast map-side join, and only the uniform cold tail — every
    remaining span has < the 65537th-hottest span's count — takes the
    shuffled span join. Hot rows never shuffle on span at all.

    A document with >= owner_enc spans would silently collide owner keys
    (wrong keep/drop decisions), so the encoding raises instead."""
    # the lambda slices the projected `toks` column, never the split itself
    # (see word_grams: a lambda re-evaluates outer expressions per element)
    toks = F.col("toks")
    n_chunks = F.floor((F.size(toks) + span - 1) / span).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * span + 1, span)),
    )
    # r6 note: `spread(docs)` here was tried and measured SLOWER (1.77 s →
    # 2.19 s interleaved A/B at sf0.1): the ex subtree is evaluated five
    # times (owner ×2, hot/cold branches, hot list) and each evaluation
    # would repeat the width-restoring exchange of the full text column.
    ex = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks")).select(
        "doc_id", F.posexplode(spans).alias("pos", "span")
    )
    # owner = doc_id*owner_enc + pos, valid only while pos < owner_enc —
    # fail loudly on oversized documents instead of colliding silently
    enc = F.when(
        F.col("pos") >= owner_enc,
        F.raise_error(
            F.concat(
                F.lit(f"global_span_dedup: pos >= {owner_enc} overflows owner encoding in doc "),
                F.col("doc_id").cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col("doc_id") * owner_enc + F.col("pos"))
    ex = ex.withColumn("owner_key", enc)
    marked = keyed_min_owner(ex, key="span", hot_min=hot_min).withColumn(
        "keep", F.col("owner_key") == F.col("owner")
    )
    kept_sorted = F.array_sort(
        F.collect_list(F.when(F.col("keep"), F.struct("pos", "span")))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept_spans"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("removed_spans"),
            F.substring(
                F.md5(
                    F.concat_ws(
                        " ",
                        F.transform(kept_sorted, lambda s: s.getField("span")),
                    )
                ),
                1,
                16,
            ).alias("cleaned_fp"),
        )
        .orderBy("doc_id")
    )


def register_span_dedup(query) -> None:
    """C4-style global span dedup (Raffel et al. 2020 §2.2 deduplicate
    "three-sentence spans" across the corpus, re-expressed for the
    single-line corpus as word 3-gram chunks): chunk every document into
    consecutive ≤3-word spans, keep each distinct span's FIRST occurrence
    corpus-wide (min (doc_id, pos) — encoded as one integer so both engines
    agree without composite min_by), drop later instances, and rebuild the
    cleaned document.

    100 TB shape: one explode → one groupBy(span) with map-side combine →
    one join back on span → one groupBy(doc) rebuild. The span relation is
    the only large shuffle and its key is the span text (hash-valued
    cardinality — grows with the corpus, never a fixed bucket count)."""
    SPAN = 3
    OWNER_ENC = SPAN_DEDUP_OWNER_ENC

    @query(
        "global_span_dedup",
        sql=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        chunks AS (
          SELECT doc_id, u.i::INT AS pos,
                 array_to_string(t[(u.i * {SPAN} + 1):(u.i * {SPAN} + {SPAN})], ' ') AS span
          FROM toks, LATERAL unnest(range((len(t) + {SPAN} - 1) // {SPAN})) AS u(i)
        ),
        keyed AS (
          SELECT doc_id, pos, span,
                 CASE WHEN pos >= {OWNER_ENC}
                      THEN error('global_span_dedup: pos overflows owner encoding')
                      ELSE doc_id * {OWNER_ENC} + pos END AS owner_key
          FROM chunks
        ),
        owner AS (
          SELECT span, min(owner_key) AS owner FROM keyed GROUP BY span
        ),
        marked AS (
          SELECT c.doc_id, c.pos, c.span, (c.owner_key = o.owner) AS keep
          FROM keyed c JOIN owner o ON c.span = o.span
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_spans,
               CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS removed_spans,
               substring(md5(coalesce(string_agg(CASE WHEN keep THEN span END, ' ' ORDER BY pos), '')), 1, 16) AS cleaned_fp
        FROM marked GROUP BY doc_id ORDER BY doc_id
        """,
    )
    def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        return span_dedup_frame(docs, span=SPAN, owner_enc=OWNER_ENC)


SUBSTR_L = 5  # minimum duplicated run length, in tokens (Lee et al. use 50 BPE
# tokens at web scale; 5 keeps the check non-vacuous on the short test docs)


def substring_dedup_frame(docs: DataFrame) -> DataFrame:
    """Exact substring dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", ExactSubstr): remove every corpus-wide
    repeated token run of length >= L (SUBSTR_L) from all but its first
    occurrence.
    The suffix-array formulation is re-expressed relationally: any repeated
    run of length >= L is a union of repeated L-grams, so SLIDING L-gram
    positions (stride 1 — unlike global_span_dedup's disjoint chunks) whose
    gram occurred earlier elsewhere mark intervals [pos, pos+L), and merging
    overlapping-or-adjacent intervals per document yields exactly the
    maximal duplicated ranges to drop.

    Scale shape: one posexplode -> keyed_min_owner (hot-key broadcast split;
    sliding grams over real text are Zipf-headed) -> per-doc window interval
    merge (partitioned by doc_id, bounded rows) -> doc-keyed join back for
    the token rebuild. No pairwise doc comparison anywhere."""
    toks = F.split(F.col("text"), " ")
    L, owner_enc = SUBSTR_L, SPAN_DEDUP_OWNER_ENC
    ex = docs.select("doc_id", F.posexplode(word_grams(toks, L)).alias("pos", "gram"))
    enc = F.when(
        F.col("pos") >= owner_enc,
        F.raise_error(F.lit("exact_substring_dedup: pos overflows owner encoding")).cast(
            "long"
        ),
    ).otherwise(F.col("doc_id") * owner_enc + F.col("pos"))
    ex = ex.withColumn("owner_key", enc)
    dups = (
        keyed_min_owner(ex, key="gram")
        .filter(F.col("owner_key") != F.col("owner"))
        .select("doc_id", "pos")
    )
    # merge overlapping-or-adjacent [pos, pos+L) intervals per doc: a new
    # maximal range starts where pos exceeds the running max end of all
    # earlier intervals (classic sweep, per-doc window — never global)
    wprev = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, -1)
    )
    wrun = W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, 0)
    flagged = dups.withColumn(
        "new_range",
        F.when(
            F.col("pos") > F.coalesce(F.max(F.col("pos") + L).over(wprev), F.lit(-1)),
            1,
        ).otherwise(0),
    ).withColumn("grp", F.sum("new_range").over(wrun))
    merged = flagged.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("s"), (F.max("pos") + L).alias("e")
    )
    ranges = merged.groupBy("doc_id").agg(
        F.count("*").alias("removed_ranges"),
        F.sum(F.col("e") - F.col("s")).alias("removed_tokens"),
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivals"),
    )
    toks_i = F.filter(
        F.transform(toks, lambda x, i: F.struct(i.alias("i"), x.alias("t"))),
        lambda st: ~F.exists(
            F.col("ivals"),
            lambda v: (st["i"] >= v["s"]) & (st["i"] < v["e"]),
        ),
    )
    return (
        docs.join(ranges, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("removed_ranges", F.lit(0)).cast("long").alias("removed_ranges"),
            F.coalesce("removed_tokens", F.lit(0)).cast("long").alias("removed_tokens"),
            F.substring(
                F.md5(
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.when(F.col("ivals").isNotNull(), toks_i).otherwise(
                                F.transform(
                                    toks,
                                    lambda x, i: F.struct(i.alias("i"), x.alias("t")),
                                )
                            ),
                            lambda st: st["t"],
                        ),
                    )
                ),
                1,
                16,
            ).alias("kept_fp"),
        )
        .orderBy("doc_id")
    )


def register_substring_dedup(query) -> None:
    L = SUBSTR_L
    OWNER_ENC = SPAN_DEDUP_OWNER_ENC

    @query(
        "exact_substring_dedup",
        sql=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        grams AS (
          SELECT doc_id, u.i::INT AS pos,
                 array_to_string(t[(u.i + 1):(u.i + {L})], ' ') AS gram
          FROM toks, LATERAL unnest(range(greatest(len(t) - {L} + 1, 0))) AS u(i)
        ),
        keyed AS (
          SELECT doc_id, pos, gram,
                 CASE WHEN pos >= {OWNER_ENC}
                      THEN error('exact_substring_dedup: pos overflows owner encoding')
                      ELSE doc_id * {OWNER_ENC} + pos END AS owner_key
          FROM grams
        ),
        owner AS (SELECT gram, min(owner_key) AS owner FROM keyed GROUP BY gram),
        dups AS (
          SELECT k.doc_id, k.pos FROM keyed k JOIN owner o ON k.gram = o.gram
          WHERE k.owner_key <> o.owner
        ),
        flagged AS (
          SELECT doc_id, pos,
                 CASE WHEN pos > coalesce(max(pos + {L}) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                      THEN 1 ELSE 0 END AS new_range
          FROM dups
        ),
        grouped AS (
          SELECT doc_id, pos,
                 sum(new_range) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM flagged
        ),
        merged AS (
          SELECT doc_id, grp, min(pos) AS s, max(pos) + {L} AS e
          FROM grouped GROUP BY doc_id, grp
        ),
        tok_rows AS (
          SELECT doc_id, u.i::INT AS ti, t[u.i + 1] AS tok
          FROM toks, LATERAL unnest(range(len(t))) AS u(i)
        ),
        kept AS (
          SELECT tr.doc_id,
                 md5(coalesce(string_agg(tr.tok, ' ' ORDER BY tr.ti)
                     FILTER (WHERE NOT EXISTS (
                       SELECT 1 FROM merged m
                       WHERE m.doc_id = tr.doc_id AND tr.ti >= m.s AND tr.ti < m.e
                     )), '')) AS fp
          FROM tok_rows tr GROUP BY tr.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(r.removed_ranges, 0) AS BIGINT) AS removed_ranges,
               CAST(coalesce(r.removed_tokens, 0) AS BIGINT) AS removed_tokens,
               substring(k.fp, 1, 16) AS kept_fp
        FROM documents d
        LEFT JOIN (
          SELECT doc_id, count(*) AS removed_ranges, sum(e - s) AS removed_tokens
          FROM merged GROUP BY doc_id
        ) r ON d.doc_id = r.doc_id
        JOIN kept k ON d.doc_id = k.doc_id
        ORDER BY d.doc_id
        """,
    )
    def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        return substring_dedup_frame(docs)
