"""Focused tests for the round-6 optimization internals.

Each r6 optimization claims VALUE-IDENTITY with the shape it replaced
(bench.py and the oracle gate enforce it end-to-end; these tests pin the
claim at the unit level so a future refactor cannot silently break it):

* ``_matrix_expr`` — parsed-SQL nested array literal == ``F.lit`` nested
  literal, element for element, including awkward float reprs.
* ``_scores_expr`` — the norm-hoisted zip_with form is bit-identical to
  the original transform-of-``_cosine`` form.
* ``lsh_verified_pairs`` — the per-vector norm hoist leaves every rounded
  sim value identical to the per-pair ``_cosine`` verify.
* ``spread`` — widens only scans narrower than the session parallelism
  and never changes the row multiset.
* jaccard integer verify filter — (q+p)·inter ≥ p·(|A|+|B|) agrees with
  the oracle's double comparison on every feasible (inter, |A|, |B|).
* per-doc ``array_distinct`` shingle/token builds — row-identical to the
  corpus-wide DISTINCT they replaced, including repeat-heavy and
  sub-width docs.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from smoldocling_ocr_spark.session import get_spark

    s = get_spark(app_name="test_r6_opt", cores=8)
    yield s


# awkward values: shortest-repr scientific notation, negative zero,
# non-terminating binary fractions, tiny/huge magnitudes
_AWKWARD = [1e-05, -0.0, 1 / 3, 2.5e300, 5e-324, -17.125, 0.1 + 0.2]


def test_matrix_expr_matches_lit_floats(spark):
    from smoldocling_ocr_spark.operators.simsearch import _matrix_expr

    matrix = [_AWKWARD, [float(i) for i in range(7)]]
    got = spark.range(1).select(_matrix_expr(matrix).alias("m")).first()["m"]
    want = spark.range(1).select(F.lit(matrix).alias("m")).first()["m"]
    assert got == want
    # bit-exactness, not just ==-equality (== would pass 0.0 for -0.0)
    for ga, wa in zip(got, want):
        for g, w in zip(ga, wa):
            assert math.copysign(1.0, g) == math.copysign(1.0, w)
            assert repr(g) == repr(w)


def test_matrix_expr_matches_lit_ints(spark):
    from smoldocling_ocr_spark.operators.simsearch import _matrix_expr

    books = [[[-64, 0, 63], [1, 2, 3]], [[7, -7, 0], [128, -128, 5]]]
    got = spark.range(1).select(_matrix_expr(books).alias("m")).first()["m"]
    want = spark.range(1).select(F.lit(books).alias("m")).first()["m"]
    assert got == want


def test_scores_expr_bit_identical_to_cosine_transform(spark):
    from smoldocling_ocr_spark.operators.simsearch import (
        DIM,
        _cosine,
        _matrix_expr,
        _norm,
        _scores_expr,
    )
    from smoldocling_ocr_spark.sources.documents import read_table

    emb = read_table(spark, SF_DIR, "embeddings").limit(50)
    centroids = [
        [((i * 31 + j * 7) % 97 - 48) / 17.0 for j in range(DIM)] for i in range(5)
    ]
    # the pre-r6 form: one _cosine evaluation per centroid
    old = F.transform(
        _matrix_expr([[float(v) for v in c] for c in centroids]),
        lambda c: _cosine(F.col("embedding"), c),
    )
    old_rows = emb.select("vec_id", old.alias("s")).orderBy("vec_id").collect()
    # the production form: the row norm hoisted into its own projection
    new_rows = (
        emb.select("vec_id", "embedding", _norm(F.col("embedding")).alias("_ne"))
        .select("vec_id", _scores_expr(centroids, F.col("_ne")).alias("s"))
        .orderBy("vec_id")
        .collect()
    )
    for o, n in zip(old_rows, new_rows):
        assert o.vec_id == n.vec_id
        assert list(o.s) == list(n.s), f"scores diverge for vec {o.vec_id}"


def test_lsh_verified_norm_hoist_value_identical(spark):
    """Candidates + per-pair _cosine (the pre-r6 verify) must equal the
    norm-hoisted production form row for row, sim for sim."""
    from smoldocling_ocr_spark.operators.simsearch import (
        NEARDUP_THRESHOLD,
        _cosine,
        band_bits,
        bands_for_bits,
        _band_key,
        lsh_verified_pairs,
        parquet_row_count,
    )
    from smoldocling_ocr_spark.sources.documents import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    n = parquet_row_count(SF_DIR, "embeddings")
    got = {
        (r.vec_a, r.vec_b): r.sim
        for r in lsh_verified_pairs(emb, n_rows=n).collect()
    }
    bits = band_bits(n)
    n_bands = bands_for_bits(bits)
    keys = F.array(*[_band_key(b, bits) for b in range(n_bands)])
    banded = emb.select("vec_id", F.posexplode(keys).alias("band", "bkey"))
    a = banded.select(F.col("vec_id").alias("vec_a"), "band", "bkey")
    c = banded.select(F.col("vec_id").alias("vec_b"), "band", "bkey")
    cand = (
        a.join(c, ["band", "bkey"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    sim = _cosine(F.col("ea"), F.col("eb"))
    want = {
        (r.vec_a, r.vec_b): r.sim
        for r in (
            cand.join(ea, "vec_a")
            .join(eb, "vec_b")
            .filter(sim > NEARDUP_THRESHOLD)
            .select("vec_a", "vec_b", F.round(sim, 5).alias("sim"))
        ).collect()
    }
    assert got == want and len(got) > 0


def test_spread_noop_when_wide_enough(spark):
    from smoldocling_ocr_spark.sources.documents import spread

    p = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(p)
    assert spread(wide).rdd.getNumPartitions() == p
    # already wider than parallelism: untouched (no narrowing either)
    wider = spark.range(1000).repartition(p * 2)
    assert spread(wider).rdd.getNumPartitions() == p * 2


def test_spread_widens_narrow_scan_and_preserves_rows(spark):
    from smoldocling_ocr_spark.sources.documents import read_table, spread

    docs = read_table(spark, SF_DIR, "documents")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    s = spread(docs)
    assert s.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.doc_id for r in s.select("doc_id").collect()) == sorted(
        r.doc_id for r in docs.select("doc_id").collect()
    )


def test_jaccard_integer_filter_equals_double_threshold(spark):
    """The verify join's integer form (q+p)*inter >= p*(|A|+|B|) must agree
    with the oracle's double comparison inter/union >= t on every feasible
    (inter, sa, sb), including exact-boundary pairs. Exhaustive check over
    all set sizes up to 200 (covers every sz the sf0.001/sf0.01/sf0.1
    corpora produce, avg ~52)."""
    from fractions import Fraction

    from smoldocling_ocr_spark.operators.dedup import JACCARD_THRESHOLD

    tf = Fraction(JACCARD_THRESHOLD)
    p, q = tf.numerator, tf.denominator
    for sa in range(1, 201):
        for sb in range(sa, 201, 7):  # stride the symmetric half for speed
            for inter in range(0, sa + 1):
                union = sa + sb - inter
                double_form = (inter * 1.0 / union) >= JACCARD_THRESHOLD
                int_form = inter * (q + p) >= p * (sa + sb)
                assert int_form == double_form, (inter, sa, sb)


def test_array_distinct_shingles_match_corpus_distinct(spark):
    """The per-doc array_distinct shingle/token builds (jaccard, simhash)
    must yield exactly the rows of the corpus-wide DISTINCT they replaced
    — including docs with heavy internal repetition and sub-width docs."""
    from smoldocling_ocr_spark.operators.dedup import word_grams

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),          # heavy intra-doc gram repeats
            (2, "a b c d e"),
            (3, "x x x x x x"),                 # single repeated token
            (4, "one two"),                     # below gram width
            (5, ""),
        ],
        ["doc_id", "text"],
    )
    toks = F.split(F.lower(F.col("text")), " ")
    old_sh = (
        docs.select("doc_id", F.explode(word_grams(toks, 3)).alias("g"))
        .select("doc_id", F.xxhash64("g").alias("sh"))
        .distinct()
    )
    new_sh = docs.select(
        "doc_id", F.explode(F.array_distinct(word_grams(toks, 3))).alias("g")
    ).select("doc_id", F.xxhash64("g").alias("sh"))
    assert sorted(map(tuple, old_sh.collect())) == sorted(map(tuple, new_sh.collect()))

    old_toks = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    new_toks = docs.select(
        "doc_id", F.explode(F.array_distinct(toks)).alias("tok")
    ).filter(F.col("tok") != "")
    assert sorted(map(tuple, old_toks.collect())) == sorted(map(tuple, new_toks.collect()))
