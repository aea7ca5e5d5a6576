"""Corpus-graph operators: connected components, decontamination,
stratified sampling (operators/corpusops.py). The value-level ground truth
is the DuckDB oracle (tests/test_queries_oracle.py hash-checks all three
at sf0.001; the driver re-certifies at sf0.01); these tests pin behaviors
the hash cannot see: convergence semantics, the broadcast plan shape, and
the sampling law's determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_cc_identical_docs_form_components(spark):
    from smoldocling_ocr_spark.operators.corpusops import connected_components

    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_b = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(10, text_a), (11, text_a), (12, text_b), (13, text_b), (14, "lone words here only")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: (r.component, r.csize) for r in connected_components(docs).collect()}
    assert rows[10] == (10, 2) and rows[11] == (10, 2)
    assert rows[12] == (12, 2) and rows[13] == (12, 2)
    assert rows[14] == (14, 1)


def test_cc_nonconvergence_raises(spark):
    from smoldocling_ocr_spark.operators.corpusops import connected_components

    docs = spark.createDataFrame(
        [(1, "same text body here"), (2, "same text body here")], ["doc_id", "text"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        # max_iters=0 -> the loop body never runs -> loud failure, never a
        # silent partial labeling
        connected_components(docs, max_iters=0)


def test_cc_label_is_component_min(spark):
    """Every emitted component id is the min doc_id of its member set —
    the fixpoint invariant the iterative job must reach."""
    from smoldocling_ocr_spark.operators.corpusops import connected_components
    from smoldocling_ocr_spark.sources.documents import read_table

    docs = read_table(spark, SF_DIR, "documents")
    rows = connected_components(docs).collect()
    by_comp: dict[int, list[int]] = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r.doc_id)
    for comp, members in by_comp.items():
        assert comp == min(members)
    sizes = {r.component: r.csize for r in rows}
    for comp, members in by_comp.items():
        assert sizes[comp] == len(members)


def test_decontamination_plan_broadcasts_benchmark_index(spark):
    """The benchmark gram index must ride as an explicit broadcast (it
    survives autoBroadcastJoinThreshold=-1): the corpus-side scan is a
    map-side join, never a shuffled join on gram text."""
    from smoldocling_ocr_spark.plans.catalog import spark_queries

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = spark_queries()["decontamination_scan"](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        tree = plan.split("\n\n(")[0]
        # exactly one broadcast (gram match) and one shuffled join (the
        # final doc_id left join — ints, uniform); the corpus gram relation
        # is deduped per-doc via array_distinct, so no corpus-sized
        # distinct shuffle appears either
        assert tree.count("BroadcastHashJoin") == 1, tree
        assert tree.count("SortMergeJoin") + tree.count("ShuffledHashJoin") == 1, tree
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_stratified_sample_law(spark):
    """Membership is exactly u < threshold(lang) with u the first 8 md5 hex
    nibbles of 'smpl:<doc_id>' — recomputed independently in Python."""
    import hashlib

    from smoldocling_ocr_spark.operators.corpusops import (
        SAMPLE_DEFAULT_THRESHOLD,
        SAMPLE_THRESHOLDS,
    )
    from smoldocling_ocr_spark.plans.catalog import spark_queries
    from smoldocling_ocr_spark.sources.documents import read_table

    docs = {r.doc_id: r.lang for r in read_table(spark, SF_DIR, "documents").collect()}
    kept = {r.doc_id for r in spark_queries()["stratified_sample_by_lang"](spark, SF_DIR).collect()}
    expected = {
        did
        for did, lang in docs.items()
        if hashlib.md5(f"smpl:{did}".encode()).hexdigest()[:8]
        < SAMPLE_THRESHOLDS.get(lang, SAMPLE_DEFAULT_THRESHOLD)
    }
    assert kept == expected and kept  # non-empty and law-exact


def test_exact_substring_dedup_interval_merge(spark):
    """A 7-token run copied from an earlier doc yields three overlapping
    dup 5-gram positions that must merge into ONE maximal range of exactly
    7 removed tokens; the first occurrence keeps its text intact."""
    from smoldocling_ocr_spark.operators.dedup import substring_dedup_frame

    run = "r1 r2 r3 r4 r5 r6 r7"
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 {run} a3 a4"),
            (2, f"b1 b2 b3 {run} b4"),  # run repeated -> drop here
            (3, "c1 c2 c3 c4 c5 c6"),  # no dup grams
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in substring_dedup_frame(docs).collect()}
    assert rows[1].removed_ranges == 0 and rows[1].removed_tokens == 0
    assert rows[2].removed_ranges == 1 and rows[2].removed_tokens == 7
    assert rows[3].removed_ranges == 0 and rows[3].removed_tokens == 0
    import hashlib

    kept2 = "b1 b2 b3 b4"
    assert rows[2].kept_fp == hashlib.md5(kept2.encode()).hexdigest()[:16]


def test_unigram_plan_hot_broadcast(spark):
    """The vocabulary head must join as an explicit broadcast (survives
    threshold -1); at most one shuffled join (the cold word tail)."""
    from smoldocling_ocr_spark.plans.catalog import spark_queries

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = spark_queries()["unigram_freq_score"](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        tree = plan.split("\n\n(")[0]
        assert tree.count("BroadcastHashJoin") >= 1, tree
        assert tree.count("SortMergeJoin") + tree.count("ShuffledHashJoin") <= 1, tree
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_substring_dedup_plan_shape(spark):
    """exact_substring_dedup inherits keyed_min_owner's hot-split shape:
    one shuffled gram join for the cold tail, explicit broadcasts for the
    hot list, plus the doc-keyed rebuild join — no cartesian anywhere."""
    from smoldocling_ocr_spark.plans.catalog import spark_queries

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = spark_queries()["exact_substring_dedup"](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        tree = plan.split("\n\n(")[0]
        assert tree.count("BroadcastHashJoin") == 2, tree  # hot list x2 (probe + hot branch)
        # cold gram join + doc-keyed rebuild join
        assert tree.count("SortMergeJoin") + tree.count("ShuffledHashJoin") == 2, tree
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_substring_dedup_fully_duplicated_doc(spark):
    """A doc whose entire text is a copy of an earlier doc loses ALL its
    tokens: one maximal range, kept_fp == md5('')."""
    import hashlib

    from smoldocling_ocr_spark.operators.dedup import substring_dedup_frame

    t = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
    rows = {r.doc_id: r for r in substring_dedup_frame(docs).collect()}
    assert rows[1].removed_tokens == 0
    assert rows[2].removed_ranges == 1 and rows[2].removed_tokens == 8
    assert rows[2].kept_fp == hashlib.md5(b"").hexdigest()[:16]


def test_substring_dedup_vs_bruteforce_reference(spark):
    """Randomized cross-check against an independent brute-force Python
    implementation of the ExactSubstr semantics (sliding L-gram first-
    occurrence ownership -> interval merge -> token drop) on a tiny-vocab
    corpus engineered for heavy gram collisions."""
    import hashlib
    import random

    from smoldocling_ocr_spark.operators.dedup import SUBSTR_L, substring_dedup_frame

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(7)]  # tiny vocab -> many repeated 5-grams
    docs = [
        (did, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40))))
        for did in range(40)
    ]

    L = SUBSTR_L
    first: dict[tuple, tuple] = {}
    grams_by_doc: dict[int, list[tuple]] = {}
    for did, text in docs:  # docs are in doc_id order: first-seen == min owner
        toks = text.split(" ")
        for p in range(len(toks) - L + 1):
            g = tuple(toks[p : p + L])
            first.setdefault(g, (did, p))
            grams_by_doc.setdefault(did, []).append((p, g))
    expected = {}
    for did, text in docs:
        toks = text.split(" ")
        dup_pos = sorted(
            p for p, g in grams_by_doc.get(did, []) if first[g] != (did, p)
        )
        merged = []
        for p in dup_pos:  # merge overlapping-or-adjacent [p, p+L)
            if merged and p <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], p + L)
            else:
                merged.append([p, p + L])
        covered = set()
        for s, e in merged:
            covered.update(range(s, e))
        kept = " ".join(t for i, t in enumerate(toks) if i not in covered)
        expected[did] = (
            len(merged),
            sum(e - s for s, e in merged),
            hashlib.md5(kept.encode()).hexdigest()[:16],
        )

    got = {
        r.doc_id: (r.removed_ranges, r.removed_tokens, r.kept_fp)
        for r in substring_dedup_frame(
            spark.createDataFrame(docs, ["doc_id", "text"])
        ).collect()
    }
    assert got == expected
    # the corpus must actually exercise the operator
    assert sum(v[1] for v in expected.values()) > 0


def test_cc_vs_unionfind_reference(spark):
    """Cross-check connected_components against an independent Python
    union-find over the SAME md5 minhash-band law: buckets -> star edges ->
    components. Catches label-propagation convergence/ordering bugs the
    fixed-corpus oracle could miss."""
    import hashlib
    import random

    from smoldocling_ocr_spark.operators.corpusops import connected_components
    from smoldocling_ocr_spark.operators.dedup import BAND_SIZE, MINHASH_SEEDS

    rng = random.Random(99)
    base = ["alpha beta gamma delta epsilon zeta eta theta iota kappa",
            "one two three four five six seven eight nine ten"]
    docs = []
    for did in range(30):
        if rng.random() < 0.5:
            t = rng.choice(base)
            if rng.random() < 0.5:  # near-dup: shared shingles remain
                t = t + " extra" + str(rng.randint(0, 2))
        else:
            t = " ".join(f"u{did}_{i}" for i in range(8))
        docs.append((did, t))

    def shingles(text):
        toks = text.lower().split(" ")
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))}

    buckets: dict[tuple, list[int]] = {}
    for did, text in docs:
        sh = shingles(text)
        mins = [
            min(hashlib.md5(f"{s}:{g}".encode()).hexdigest() for g in sh)
            for s in range(MINHASH_SEEDS)
        ]
        for b in range(MINHASH_SEEDS // BAND_SIZE):
            key = hashlib.md5(
                ",".join(mins[b * BAND_SIZE : (b + 1) * BAND_SIZE]).encode()
            ).hexdigest()
            buckets.setdefault((b, key), []).append(did)

    parent = {did: did for did, _ in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in buckets.values():
        for m in members[1:]:
            ra, rb = find(members[0]), find(m)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for did, _ in docs:
        comp.setdefault(find(did), []).append(did)
    expected = {
        did: (min(members), len(members))
        for members in comp.values()
        for did in members
    }

    got = {
        r.doc_id: (r.component, r.csize)
        for r in connected_components(
            spark.createDataFrame(docs, ["doc_id", "text"])
        ).collect()
    }
    assert got == expected
    assert any(v[1] > 2 for v in expected.values())  # a multi-doc chain exists


def test_sequence_packing_conservation_invariants(spark):
    """Packing must conserve tokens (sum over bins == sum over chunks),
    keep bins contiguous from 0 per shard, and fill every non-final bin
    to at least the budget boundary's chunk-granularity remainder."""
    from smoldocling_ocr_spark.operators.corpusops import PACK_BUDGET, PACK_SHARDS
    from smoldocling_ocr_spark.plans.catalog import spark_queries

    chunks = spark_queries()["training_chunks"](spark, SF_DIR).collect()
    packed = spark_queries()["sequence_packing"](spark, SF_DIR).collect()
    assert sum(r.n_tokens for r in packed) == sum(r.n_tokens for r in chunks)
    assert sum(r.n_chunks for r in packed) == len(chunks)
    by_shard: dict[int, list] = {}
    for r in packed:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= set(range(PACK_SHARDS))
    for shard, rows in by_shard.items():
        bins = sorted(r.bin for r in rows)
        assert bins == list(range(len(bins))), f"shard {shard} bins not contiguous"
        # every bin except possibly the last crosses its budget boundary
        # (concat-then-cut: a bin closes only when cumsum passes the edge)
        for r in sorted(rows, key=lambda r: r.bin)[:-1]:
            assert r.n_tokens >= 1
        total = sum(r.n_tokens for r in rows)
        assert total // PACK_BUDGET <= len(bins) <= total // PACK_BUDGET + 1


def test_gram_ops_survive_short_docs(spark):
    """Docs shorter than the gram width must yield EMPTY gram sets (the
    oracle semantics), not crash: below the width the gram slices get a
    negative length, and Spark's slice throws on one — word_grams guards
    every gram-based operator (review r5 finding)."""
    from smoldocling_ocr_spark.operators.corpusops import connected_components
    from smoldocling_ocr_spark.operators.dedup import lsh_bands, word_grams

    docs = spark.createDataFrame(
        [
            (0, ""),  # empty text
            (1, "ok"),  # 1 word
            (2, "two words"),
            (7, "benchmark doc four words"),  # 4 words, bench id, < DECON_NGRAM
            (3, "five full words present here indeed"),
        ],
        ["doc_id", "text"],
    )
    # lsh bands: short docs produce no shingles, hence no band rows
    bands = lsh_bands(docs)
    assert bands.filter(F.col("doc_id").isin(0, 1, 2)).count() == 0
    assert bands.filter(F.col("doc_id") == 3).count() > 0
    # CC over a corpus containing short docs: every doc labeled, no crash
    comps = {r.doc_id: r.component for r in connected_components(docs).collect()}
    assert set(comps) == {0, 1, 2, 3, 7}
    # direct word_grams law: empty arrays below the width
    rows = docs.select("doc_id", word_grams(F.split(F.col("text"), " "), 5).alias("g")).collect()
    by_id = {r.doc_id: r.g for r in rows}
    assert by_id[0] == [] and by_id[1] == [] and by_id[7] == []
    assert len(by_id[3]) == 2


def test_decontamination_handles_short_docs_vs_oracle(spark):
    """decontamination_scan over a table with sub-gram-width docs matches
    the DuckDB oracle (which was always immune) row for row."""
    import duckdb

    from smoldocling_ocr_spark.plans.catalog import oracle_queries, spark_queries
    from tests.driver_mimic import _hash_frame

    import os
    import tempfile

    docs = spark.createDataFrame(
        [(i, "ok" if i % 3 == 0 else "shared words run here now and again %d" % i)
         for i in range(20)],
        ["doc_id", "text"],
    )
    with tempfile.TemporaryDirectory() as td:
        docs.coalesce(1).write.parquet(f"{td}/documents.parquet")
        s = _hash_frame(spark_queries()["decontamination_scan"](spark, td).toPandas())
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{td}/documents.parquet/*.parquet')"
        )
        o = _hash_frame(con.execute(oracle_queries()["decontamination_scan"]).df())
        assert s == o


def _seed_word_grams(toks, n: int):
    """The original word_grams formulation, kept as the reference: the
    lambda slices ``toks`` itself, so an expression ``toks`` is re-evaluated
    for every gram (quadratic in document length)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def test_word_grams_matches_seed_formulation(spark):
    """The zipped-slices word_grams gives the same arrays as the per-gram
    slice form for every width 1..5: on the sf0.001 corpus, on long docs,
    and on the edge texts (empty, NULL, one word, double and
    leading/trailing spaces, repeated tokens)."""
    from smoldocling_ocr_spark.operators.dedup import word_grams

    edge = [
        "",
        None,
        "one",
        "two  spaces  here",
        " leading and trailing ",
        "  ",
        "a a a a a a a a",
        "x y x y x y",
        " ".join(f"w{i % 37}" for i in range(700)),
    ]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    docs = docs.unionByName(
        spark.createDataFrame(
            [(-1 - i, t) for i, t in enumerate(edge)], "doc_id long, text string"
        )
    )
    for n in range(1, 6):
        for toks in (F.split(F.lower(F.col("text")), " "), F.split(F.col("text"), " ")):
            diff = docs.filter(~word_grams(toks, n).eqNullSafe(_seed_word_grams(toks, n)))
            assert diff.count() == 0, (n, diff.limit(3).collect())
