"""Text-analysis operators: token counting, quality scoring, fingerprinting,
language/script heuristics, size tiering.

All JVM-side (built-in functions, no UDFs) — these are hot-path operations at
100 TB and must stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.documents import read_table
from .dedup import word_grams

_EN_STOPWORDS_RE = r"\b(the|and|is|in|to|of|a|for|that|it|with|as|was|be)\b"
# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks
_BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def register(query) -> None:
    @query(
        "token_counting",
        sql=f"""
        SELECT lang,
               CAST(sum(length(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS ws_tokens,
               CAST(sum(length(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT) AS bpe_tokens,
               count(*) AS docs
        FROM documents GROUP BY lang ORDER BY lang
        """,
    )
    def token_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
        bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0))
        return (
            docs.groupBy("lang")
            .agg(F.sum(ws).alias("ws_tokens"), F.sum(bpe).alias("bpe_tokens"), F.count("*").alias("docs"))
            .orderBy("lang")
        )

    @query(
        "text_quality_scoring",
        sql=f"""
        SELECT doc_id,
               round(least(length(text) / 500.0, 1.0) * 40
                     + least(length(regexp_extract_all(lower(text), '{_EN_STOPWORDS_RE}')) * 1.0
                             / greatest(length(regexp_split_to_array(text, '\\s+')), 1) * 5, 1.0) * 40
                     + (1.0 - least(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) * 1.0
                                    / greatest(length(text), 1) * 4, 1.0)) * 20 + 1e-9, 2) AS quality
        FROM documents ORDER BY doc_id
        """,
    )
    def quality_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
        """0-100 rubric: 40 length + 40 stopword ratio + 20 low-punctuation —
        the validator.py:177-254 additive-rubric pattern over raw text."""
        docs = read_table(spark, sf_dir, "documents")
        length_score = F.least(F.length("text") / 500.0, F.lit(1.0)) * 40
        stop_hits = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(_EN_STOPWORDS_RE), 0))
        words = F.greatest(F.size(F.split(F.col("text"), r"\s+")), F.lit(1))
        stop_score = F.least(stop_hits / words * 5, F.lit(1.0)) * 40
        punct = F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
        punct_score = (1.0 - F.least(punct / F.greatest(F.length("text"), F.lit(1)) * 4, F.lit(1.0))) * 20
        # +1e-9 tie-break before the 2dp round: the rubric lands on exact
        # .005 boundaries, where cross-engine float accumulation (~1e-13
        # apart) and the engines' different tie rules (Spark HALF_UP on the
        # decimal string vs DuckDB on the binary value) each flip rows. The
        # epsilon is 4 orders above the noise and 6 below the precision, so
        # both engines leave the boundary on the same side.
        return docs.select(
            "doc_id",
            F.round(length_score + stop_score + punct_score + 1e-9, 2).alias("quality"),
        ).orderBy("doc_id")

    @query(
        "doc_fingerprint",
        sql="""
        SELECT doc_id,
               substring(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1, 16) AS fingerprint
        FROM documents ORDER BY doc_id
        """,
    )
    def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Normalized-content fingerprint (whitespace-collapse + lowercase →
        md5[:16]) — the cache-key idiom of services/cache_manager.py:18-88."""
        docs = read_table(spark, sf_dir, "documents")
        norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
        return docs.select("doc_id", F.substring(F.md5(norm), 1, 16).alias("fingerprint")).orderBy("doc_id")

    @query(
        "langid_script_heuristic",
        sql="""
        SELECT lang,
               CAST(sum(CASE WHEN length(regexp_replace(text, '[ -~]', '', 'g')) * 2 > length(text)
                        THEN 1 ELSE 0 END) AS BIGINT) AS non_latin_docs,
               count(*) AS docs
        FROM documents GROUP BY lang ORDER BY lang
        """,
    )
    def langid_script(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Script-histogram language signal (language_detector.py:111-133),
        relational projection: docs whose majority of chars are non-ASCII."""
        docs = read_table(spark, sf_dir, "documents")
        non_ascii = F.length(F.regexp_replace("text", "[ -~]", ""))
        is_non_latin = non_ascii * 2 > F.length("text")
        return (
            docs.groupBy("lang")
            .agg(
                F.sum(F.when(is_non_latin, 1).otherwise(0)).alias("non_latin_docs"),
                F.count("*").alias("docs"),
            )
            .orderBy("lang")
        )

    # --- relational twin of the langid script-histogram stage --------------
    # (VERDICT r3 task 6). The histogram core of language_detector.py —
    # strip non-letters, count per-script-range chars, argmax with
    # first-wins priority — is fully relational; only CJK kana/hangul
    # disambiguation and Latin word-frequency stay in the UDF. The synthetic
    # corpus is pure-ASCII word soup, so the fixture-law pattern
    # (TESTDATA-derived deterministic injection, same law in both engines —
    # the multimodal_decode_stats precedent) supplies multi-script content:
    # doc_id picks the script, (n_chars, doc_id) set the injected mass, and
    # dominance genuinely flips between latin and the injected script across
    # rows, so the hash certifies strip + per-range counts + argmax.
    hist_scripts = {
        # script: (range_lo, range_hi, 8-letter phrase) — endpoints embedded
        # as literal chars so the class compiles identically under Java
        # regex (Spark) and RE2 (DuckDB)
        "cjk": (0x4E00, 0x9FFF, "数据查询引擎处理"),
        "cyrillic": (0x0400, 0x04FF, "данныеза"),
        "greek": (0x0370, 0x03FF, "δεδομενα"),
        "thai": (0x0E00, 0x0E7F, "ขอมลสอบถ"),
    }
    script_langs = {"cjk": "zh", "cyrillic": "ru", "greek": "el", "thai": "th"}
    reps_expr = "(n_chars * (doc_id % 3)) div 16"
    reps_sql = "(n_chars * (doc_id % 3)) // 16"
    inject_cases = " ".join(
        f"WHEN {i + 1} THEN text || repeat('{phrase}', reps)"
        for i, (_, (_, _, phrase)) in enumerate(hist_scripts.items())
    )
    count_sqls = ", ".join(
        f"length(letters) - length(regexp_replace(letters, '[{chr(lo)}-{chr(hi)}]', '', 'g')) AS {name}_chars"
        for name, (lo, hi, _) in hist_scripts.items()
    )
    names = list(hist_scripts)
    dominant_sql = (
        "CASE WHEN "
        + " AND ".join(f"latin_chars >= {n}_chars" for n in names)
        + " THEN 'latin' "
        + " ".join(
            f"WHEN {' AND '.join(f'{n}_chars >= {m}_chars' for m in names[i + 1:]) or 'TRUE'} THEN '{n}'"
            for i, n in enumerate(names[:-1])
        )
        + f" ELSE '{names[-1]}' END"
    )
    guess_sql = (
        "CASE dominant_script "
        + " ".join(f"WHEN '{n}' THEN '{script_langs[n]}'" for n in names)
        + " ELSE 'en' END"
    )

    @query(
        "langid_histogram_relational",
        sql=f"""
        WITH injected AS (
          SELECT doc_id, CASE (doc_id % 5) {inject_cases} ELSE text END AS itext
          FROM (SELECT doc_id, text, {reps_sql} AS reps FROM documents)
        ),
        letters_t AS (
          SELECT doc_id, regexp_replace(itext, '[^\\p{{L}}]', '', 'g') AS letters
          FROM injected
        ),
        hist AS (
          SELECT doc_id, length(letters) AS n_letters, {count_sqls}
          FROM letters_t
        ),
        lat AS (
          SELECT *, n_letters - ({" + ".join(f"{n}_chars" for n in names)}) AS latin_chars
          FROM hist
        ),
        dom AS (SELECT *, {dominant_sql} AS dominant_script FROM lat)
        SELECT doc_id, n_letters, latin_chars,
               {", ".join(f"{n}_chars" for n in names)},
               dominant_script, {guess_sql} AS lang_guess
        FROM dom ORDER BY doc_id
        """,
    )
    def langid_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Script-histogram langid, relational form (language_detector.py:
        111-133 strip/count/argmax): per-doc per-range letter counts via
        length-difference of a range-class strip — all JVM-side regexes in
        one projection, no UDF, no shuffle beyond the final sort."""
        docs = read_table(spark, sf_dir, "documents")
        reps = F.expr(reps_expr)
        itext = F.col("text")
        for i, (_, (_, _, phrase)) in enumerate(hist_scripts.items()):
            itext = F.when(
                (F.col("doc_id") % 5) == (i + 1),
                F.concat(F.col("text"), F.repeat(F.lit(phrase), reps)),
            ).otherwise(itext)
        letters = F.regexp_replace(itext, r"[^\p{L}]", "")
        d = docs.select("doc_id", letters.alias("letters"))
        d = d.select(
            "doc_id",
            F.length("letters").alias("n_letters"),
            *[
                (
                    F.length("letters")
                    - F.length(F.regexp_replace("letters", f"[{chr(lo)}-{chr(hi)}]", ""))
                ).alias(f"{name}_chars")
                for name, (lo, hi, _) in hist_scripts.items()
            ],
        )
        total_non_latin = None
        for n in names:
            c = F.col(f"{n}_chars")
            total_non_latin = c if total_non_latin is None else total_non_latin + c
        d = d.withColumn("latin_chars", F.col("n_letters") - total_non_latin)
        # first-wins priority chain (latin > cjk > cyrillic > greek > thai),
        # mirroring the UDF core's Counter insertion order
        dominant = F.when(
            (F.col("latin_chars") >= F.col("cjk_chars"))
            & (F.col("latin_chars") >= F.col("cyrillic_chars"))
            & (F.col("latin_chars") >= F.col("greek_chars"))
            & (F.col("latin_chars") >= F.col("thai_chars")),
            "latin",
        )
        for i, n in enumerate(names[:-1]):
            cond = F.lit(True)
            for m in names[i + 1 :]:
                cond = cond & (F.col(f"{n}_chars") >= F.col(f"{m}_chars"))
            dominant = dominant.when(cond, n)
        dominant = dominant.otherwise(names[-1])
        d = d.withColumn("dominant_script", dominant)
        guess = F.when(F.col("dominant_script") == "latin", "en")
        for n in names:
            guess = guess.when(F.col("dominant_script") == n, script_langs[n])
        return d.select(
            "doc_id",
            "n_letters",
            "latin_chars",
            *[f"{n}_chars" for n in names],
            "dominant_script",
            guess.otherwise("en").alias("lang_guess"),
        ).orderBy("doc_id")

    # --- PII scan + redaction (training-data pipeline op) -------------------
    # The standard pre-training privacy pass (e.g. BigCode/StarCoder PII
    # pipeline, C4's descendant datasets): detect emails / NANP phones /
    # IPv4 / SSN patterns, count per document, and redact with typed
    # placeholders. All four regexes are written to behave identically
    # under Java regex (Spark) and RE2 (DuckDB). The synthetic corpus has
    # no PII, so the fixture-law pattern injects deterministic PII from
    # doc_id in BOTH engines — counts vary per doc and the redacted
    # fingerprint certifies the actual rewrite, not just the counters.
    pii_res = {
        "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "ssns": r"\b\d{3}-\d{2}-\d{4}\b",
        "phones": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
        "ips": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    }
    pii_tokens = {"emails": "[EMAIL]", "ssns": "[SSN]", "phones": "[PHONE]", "ips": "[IP]"}
    inject_sql = (
        "CASE (doc_id % 5) "
        "WHEN 1 THEN text || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com now' "
        "WHEN 2 THEN text || ' call 555-123-4567 or 555.987.6543' "
        "WHEN 3 THEN text || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 logged' "
        "WHEN 4 THEN text || ' ssn 123-45-' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' filed' "
        "ELSE text END"
    )
    count_sqls = ", ".join(
        f"CAST(length(regexp_extract_all(itext, '{p}')) AS BIGINT) AS {name}"
        for name, p in pii_res.items()
    )
    redact_sql = "itext"
    for name, p in pii_res.items():  # redaction order: emails→ssns→phones→ips
        redact_sql = f"regexp_replace({redact_sql}, '{p}', '{pii_tokens[name]}', 'g')"

    @query(
        "pii_scan_redact",
        sql=f"""
        WITH injected AS (SELECT doc_id, {inject_sql} AS itext FROM documents)
        SELECT doc_id, {count_sqls},
               substring(md5({redact_sql}), 1, 16) AS redacted_fp
        FROM injected ORDER BY doc_id
        """,
    )
    def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-doc PII counts + redacted-text fingerprint, all JVM-side
        regex (one projection, no shuffle beyond the final sort)."""
        docs = read_table(spark, sf_dir, "documents")
        did = F.col("doc_id")
        itext = (
            F.when(did % 5 == 1, F.concat(F.col("text"), F.lit(" reach user"), did.cast("string"), F.lit("@example.com now")))
            .when(did % 5 == 2, F.concat(F.col("text"), F.lit(" call 555-123-4567 or 555.987.6543")))
            .when(did % 5 == 3, F.concat(F.col("text"), F.lit(" host 10.0."), (did % 256).cast("string"), F.lit(".7 logged")))
            .when(did % 5 == 4, F.concat(F.col("text"), F.lit(" ssn 123-45-"), (1000 + did % 9000).cast("string"), F.lit(" filed")))
            .otherwise(F.col("text"))
        )
        d = docs.select("doc_id", itext.alias("itext"))
        counts = [
            F.size(F.regexp_extract_all(F.col("itext"), F.lit(p), 0)).cast("long").alias(name)
            for name, p in pii_res.items()
        ]
        redacted = F.col("itext")
        for name, p in pii_res.items():
            redacted = F.regexp_replace(redacted, p, pii_tokens[name])
        return d.select(
            "doc_id", *counts, F.substring(F.md5(redacted), 1, 16).alias("redacted_fp")
        ).orderBy("doc_id")

    @query(
        "payload_size_tiers",
        sql="""
        SELECT CASE WHEN n_chars <= 200 THEN 0 WHEN n_chars <= 400 THEN 1
                    WHEN n_chars <= 800 THEN 2 ELSE 3 END AS tier,
               count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1 ORDER BY tier
        """,
    )
    def size_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Size-tiered bucketing of payloads (north_rule: oversized-payload
        routing; operators/pipeline.py with_payload_tier is the binary twin)."""
        docs = read_table(spark, sf_dir, "documents")
        tier = (
            F.when(F.col("n_chars") <= 200, 0)
            .when(F.col("n_chars") <= 400, 1)
            .when(F.col("n_chars") <= 800, 2)
            .otherwise(3)
        )
        return (
            docs.groupBy(tier.alias("tier"))
            .agg(F.count("*").alias("docs"), F.sum("n_chars").alias("total_chars"))
            .orderBy("tier")
        )

    @query(
        "defragment_line_merge",
        sql=r"""
        SELECT doc_id,
               length(regexp_split_to_array(text, '[.!?:]\s')) AS sentences,
               length(regexp_split_to_array(text, '\n')) AS raw_lines
        FROM documents ORDER BY doc_id LIMIT 100
        """,
    )
    def defrag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """cleaner.py:179-211 defragmentation, relational projection: sentence
        vs raw-line counts (the merge ratio the line-scan UDF produces)."""
        docs = read_table(spark, sf_dir, "documents")
        return (
            docs.select(
                "doc_id",
                F.size(F.split(F.col("text"), r"[.!?:]\s")).alias("sentences"),
                F.size(F.split(F.col("text"), r"\n")).alias("raw_lines"),
            )
            .orderBy("doc_id")
            .limit(100)
        )

    _GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
    stop_sql = " + ".join(
        f"(CASE WHEN regexp_matches(lower(text), '\\b{w}\\b') THEN 1 ELSE 0 END)"
        for w in _GOPHER_STOPS
    )

    @query(
        "gopher_quality_filters",
        sql=f"""
        WITH m AS (
          SELECT doc_id,
                 length(regexp_extract_all(text, '\\S+')) AS words,
                 length(regexp_replace(text, '\\s', '', 'g')) AS word_chars,
                 (length(text) - length(replace(text, '#', '')))
                   + (length(text) - length(replace(text, '...', ''))) // 3 AS symbols,
                 length(string_split(text, chr(10))) AS lines,
                 len(list_filter(string_split(text, chr(10)),
                                 l -> regexp_matches(ltrim(l), '^[-*•]'))) AS bullet_lines,
                 len(list_filter(string_split(text, chr(10)),
                                 l -> regexp_matches(rtrim(l), '\\.\\.\\.$'))) AS ellipsis_lines,
                 len(list_filter(regexp_extract_all(text, '\\S+'),
                                 w -> regexp_matches(w, '[a-zA-Z]'))) AS alpha_words,
                 {stop_sql} AS stop_types
          FROM documents
        )
        SELECT doc_id,
               words, word_chars, symbols, bullet_lines, alpha_words, stop_types,
               CASE WHEN words >= 50 AND words <= 100000 THEN 1 ELSE 0 END AS ok_word_count,
               CASE WHEN 3 * words <= word_chars AND word_chars <= 10 * words THEN 1 ELSE 0 END AS ok_mean_word_len,
               CASE WHEN symbols * 10 < words THEN 1 ELSE 0 END AS ok_symbol_ratio,
               CASE WHEN bullet_lines * 10 < lines * 9 THEN 1 ELSE 0 END AS ok_bullets,
               CASE WHEN ellipsis_lines * 10 < lines * 3 THEN 1 ELSE 0 END AS ok_ellipsis,
               CASE WHEN alpha_words * 10 >= words * 8 THEN 1 ELSE 0 END AS ok_alpha_words,
               CASE WHEN stop_types >= 2 THEN 1 ELSE 0 END AS ok_stopwords
        FROM m ORDER BY doc_id
        """,
    )
    def gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Gopher-style document quality filters (Rae et al. 2021, App. A —
        the canonical LLM-training-data filter set), entirely JVM-side:
        word-count bounds, mean word length 3-10, symbol-to-word ratio <0.1,
        <90% bullet lines, <30% ellipsis-ending lines, ≥80% words containing
        a letter, ≥2 distinct stop words. Every ratio threshold is an exact
        INTEGER cross-multiplication so both engines agree at boundaries
        (no float accumulation, no rounding rule divergence)."""
        docs = read_table(spark, sf_dir, "documents")
        words_arr = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
        lines_arr = F.split(F.col("text"), "\n")
        m = docs.select(
            "doc_id",
            F.size(words_arr).alias("words"),
            F.length(F.regexp_replace("text", r"\s", "")).alias("word_chars"),
            (
                (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
                + (F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))) / F.lit(3)
            ).cast("long").alias("symbols"),
            F.size(lines_arr).alias("lines"),
            F.size(F.filter(lines_arr, lambda l: F.ltrim(l).rlike(r"^[-*•]"))).alias("bullet_lines"),
            F.size(F.filter(lines_arr, lambda l: F.rtrim(l).rlike(r"\.\.\.$"))).alias("ellipsis_lines"),
            F.size(F.filter(words_arr, lambda w: w.rlike("[a-zA-Z]"))).alias("alpha_words"),
            sum(
                F.when(F.lower(F.col("text")).rlike(rf"\b{w}\b"), 1).otherwise(0)
                for w in _GOPHER_STOPS
            ).alias("stop_types"),
        )
        flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
        return m.select(
            "doc_id",
            # the raw per-doc measurements hash-check the actual feature
            # extraction (the flags alone are near-constant on the synthetic
            # word-soup corpus — a vacuous check; see driver-contract notes)
            "words",
            "word_chars",
            "symbols",
            "bullet_lines",
            "alpha_words",
            "stop_types",
            flag((F.col("words") >= 50) & (F.col("words") <= 100000)).alias("ok_word_count"),
            flag(
                (3 * F.col("words") <= F.col("word_chars"))
                & (F.col("word_chars") <= 10 * F.col("words"))
            ).alias("ok_mean_word_len"),
            flag(F.col("symbols") * 10 < F.col("words")).alias("ok_symbol_ratio"),
            flag(F.col("bullet_lines") * 10 < F.col("lines") * 9).alias("ok_bullets"),
            flag(F.col("ellipsis_lines") * 10 < F.col("lines") * 3).alias("ok_ellipsis"),
            flag(F.col("alpha_words") * 10 >= F.col("words") * 8).alias("ok_alpha_words"),
            flag(F.col("stop_types") >= 2).alias("ok_stopwords"),
        ).orderBy("doc_id")

    @query(
        "gopher_repetition_filters",
        sql=r"""
        WITH m AS (
          SELECT doc_id,
                 string_split(text, chr(10)) AS lines_arr,
                 regexp_extract_all(text, '\S+') AS words
          FROM documents
        ),
        b AS (
          SELECT doc_id,
                 len(lines_arr) AS lines,
                 len(list_distinct(lines_arr)) AS distinct_lines,
                 list_transform(range(greatest(len(words) - 1, 0)),
                                i -> words[i + 1] || ' ' || words[i + 2]) AS bigrams
          FROM m
        ),
        c AS (
          SELECT doc_id, lines, distinct_lines,
                 len(bigrams) AS total_bigrams,
                 coalesce((SELECT max(cnt) FROM (
                     SELECT count(*) AS cnt FROM unnest(b.bigrams) AS u(g) GROUP BY g
                 )), 0) AS top_bigram_count
          FROM b
        )
        SELECT doc_id, lines, distinct_lines, total_bigrams, top_bigram_count,
               CASE WHEN (lines - distinct_lines) * 10 <= lines * 3 THEN 1 ELSE 0 END AS ok_dup_lines,
               CASE WHEN top_bigram_count * 5 <= total_bigrams THEN 1 ELSE 0 END AS ok_top_bigram
        FROM c ORDER BY doc_id
        """,
    )
    def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Gopher-style repetition filters (Rae et al. 2021 App. A, adapted
        to occurrence fractions): duplicate-line fraction ≤0.30 and
        most-frequent-word-bigram fraction ≤0.20, with the raw counts in
        the output. All JVM-side: the per-doc top-bigram count is a
        max-run fold over the SORTED bigram array (F.aggregate — no
        explode, no per-doc groupBy, cardinality never changes), which is
        the shape that survives 10^12 docs: one pass, map-side only."""
        docs = read_table(spark, sf_dir, "documents")
        words = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
        lines_arr = F.split(F.col("text"), "\n")
        bigrams = word_grams(words, 2)
        sorted_b = F.sort_array(bigrams)
        run_fold = F.aggregate(
            sorted_b,
            F.struct(
                F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
                F.greatest(
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                    acc["best"],
                ).alias("best"),
            ),
        )
        m = docs.select(
            "doc_id",
            F.size(lines_arr).alias("lines"),
            F.size(F.array_distinct(lines_arr)).alias("distinct_lines"),
            F.size(bigrams).alias("total_bigrams"),
            run_fold["best"].alias("top_bigram_count"),
        )
        flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
        return m.select(
            "doc_id",
            "lines",
            "distinct_lines",
            "total_bigrams",
            "top_bigram_count",
            flag((F.col("lines") - F.col("distinct_lines")) * 10 <= F.col("lines") * 3).alias(
                "ok_dup_lines"
            ),
            flag(F.col("top_bigram_count") * 5 <= F.col("total_bigrams")).alias("ok_top_bigram"),
        ).orderBy("doc_id")

    @query(
        "c4_quality_filters",
        sql=r"""
        WITH m AS (
          SELECT doc_id,
                 string_split(text, chr(10)) AS lines_arr,
                 length(regexp_extract_all(text, '[.!?](\s|$)')) AS sentences,
                 CASE WHEN contains(text, '{') THEN 1 ELSE 0 END AS has_brace,
                 CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END AS has_lorem
          FROM documents
        ),
        b AS (
          SELECT doc_id, sentences, has_brace, has_lorem,
                 len(lines_arr) AS lines,
                 len(list_filter(lines_arr,
                                 l -> regexp_matches(rtrim(l), '[.!?"]$'))) AS terminal_lines,
                 len(list_filter(lines_arr,
                                 l -> length(regexp_extract_all(l, '\S+')) >= 5)) AS long_lines
          FROM m
        )
        SELECT doc_id, sentences, lines, terminal_lines, long_lines,
               CASE WHEN sentences >= 3 THEN 1 ELSE 0 END AS ok_sentences,
               CASE WHEN has_brace = 0 THEN 1 ELSE 0 END AS ok_no_brace,
               CASE WHEN has_lorem = 0 THEN 1 ELSE 0 END AS ok_no_lorem,
               CASE WHEN terminal_lines * 2 >= lines THEN 1 ELSE 0 END AS ok_terminal_punct,
               CASE WHEN long_lines * 2 >= lines THEN 1 ELSE 0 END AS ok_line_words
        FROM b ORDER BY doc_id
        """,
    )
    def c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
        """C4-style cleaning rules (Raffel et al. 2020 §2.2, adapted to
        document-level fractions): ≥3 sentences, no '{' (code tell), no
        'lorem ipsum', ≥half the lines ending in terminal punctuation, and
        ≥half the lines carrying ≥5 words. JVM-side lambda filters over the
        line array (no explode); raw counts in the output keep the hash
        non-vacuous; fraction thresholds are integer comparisons."""
        docs = read_table(spark, sf_dir, "documents")
        lines_arr = F.split(F.col("text"), "\n")
        m = docs.select(
            "doc_id",
            F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?](\s|$)"), 0)).alias(
                "sentences"
            ),
            F.when(F.col("text").contains("{"), 1).otherwise(0).alias("has_brace"),
            F.when(F.lower(F.col("text")).contains("lorem ipsum"), 1)
            .otherwise(0)
            .alias("has_lorem"),
            F.size(lines_arr).alias("lines"),
            F.size(F.filter(lines_arr, lambda l: F.rtrim(l).rlike('[.!?"]$'))).alias(
                "terminal_lines"
            ),
            F.size(
                F.filter(
                    lines_arr,
                    lambda l: F.size(F.regexp_extract_all(l, F.lit(r"\S+"), 0)) >= 5,
                )
            ).alias("long_lines"),
        )
        flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
        return m.select(
            "doc_id",
            "sentences",
            "lines",
            "terminal_lines",
            "long_lines",
            flag(F.col("sentences") >= 3).alias("ok_sentences"),
            flag(F.col("has_brace") == 0).alias("ok_no_brace"),
            flag(F.col("has_lorem") == 0).alias("ok_no_lorem"),
            flag(F.col("terminal_lines") * 2 >= F.col("lines")).alias("ok_terminal_punct"),
            flag(F.col("long_lines") * 2 >= F.col("lines")).alias("ok_line_words"),
        ).orderBy("doc_id")


UNIGRAM_HOT_K = 65536  # Zipf head: top-K vocabulary rides as a broadcast


def register_unigram(query) -> None:
    @query(
        "unigram_freq_score",
        sql="""
        WITH tokf AS (
          SELECT doc_id, word FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
          ) WHERE word <> ''
        ),
        freq AS (
          SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tokf GROUP BY word
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS token_count,
               CAST(sum(f.freq) AS BIGINT) AS freq_sum,
               CAST((sum(f.freq) * 1000) // count(*) AS BIGINT) AS mean_freq_milli
        FROM tokf t JOIN freq f ON t.word = f.word
        GROUP BY t.doc_id ORDER BY t.doc_id
        """,
    )
    def unigram_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Corpus-self-trained unigram frequency scoring (the CCNet/KenLM
        LM-quality filter's integer-exact cousin: documents made of corpus-
        common words score high, OCR noise and gibberish score low). Two
        passes over the corpus: the vocabulary aggregation, then a token →
        frequency lookup join.

        The lookup join is Zipf-skew-proof by construction: the top
        ``UNIGRAM_HOT_K`` words by frequency — which cover the overwhelming
        mass of token OCCURRENCES on real text — ride as one bounded
        broadcast and match map-side; only tokens of tail words (corpus
        frequency below the 65537th word, so bounded join multiplicity)
        take the shuffled word join. Same hot-key split as
        dedup.keyed_min_owner, applied to a lookup instead of a min.
        All arithmetic is BIGINT (mean scaled ×1000 with integer
        division) — no float anywhere."""
        # r6 note: ADVICE r5 flagged `freq`'s double evaluation (hot top-K
        # + cold join). Pinning toks/freq with localCheckpoint was tried and
        # MEASURED SLOWER at sf0.1 (1.3 s vs 0.5 s — the checkpoint barrier
        # + store/reload exceeds re-running the cheap explode+agg), as was
        # spreading the scan (0.91 s vs 0.44 s interleaved A/B — an extra
        # exchange of the exploded tokens outweighs the parallelism on a
        # token-explode this cheap). Kept in the original shape; see
        # OPTIMIZATION_r06.md.
        docs = read_table(spark, sf_dir, "documents")
        toks = (
            docs.select(
                "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
            )
            .filter(F.col("word") != "")
        )
        freq = toks.groupBy("word").agg(F.count("*").alias("freq"))
        hot = (
            freq.orderBy(F.desc("freq"), F.asc("word"))
            .limit(UNIGRAM_HOT_K)
            .select("word", F.col("freq").alias("hot_freq"))
        )
        tb = toks.join(F.broadcast(hot), "word", "left")
        hot_rows = tb.filter(F.col("hot_freq").isNotNull()).select(
            "doc_id", F.col("hot_freq").alias("freq")
        )
        cold_rows = (
            tb.filter(F.col("hot_freq").isNull())
            .drop("hot_freq")
            .join(freq, "word")
            .select("doc_id", "freq")
        )
        return (
            hot_rows.unionByName(cold_rows)
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("token_count"),
                F.sum("freq").alias("freq_sum"),
                F.expr("(sum(freq) * 1000) div count(*)").alias("mean_freq_milli"),
            )
            .orderBy("doc_id")
        )
