"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline metric: end-to-end extract-to-markdown wall time over the CC-style
corpus (docs/sec reported alongside). By default it then also runs the
skew-split evidence and the extraction job at local[8] and local[32] on a
larger corpus, and reports throughput at both plus scaling efficiency
(sandbox stand-in for N vs 4N executors per BASELINE.md); BENCH_SCALING=0
skips that block.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
# the Python workers import the package too, and they see only PYTHONPATH
# and their working directory, not this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

BENCH_QUERIES = [
    "repeater_detection",
    "confidence_statistics",
    "column_gap_clustering",
    "xycut_reading_order",
    "caption_proximity_join",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_ivf_kmeans_topk",
    "ann_lsh_verified_neardup",
    "embedding_cosine_neardup",
    "token_counting",
    "pii_scan_redact",
    "global_span_dedup",
    "bpe_word_frequencies",
    "dedup_connected_components",
    "exact_substring_dedup",
    "decontamination_scan",
    "stratified_sample_by_lang",
    "unigram_freq_score",
    "training_chunks",
    "sequence_packing",
    "bpe_encode_corpus",
    "text_quality_scoring",
    "doc_fingerprint",
    "payload_size_tiers",
]


def _run_extraction(spark, sf_dir: str) -> tuple[int, float]:
    """Time the steady-state extraction job. A small warm-up run first pays
    the one-time JVM codegen + Python-worker spin-up cost outside the timed
    region — on a long-lived cluster that cost is amortized to zero, and
    including it would make the scaling-efficiency comparison measure
    startup, not throughput."""
    from smoldocling_ocr_spark.operators.pipeline import extract_documents
    from smoldocling_ocr_spark.sources.documents import read_cc_documents

    docs = read_cc_documents(spark, sf_dir)
    # enough rows that every executor thread forks (and reuses) a python
    # worker before the timed run — the salted repartition spreads the
    # warm-up batch across all default partitions
    extract_documents(docs.limit(512)).count()
    t0 = time.time()
    n = extract_documents(docs).count()
    return n, time.time() - t0


_MP_ROWS: list = []
_MP_CHUNK = 250
_MP_DOCS = 24000


def _mp_work(chunk_id: int) -> int:
    from smoldocling_ocr_spark.functions.extract import extract_document

    rows = _MP_ROWS[chunk_id * _MP_CHUNK : (chunk_id + 1) * _MP_CHUNK]
    if not rows:
        # spawn start method (no fork inheritance of _MP_ROWS): regenerate
        # just this chunk — per-doc seeded streams make any slice cheap and
        # deterministic
        from smoldocling_ocr_spark.sources.corpus import generate_rows

        rows = generate_rows(_MP_CHUNK, start=chunk_id * _MP_CHUNK)
    for r in rows:
        extract_document(r["url"], r["warc_ts"], bytes(r["html"]), r["text"])
    return len(rows)


def _host_scaling_ceiling() -> float:
    """Host scaling ceiling 8→32 busy cores measured on the ACTUAL per-doc
    workload under bare multiprocessing (no Spark at all): captures CPU
    frequency scaling AND memory-bandwidth/LLC contention that the string-
    heavy extraction hits with 32 concurrent workers. On this host the bare
    workload itself only scales ~0.65–0.8 from 8→32 busy cores — a real
    N→4N EXECUTOR scale-out adds machines that each stay at the N-core
    operating point and does not pay this. Returns rate(32)/rate(8)/4."""
    import multiprocessing as mp

    global _MP_ROWS
    if not _MP_ROWS:
        from smoldocling_ocr_spark.sources.corpus import generate_rows

        # generated once in the parent; forked workers inherit it. Under a
        # spawn start method workers see it empty and _mp_work regenerates
        # its own chunk deterministically instead (no div-by-zero, no
        # 32-way full-corpus regeneration).
        _MP_ROWS = generate_rows(_MP_DOCS)
    n_chunks = _MP_DOCS // _MP_CHUNK
    rates = {}
    for procs in (8, 32):
        with mp.Pool(procs) as pool:
            pool.map(_mp_work, range(min(procs, n_chunks)))  # warm
            t0 = time.time()
            done = sum(pool.map(_mp_work, range(n_chunks)))
            rates[procs] = done / (time.time() - t0)
    assert done == n_chunks * _MP_CHUNK, "mp ceiling processed a short corpus"
    return rates[32] / rates[8] / 4.0


def _scaling_measurement(scale_path: str, rounds: int) -> dict:
    """Paired interleaved N→4N scaling rounds (sandbox stand-in for N vs 4N
    executors, per BASELINE.md): each round measures local[8], local[32], and
    the bare-multiprocessing host ceiling back-to-back so all three share the
    host's transient load, and contributes one paired efficiency ratio.

    The published numbers come from the PLAIN MEDIAN round by per-round
    normalized efficiency (default 5 rounds → the true middle round; for an
    even round count the LOWER middle is taken, the conservative choice).
    Every round's raw/normalized/ceiling values and per-config rates are
    published alongside so the spread — and any polluted round — is visible
    rather than out-voted."""
    from smoldocling_ocr_spark.operators.pipeline import extract_documents
    from smoldocling_ocr_spark.session import get_spark

    def wait_for_quiet() -> float:
        """Tiered bounded wait for host quiescence before starting a round —
        outside tenants on this host have been measured suppressing BOTH
        widths ~40%, and r4's driver run started two rounds at loadavg
        1.85–1.92 (just under the old 2.0 gate) that normalized to
        0.75/0.68. Prefer a genuinely quiet start (<1.0, up to 3 min), then
        accept <2.0 (2 more min), then start regardless. This gates when a
        measurement STARTS, never which result is kept; the load at round
        start is published so an un-quiet round is visible."""
        waited = 0.0
        for threshold, tier_budget in ((1.0, 180.0), (2.0, 120.0)):
            tier_end = waited + tier_budget
            while waited < tier_end:
                load = os.getloadavg()[0]
                if load < threshold:
                    return load
                time.sleep(10.0)
                waited += 10.0
        return os.getloadavg()[0]

    measured: list[dict] = []
    for _ in range(rounds):
        start_load = wait_for_quiet()
        rates: dict[int, tuple[float, float]] = {}
        for cores in (8, 32):
            s = get_spark(app_name=f"bench_scale_{cores}", cores=cores)
            docs = s.read.parquet(scale_path)
            extract_documents(docs.limit(512)).count()  # warm workers/codegen
            t0 = time.time()
            n = extract_documents(docs).count()
            sec = time.time() - t0
            rates[cores] = (n / sec, sec)
            s.stop()
        # let JVM teardown (GC/shutdown threads) settle so it does not
        # pollute the bare-multiprocessing ceiling measured next
        time.sleep(2.0)
        eff = rates[32][0] / rates[8][0] / 4.0
        # physical sanity clamp: the mp ceiling is rate(32)/rate(8)/4 for
        # the SAME workload — a value > 1.0 means the 8-proc measurement
        # itself was externally suppressed (observed 1.35 during a tenant
        # episode), and dividing by it would punish the round twice
        ceiling = min(_host_scaling_ceiling(), 1.0)
        measured.append(
            {
                "rates": rates,
                "eff": eff,
                "ceiling": ceiling,
                "start_load": start_load,
                # normalize WITHIN the round: the ceiling was measured back-
                # to-back with this round's Spark runs, so they share the
                # host's transient load — dividing a quiet round's eff by a
                # loud round's ceiling (or vice versa) mixes incomparable
                # host states
                "normalized": min(eff / ceiling, 1.0),
            }
        )
    # Per-round interference flag (self-diagnosing pollution): outside
    # tenant load suppresses BOTH widths together, while a genuine scaling
    # change moves the ratio, not both absolute rates. Flag any round whose
    # 8-core AND 32-core rates are both <85% of that width's best round.
    best8 = max(r["rates"][8][0] for r in measured)
    best32 = max(r["rates"][32][0] for r in measured)
    for r in measured:
        r["interference"] = (
            r["rates"][8][0] < 0.85 * best8 and r["rates"][32][0] < 0.85 * best32
        )

    # plain median round (lower middle for even counts — conservative):
    # THE published statistic per BASELINE.md's criterion
    k = (len(measured) - 1) // 2
    med = sorted(measured, key=lambda r: r["normalized"])[k]
    # secondary diagnostic: the same median over non-flagged rounds only
    # (published alongside, never substituted for the criterion statistic)
    clean = [r for r in measured if not r["interference"]] or measured
    kc = (len(clean) - 1) // 2
    med_clean = sorted(clean, key=lambda r: r["normalized"])[kc]
    return {
        **{
            f"local[{cores}]": {"docs_per_sec": round(rate, 2), "sec": round(sec, 3)}
            for cores, (rate, sec) in med["rates"].items()
        },
        "round_efficiencies": [round(r["eff"], 4) for r in measured],
        "round_start_loads": [round(r["start_load"], 2) for r in measured],
        "round_normalized": [round(r["normalized"], 4) for r in measured],
        "round_ceilings": [round(r["ceiling"], 4) for r in measured],
        "round_rates_8": [round(r["rates"][8][0], 1) for r in measured],
        "round_rates_32": [round(r["rates"][32][0], 1) for r in measured],
        "round_interference": [r["interference"] for r in measured],
        "median_statistic": "plain median round by normalized efficiency",
        "efficiency_n_to_4n": round(med["eff"], 4),
        "clean_rounds": len(clean),
        "normalized_efficiency_clean": round(med_clean["normalized"], 4),
        # what THIS HOST allows when the same per-doc workload runs under
        # bare multiprocessing (frequency scaling + memory-bandwidth
        # contention at 32 busy cores, zero framework overhead); a real
        # N->4N executor scale-out adds machines that each stay at the
        # N-core operating point and does not pay this
        "host_mp_ceiling": round(med["ceiling"], 4),
        "normalized_efficiency": round(med["normalized"], 4),
    }


def _skew_plan_metrics(df) -> dict[str, int]:
    """Walk the EXECUTED adaptive plan and sum the AQE skew metrics
    (numSkewedPartitions / numSkewedSplits live on AQEShuffleRead nodes)."""
    found: dict[str, int] = {}

    def walk(node):
        cls = node.getClass().getSimpleName()
        try:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if "skew" in kv._1().lower():
                    found[kv._1()] = found.get(kv._1(), 0) + int(kv._2().value())
        except Exception:
            pass
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            try:
                walk(node.plan())
            except Exception:
                pass
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found


def _skew_split_evidence(scale_path: str) -> dict:
    """Observed AQE skew-join routing at bench scale (VERDICT r3 task 8):
    the scaling corpus puts ~30% of documents on 3 hot domains; joining it
    against a per-domain dim on that key with size thresholds scaled to the
    corpus (advisory 2 MB — the 256 MB production default scaled by corpus
    size) must make AQE split the hot shuffle partitions. Reports the
    skew metrics read from the executed adaptive plan, closing the loop
    from the skewJoin config to observed runtime behavior."""
    from pyspark.sql import functions as F

    from smoldocling_ocr_spark.session import get_spark

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2MB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    s = get_spark(app_name="bench_skew", cores=CPUS, extra_conf=confs)
    try:
        docs = s.read.parquet(scale_path)
        domain = F.regexp_extract("url", r"https://([^/]+)/", 1)
        keyed = docs.select(domain.alias("domain"), "html")
        # dim as a literal relation (bounded ~200-row domain catalog):
        # OptimizeSkewedJoin only matches SMJ(Sort(Shuffle), Sort(Shuffle)),
        # so a dim derived inline via distinct() — which leaves an Aggregate
        # between the stage and the join — would mask the skew handling
        domains = [r.domain for r in keyed.select("domain").distinct().collect()]
        dim = s.createDataFrame([(d,) for d in domains], ["domain"]).withColumn(
            "weight", F.length("domain")
        )
        joined = keyed.join(dim, "domain").agg(
            F.sum(F.length("html") + F.col("weight")).alias("s")
        )
        t0 = time.time()
        joined.collect()
        sec = time.time() - t0
        metrics = _skew_plan_metrics(joined)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        return {
            "skewed_partitions": metrics.get("numSkewedPartitions", 0),
            "skewed_splits": metrics.get("numSkewedSplits", 0),
            "skew_marked_joins": plan.count("skew=true"),
            "advisory_partition_bytes": "2MB",
            "sec": round(sec, 3),
        }
    finally:
        s.stop()


def main() -> None:
    from smoldocling_ocr_spark.plans.catalog import spark_queries
    from smoldocling_ocr_spark.session import get_spark, owned_blocks
    from smoldocling_ocr_spark.sources.documents import corpus_parquet_path

    corpus_parquet_path(SF_DIR)  # synthesize corpus outside the timed region

    spark = get_spark(app_name="bench", cores=CPUS)
    sf_match = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(sf_match.group(1)) if sf_match else 0.0

    queries: dict[str, float] = {}

    n_docs, extract_sec = _run_extraction(spark, SF_DIR)
    queries["extract_to_markdown"] = round(extract_sec, 3)

    catalog = spark_queries()
    warm_dir = "/root/testdata/sf0.001" if SF_DIR != "/root/testdata/sf0.001" else SF_DIR
    for name in BENCH_QUERIES:
        # warm the plan shape (codegen compile, worker pools) at the smallest
        # scale so the timed run measures steady-state data-proportional work
        with owned_blocks(spark):
            catalog[name](spark, warm_dir).count()
        with owned_blocks(spark):
            t0 = time.time()
            catalog[name](spark, SF_DIR).count()
            queries[name] = round(time.time() - t0, 3)

    result = {
        "metric": "extract_docs_per_sec",
        "value": round(n_docs / extract_sec, 2),
        "unit": "docs/sec",
        "queries": queries,
        "sf": sf,
        "docs": n_docs,
        "cores": CPUS,
        # methodology for the scaling block below lives in BENCH/BASELINE.md
        "scaling_ref": "BENCH/BASELINE.md",
    }

    spark.stop()

    # N->4N scaling evidence runs by DEFAULT (the north-rule criterion must
    # land in every BENCH_rN.json): 7 paired rounds — an odd count so the
    # published number is the true plain-median round, and enough rounds
    # that the median survives up to THREE externally-loaded rounds (r4's
    # driver run passed at 0.826 with two of five rounds polluted at
    # start-loads 1.85–1.92; all per-round vectors plus a both-widths-
    # suppressed interference flag are published so such episodes are
    # self-diagnosing). Skipped only with BENCH_SCALING=0. The workload
    # must be large enough that per-job fixed overhead (scheduling, scan
    # task launch) is negligible at the FAST config — target >= 15s at 4N
    # cores.
    if os.environ.get("BENCH_SCALING") != "0":
        scale_docs = int(os.environ.get("BENCH_SCALING_DOCS", "96000"))
        scale_path = corpus_parquet_path(SF_DIR, n_docs=scale_docs)
        rounds = int(os.environ.get("BENCH_SCALING_ROUNDS", "7"))
        try:
            result["skew"] = _skew_split_evidence(scale_path)
        except Exception as exc:  # never lose the headline JSON line
            result["skew"] = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            result["scaling"] = {
                "scaling_docs": scale_docs,
                **_scaling_measurement(scale_path, rounds),
            }
        except Exception as exc:  # never lose the headline JSON line
            result["scaling"] = {"error": f"{type(exc).__name__}: {exc}"}

    print(json.dumps(result))


if __name__ == "__main__":
    main()
