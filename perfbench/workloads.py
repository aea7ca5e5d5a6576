"""The benchmark workloads.

Each workload writes its seeded inputs (``prepare``), runs one iteration of
the user-facing job (``iterate``; the first ones, untimed, warm the
session), checks the outputs of all iterations outside the timed region
(``check``) and, in a traced run, measures its layers (``probes``,
``layers``). Jobs are driven through
their real entry points, ``jobs/extract_job.py`` and ``jobs/curate_job.py``,
with ``SparkSession.stop`` held off so one warm session serves every
iteration.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import importlib.util
import io
import json
import math
import os
import random
from collections import Counter
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession, functions as F

from smoldocling_ocr_spark.sources.corpus import generate_rows

import inputs
import tracing

CORES = 4
GOLDEN_DOCS = 60
GOLDEN_SEED = 42


@dataclass
class Ctx:
    spark: SparkSession
    root: str
    work: str
    seed: int
    tracer: tracing.Tracer | None = None
    corrupt: bool = False  # test hook: damage one output row before checking
    notes: dict[str, Any] = field(default_factory=dict)


@dataclass
class Check:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def merge(self, other: "Check") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.problems += other.problems


def _load_job(root: str, name: str):
    spec = importlib.util.spec_from_file_location(f"perfbench_{name}", os.path.join(root, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_job(root: str, name: str, argv: list[str]) -> None:
    """Run a spark-submit entry point in this process: its ``spark.stop()``
    is held off and its summary print is swallowed."""
    job = _load_job(root, name)
    with tracing.patched([(SparkSession, "stop", lambda _: lambda self: None)]):
        with contextlib.redirect_stdout(io.StringIO()):
            job.main(argv)


def noop_sink(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest_rows(rows: list[tuple]) -> str:
    """Order-insensitive digest of result rows (floats rounded to 6 places)."""
    def norm(v):
        if isinstance(v, float):
            return repr(round(v, 6) + 0.0)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return repr(v)

    lines = sorted("\x1f".join(norm(v) for v in row) for row in rows)
    return hashlib.sha256("\x1e".join(lines).encode()).hexdigest()


def rows_match(a_cols: list[str], a_rows: list[tuple], b_cols: list[str], b_rows: list[tuple]) -> bool:
    """Same columns (by name) and the same multiset of rows, floats compared
    to 1e-6 — the comparison the catalog's DuckDB oracle gate uses."""
    if sorted(a_cols) != sorted(b_cols) or len(a_rows) != len(b_rows):
        return False

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple(r[i] for i in order) for r in rows]
        return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))

    def same(x, y):
        if isinstance(x, float) or isinstance(y, float):
            try:
                return math.isclose(float(x), float(y), rel_tol=1e-6, abs_tol=1e-6)
            except (TypeError, ValueError):
                return False
        return x == y

    return all(
        all(same(x, y) for x, y in zip(ra, rb))
        for ra, rb in zip(canon(a_cols, a_rows), canon(b_cols, b_rows))
    )


def _corrupt_first(rows: list[tuple], col: int) -> list[tuple]:
    """Test hook: the same rows with one value of column ``col`` altered."""
    if not rows:
        return rows
    first = list(rows[0])
    first[col] = f"{first[col]}#corrupt"
    return [tuple(first)] + rows[1:]


class Workload:
    name = ""
    docs = 0
    min_iterations = 1  # timed iterations a run makes even past --seconds
    # untimed iterations first (part of setup_s): the first pays JVM code
    # generation and Python-worker start-up, and the JIT keeps shortening
    # the next few
    warm_iterations = 1

    def sizes(self, scale: float) -> None:
        raise NotImplementedError

    def prepare(self, ctx: Ctx, dest: str) -> None:
        raise NotImplementedError

    def iterate(self, ctx: Ctx, tag: str) -> Any:
        raise NotImplementedError

    def check(self, ctx: Ctx, results: list[Any]) -> Check:
        raise NotImplementedError

    def span_targets(self, tracer: tracing.Tracer) -> list:
        return []

    def probes(self, ctx: Ctx) -> list[tuple[str, Callable[[str], Any]]]:
        """(name, run) layer probes, each run once per traced round."""
        return []

    def layers(self, ctx: Ctx, probe_s: dict[str, float], job_s: float) -> dict[str, float]:
        """Per-layer metrics from the min-of-rounds probe times and the
        fastest untraced job."""
        return {}


# ---------------------------------------------------------------------------
# extraction: jobs/extract_job.py over a seeded CC-style corpus
# ---------------------------------------------------------------------------


def _passthrough(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """A trivial mapInPandas body: one output row per input row, nothing
    computed — isolates the Arrow↔pandas boundary from the Python core."""
    from smoldocling_ocr_spark.operators.pipeline import _OUT_COLS

    for pdf in batches:
        out = pd.DataFrame({c: None for c in _OUT_COLS}, index=range(len(pdf)))
        out["url"] = pdf["url"].values
        out["parse_failed"] = False
        out["payload_bytes"] = pdf["html"].map(len).values
        yield out


class ExtractMixed(Workload):
    name = "extract_mixed"
    base_docs = 1000
    check_sample = 24
    min_iterations = 3  # ~3 s each, and ±10% apart: the median needs several
    warm_iterations = 2

    def sizes(self, scale: float) -> None:
        self.docs = max(8, int(self.base_docs * scale))

    def prepare(self, ctx: Ctx, dest: str) -> None:
        self.rows = generate_rows(self.docs, ctx.seed)
        self.input = os.path.join(dest, "documents")
        inputs.write_cc_corpus(self.input, self.rows)

    def iterate(self, ctx: Ctx, tag: str) -> tuple[str, str]:
        out = os.path.join(ctx.work, "out", f"extracted-{tag}")
        lin = os.path.join(ctx.work, "out", f"lineage-{tag}")
        run_job(ctx.root, "extract_job", ["--input", self.input, "--output", out, "--lineage", lin, "--cores", str(CORES)])
        return out, lin

    def check(self, ctx: Ctx, results: list[tuple[str, str]]) -> Check:
        from smoldocling_ocr_spark.functions.extract import extract_document

        spark = ctx.spark
        chk = Check()
        out_dir, lin_dir = results[-1]
        out = spark.read.parquet(out_dir)
        summary = out.select("url", "method", "elements", "parse_failed").collect()
        self.summary = summary
        urls = [r["url"] for r in summary]
        chk.expect(len(urls) == self.docs and len(set(urls)) == self.docs, f"{len(urls)} output rows for {self.docs} docs")
        failed_rows = sum(1 for r in summary if r["parse_failed"])
        chk.attempted += len(summary)
        chk.failed += failed_rows
        if failed_rows:
            chk.problems.append(f"{failed_rows} parse_failed rows")
        lineage_docs = spark.read.parquet(lin_dir).agg(F.sum("doc_count")).first()[0]
        chk.expect(lineage_docs == self.docs, f"lineage counts {lineage_docs} docs")

        # markdown of a seeded sample equals the bare per-document core
        by_url = {r["url"]: r for r in self.rows}
        sample = random.Random(ctx.seed).sample(sorted(by_url), min(self.check_sample, len(by_url)))
        got = out.filter(F.col("url").isin(sample)).select("url", "markdown").collect()
        got_rows = [(r["url"], r["markdown"]) for r in got]
        if ctx.corrupt:
            got_rows = _corrupt_first(got_rows, 1)
        got_md = dict(got_rows)
        for url in sample:
            r = by_url[url]
            want = extract_document(url, r["warc_ts"], bytes(r["html"]), r["text"])["markdown"]
            chk.expect(got_md.get(url) == want, f"markdown differs for {url}")

        # the frozen goldens still match the seed-42 corpus
        with open(os.path.join(ctx.root, "fixtures", "goldens_sha256.json")) as f:
            goldens = json.load(f)
        for r in generate_rows(GOLDEN_DOCS, GOLDEN_SEED):
            md = extract_document(r["url"], r["warc_ts"], r["html"], r["text"])["markdown"]
            chk.expect(goldens.get(r["url"]) == hashlib.sha256(md.encode()).hexdigest(), f"golden drift {r['url']}")
        return chk

    def span_targets(self, tracer: tracing.Tracer) -> list:
        from smoldocling_ocr_spark.operators import lineage, pipeline

        wrap = lambda name: functools.partial(tracer.wrap, name)  # noqa: E731
        return [
            (pipeline, "split_by_tier", wrap("pipeline.split_by_tier")),
            (pipeline, "extract_documents", wrap("pipeline.extract_documents")),
            (lineage, "extraction_lineage", wrap("lineage.extraction_lineage")),
            (lineage, "extraction_metrics", wrap("lineage.extraction_metrics")),
            (DataFrameWriter, "parquet", wrap("sink.parquet")),
        ]

    def probes(self, ctx: Ctx) -> list[tuple[str, Callable[[str], Any]]]:
        """Cumulative runs, each adding one layer to the one before; the
        untraced job itself is the last level."""
        from smoldocling_ocr_spark.operators.lineage import extraction_lineage
        from smoldocling_ocr_spark.operators.pipeline import (
            EXTRACTED_SCHEMA, extract_documents, split_by_tier, with_salted_partitioning,
        )

        spark = ctx.spark

        def normal() -> DataFrame:
            return split_by_tier(spark.read.parquet(self.input))[0]

        def salted() -> DataFrame:
            return with_salted_partitioning(normal().select("url", "warc_ts", "html", "text"))

        def write(tag: str) -> str:
            out = os.path.join(ctx.work, "out", f"layer-{tag}")
            extract_documents(normal()).write.mode("overwrite").parquet(out)
            return out

        def write_and_lineage(tag: str) -> None:
            out = write(tag)
            extraction_lineage(spark.read.parquet(out)).write.mode("overwrite").parquet(out + "-lineage")

        return [
            ("sources.scan_s", lambda _: noop_sink(normal())),
            ("pipeline.exchange_s", lambda _: noop_sink(salted())),
            ("pipeline.arrow_s", lambda _: noop_sink(salted().mapInPandas(_passthrough, schema=EXTRACTED_SCHEMA))),
            ("pipeline.extract_s", lambda _: noop_sink(extract_documents(normal()))),
            ("sink.parquet_s", write),
            ("lineage.extraction_lineage_s", write_and_lineage),
        ]

    def layers(self, ctx: Ctx, probe_s: dict[str, float], job_s: float) -> dict[str, float]:
        metrics: dict[str, float] = {}
        prev = 0.0
        for name, _ in self.probes(ctx):
            metrics[name] = probe_s[name] - prev
            prev = probe_s[name]
        metrics["jobs.extract_tail_s"] = job_s - prev

        summary = self.summary
        methods = Counter(r["method"] for r in summary)
        for m in DECODE_METHODS:
            metrics[f"decode.docs.{m}"] = float(methods.get(m, 0))
        fallback = sum(
            1 for r in summary
            if r["method"] in ("text_layer", "pdf_parse_failed") and inputs.path_kind(r["url"]) != "text"
        )
        metrics["decode.fallback_frac"] = fallback / max(len(summary), 1)
        metrics["functions.elements_per_doc"] = sum(r["elements"] or 0 for r in summary) / max(len(summary), 1)

        sample = random.Random(ctx.seed + 1).sample(self.rows, min(PHASE_SAMPLE, len(self.rows)))
        phases, mismatches = tracing.function_phases(sample)
        metrics.update(phases)
        ctx.notes["phase_wrapper_mismatches"] = mismatches
        ctx.notes.setdefault("probe_check", Check()).expect(mismatches == 0, f"phase wrappers changed {mismatches} markdowns")
        return metrics


DECODE_METHODS = ("layout_ocr", "pdf_text", "html_dom", "text_layer", "pdf_parse_failed")
PHASE_SAMPLE = 160


# ---------------------------------------------------------------------------
# curation: jobs/curate_job.py over long documents
# ---------------------------------------------------------------------------

CURATE_TABLES = ("components", "curated", "sequences")


class CurateLong(Workload):
    name = "curate_long"
    base_docs = 32
    min_iterations = 3
    # timed iterations 1-4 after a single warm-up fell from ~7 to ~5 s, and
    # where a run stopped on that slope decided its median; from the fourth
    # iteration on they stay within a few percent
    warm_iterations = 3

    def sizes(self, scale: float) -> None:
        self.docs = max(6, int(self.base_docs * scale))
        self.catalog = CatalogQueries(scale)

    def prepare(self, ctx: Ctx, dest: str) -> None:
        self.input = os.path.join(dest, "documents")
        inputs.write_long_documents(self.input, self.docs, ctx.seed)

    def iterate(self, ctx: Ctx, tag: str) -> str:
        out = os.path.join(ctx.work, "out", f"curated-{tag}")
        run_job(ctx.root, "curate_job", ["--input", self.input, "--output", out, "--cores", str(CORES)])
        return out

    def _table_rows(self, ctx: Ctx, out: str, table: str) -> list[tuple]:
        df = ctx.spark.read.parquet(os.path.join(out, table))
        cols = sorted(df.columns)
        return [tuple(r) for r in df.select(*cols).collect()]

    def check(self, ctx: Ctx, results: list[str]) -> Check:
        import duckdb

        from smoldocling_ocr_spark.plans.catalog import oracle_queries

        chk = Check()
        first: dict[str, str] = {}
        for i, out in enumerate(results):
            for table in CURATE_TABLES:
                rows = self._table_rows(ctx, out, table)
                if ctx.corrupt and i == len(results) - 1 and table == "components":
                    rows = _corrupt_first(rows, 0)
                d = digest_rows(rows)
                first.setdefault(table, d)
                chk.expect(d == first[table], f"{table} digest changed in iteration {i}")

        # components equal the dedup_connected_components oracle on the input
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.input}/*.parquet')")
            res = con.execute(oracle_queries()["dedup_connected_components"])
            o_cols = [d[0] for d in res.description]
            o_rows = [tuple(r) for r in res.fetchall()]
        finally:
            con.close()
        comp = ctx.spark.read.parquet(os.path.join(results[-1], "components"))
        s_rows = [tuple(r) for r in comp.select(*o_cols).collect()]
        chk.expect(rows_match(o_cols, s_rows, o_cols, o_rows), "components differ from the oracle")
        return chk

    def span_targets(self, tracer: tracing.Tracer) -> list:
        from smoldocling_ocr_spark.operators import corpusops

        def write_span(original):
            @functools.wraps(original)
            def traced(writer, path, *args, **kwargs):
                with tracer.span(f"curate.{os.path.basename(str(path).rstrip('/'))}_write"):
                    return original(writer, path, *args, **kwargs)

            return traced

        return [
            (corpusops, "connected_components", functools.partial(tracer.wrap, "corpusops.connected_components")),
            (DataFrameWriter, "parquet", write_span),
        ]

    def probes(self, ctx: Ctx) -> list[tuple[str, Callable[[str], Any]]]:
        return [lsh_bands_probe(ctx.spark.read.parquet(self.input))]

    def layers(self, ctx: Ctx, probe_s: dict[str, float], job_s: float) -> dict[str, float]:
        """Also runs and checks the catalog queries (``CatalogQueries``)."""
        ctx.notes["probe_check"] = self.catalog.measure(ctx)
        return dict(probe_s)


def lsh_bands_probe(docs: DataFrame) -> tuple[str, Callable[[str], Any]]:
    """The banded-minhash relation alone, into a no-op sink."""
    from smoldocling_ocr_spark.operators.dedup import lsh_bands

    return "dedup.lsh_bands_s", lambda _: noop_sink(lsh_bands(docs))


# ---------------------------------------------------------------------------
# catalog: the near-dup / ANN queries over documents + embeddings tables,
# measured in curate_long's traced run
# ---------------------------------------------------------------------------

# every one has a DuckDB oracle twin
ORACLE_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_connected_components",
    "global_span_dedup",
    "ann_lsh_verified_neardup",
)
# rows-only iterative fits (a fixed ~5 s of Lloyd rounds each, whatever the
# input size): checked for the same digest in two runs
FIT_QUERIES = ("ann_ivf_kmeans_topk", "ann_pq_topk")
CATALOG_QUERIES = ORACLE_QUERIES + FIT_QUERIES


class CatalogQueries:
    """Seeded ``documents`` (short docs, 5% near-copies) and ``embeddings``
    tables, and every catalog query over them. Not a timed workload: the run
    budget carries two workloads, so these queries (the only path into
    ``operators.simsearch``) are per-layer metrics of ``curate_long``'s
    traced run, which exercises the same ``dedup`` code on long docs."""

    base_docs = 400
    base_vecs = 300

    def __init__(self, scale: float) -> None:
        self.docs = max(20, int(self.base_docs * scale))
        self.vecs = max(40, int(self.base_vecs * scale))

    def _run(self, ctx: Ctx, span: bool) -> dict[str, tuple[list[str], list[tuple]]]:
        from smoldocling_ocr_spark.plans.catalog import spark_queries

        catalog = spark_queries()
        out = {}
        for q in CATALOG_QUERIES:
            with ctx.tracer.span(f"catalog.{q}") if span and ctx.tracer else contextlib.nullcontext():
                df = catalog[q](ctx.spark, self.sf_dir)
                out[q] = (df.columns, [tuple(r) for r in df.collect()])
        return out

    def measure(self, ctx: Ctx) -> Check:
        """Write the tables, run every query twice (the first run warms them,
        the second is traced, one span per query) and check both runs."""
        import duckdb

        from smoldocling_ocr_spark.plans.catalog import oracle_queries

        self.sf_dir = os.path.join(ctx.work, "inputs", "catalog")
        inputs.write_catalog_tables(self.sf_dir, self.docs, self.vecs, ctx.seed)
        runs = [self._run(ctx, span=False), self._run(ctx, span=True)]

        oracles = oracle_queries()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            expected = {}
            for q in ORACLE_QUERIES:
                res = con.execute(oracles[q])
                expected[q] = ([d[0] for d in res.description], [tuple(r) for r in res.fetchall()])
        finally:
            con.close()

        chk = Check()
        for i, res in enumerate(runs):
            for q in ORACLE_QUERIES:
                chk.expect(rows_match(*res[q], *expected[q]), f"{q} differs from its oracle (run {i})")
        for q in FIT_QUERIES:
            cold, warm = (res[q][1] for res in runs)
            chk.expect(warm != [] and digest_rows(warm) == digest_rows(cold), f"{q} digest changed between runs")
        return chk


WORKLOADS = {w.name: w for w in (ExtractMixed, CurateLong)}
