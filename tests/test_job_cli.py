"""End-to-end test of the spark-submit job entry (jobs/extract_job.py).

Runs the CLI twice in subprocesses (each owns its SparkSession — main()
calls spark.stop()): a fresh extraction, then a --resume re-run over the
same input, which must anti-join every url away and append nothing. This
is the checkpoint-resume contract from the north rule at job level.
In-process runs (``SparkSession.stop`` held off) cover the resume over an
older package version's output, pin the job's Spark-job count, and show
that a curate_job run leaves no persisted block behind in the session.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.usefixtures("no_leaked_blocks")


def _job_process(args: list[str]) -> subprocess.CompletedProcess:
    env = dict(os.environ, PYTHONPATH=ROOT)
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "extract_job.py"), *args],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=ROOT,
    )


def _run_job(args: list[str]) -> None:
    proc = _job_process(args)
    assert proc.returncode == 0, proc.stderr[-3000:]


def _part_files(path: str) -> set[str]:
    return {f for f in os.listdir(path) if f.startswith("part-")}


def _in_process(monkeypatch, job: str):
    """``<job>.main`` run in this process, on the test session."""
    import importlib

    from pyspark.sql import SparkSession

    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    try:
        main = importlib.import_module(job).main
    finally:
        sys.path.pop(0)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    return main


@pytest.fixture
def extract_main(monkeypatch):
    return _in_process(monkeypatch, "extract_job")


@pytest.fixture
def curate_main(monkeypatch):
    return _in_process(monkeypatch, "curate_job")


@pytest.mark.slow
def test_extract_job_cli_then_resume(spark, cc_docs, tmp_path):
    inp = str(tmp_path / "docs_in")
    out = str(tmp_path / "extracted")
    lineage = str(tmp_path / "lineage")
    cc_docs.limit(10).write.parquet(inp)

    _run_job(["--input", inp, "--output", out, "--lineage", lineage, "--cores", "8"])
    first = spark.read.parquet(out)
    assert first.count() == 10
    assert first.select("url").distinct().count() == 10
    assert spark.read.parquet(lineage).count() >= 1

    # resume over identical input: anti-join leaves nothing to extract
    _run_job(["--input", inp, "--output", out, "--resume", "--cores", "8"])
    again = spark.read.parquet(out)
    assert again.count() == 10, "resume run must not re-extract or duplicate"


@pytest.mark.slow
def test_extract_job_resume_fails_on_unreadable_output(spark, cc_docs, tmp_path):
    """--resume over an output dir that cannot be read must fail the job,
    not take the output for empty and append every url a second time."""
    inp = str(tmp_path / "docs_in")
    out = str(tmp_path / "extracted")
    cc_docs.limit(6).write.parquet(inp)
    _run_job(["--input", inp, "--output", out, "--cores", "4"])

    with open(os.path.join(out, "part-99999-not-parquet.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    committed = _part_files(out)

    proc = _job_process(["--input", inp, "--output", out, "--resume", "--cores", "4"])
    assert proc.returncode != 0, "resume over an unreadable output must fail"
    assert _part_files(out) == committed, "a failed resume must commit no part file"


def test_extract_job_resume_over_older_output(spark, cc_docs, tmp_path, extract_main):
    """An output dir appended by an older package version lacks run_id,
    extract_pass, partition_id and payload_bytes. --resume reads it with the
    job's schema: its urls are not re-extracted, and the lineage equals
    ``extraction_lineage`` over a mergeSchema read of the same dir."""
    from smoldocling_ocr_spark.operators.lineage import extraction_lineage
    from smoldocling_ocr_spark.operators.pipeline import extract_documents

    inp = str(tmp_path / "docs_in")
    out = str(tmp_path / "extracted")
    lineage = str(tmp_path / "lineage")
    cc_docs.limit(12).write.parquet(inp)
    old = spark.read.parquet(inp).orderBy("url").limit(5)
    old_urls = {r["url"] for r in old.select("url").collect()}
    extract_documents(old, num_partitions=1).drop("partition_id", "payload_bytes").write.parquet(out)

    extract_main(["--input", inp, "--output", out, "--resume", "--lineage", lineage])

    rows = spark.read.option("mergeSchema", "true").parquet(out).select("url", "run_id").collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == 12 and len(set(urls)) == 12
    assert {r["url"] for r in rows if r["run_id"] is None} == old_urls
    want = extraction_lineage(spark.read.option("mergeSchema", "true").parquet(out))
    got = spark.read.parquet(lineage)
    # a parquet read marks every column nullable; names and types must agree
    assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in want.schema]
    assert got.collect() == want.collect()


def test_extract_job_spark_job_count(spark, cc_docs, tmp_path, extract_main):
    """Pins the number of Spark jobs one extract_job run starts on a small
    input with no oversized payload: the salted write (scan, exchange,
    write) plus a tail of the oversized probe (``isEmpty``), the read-back
    with the job's schema (no footer-merge job), the lineage write (one
    aggregate, sorted in a single partition) and the metrics summary.
    The tail was 9 jobs before: ``limit(1).count()``, a ``mergeSchema``
    read and a global ``orderBy`` gave 12 jobs in all."""
    import uuid

    inp = str(tmp_path / "docs_in")
    cc_docs.limit(16).write.parquet(inp)
    sc = spark.sparkContext
    group = f"extract_job_count_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "extract_job job count")
    try:
        extract_main(
            ["--input", inp, "--output", str(tmp_path / "out"), "--lineage", str(tmp_path / "lineage")]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 8


def test_make_pyfiles_zip(tmp_path):
    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    try:
        from make_pyfiles import build
    finally:
        sys.path.pop(0)
    out = build(str(tmp_path / "deps.zip"))
    with zipfile.ZipFile(out) as zf:
        names = zf.namelist()
    assert "smoldocling_ocr_spark/__init__.py" in names
    assert any(n.endswith("operators/pipeline.py") for n in names)
    assert not any("__pycache__" in n for n in names)


@pytest.mark.slow
def test_spark_submit_pyfiles_cold(spark, cc_docs, tmp_path):
    """True deployment-path proof (north_rule: ships as spark-submit
    --py-files): build deps.zip, run the job via spark-submit from a neutral
    cwd with NO repo on PYTHONPATH — all package imports must resolve from
    the zip — and assert byte parity of the extracted markdown against the
    in-process pipeline on the same input."""
    import hashlib
    import shutil

    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    try:
        from make_pyfiles import build
    finally:
        sys.path.pop(0)

    deps = build(str(tmp_path / "deps.zip"))
    inp = str(tmp_path / "docs_in")
    out = str(tmp_path / "extracted")
    cc_docs.limit(8).write.parquet(inp)

    submit = shutil.which("spark-submit")
    if submit is None:
        import pyspark

        submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            submit,
            "--master", "local[8]",
            "--py-files", deps,
            os.path.join(ROOT, "jobs", "extract_job.py"),
            "--input", inp,
            "--output", out,
            "--cores", "8",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, (proc.stderr or proc.stdout)[-3000:]

    from smoldocling_ocr_spark.operators.pipeline import extract_documents

    got = {
        r["url"]: hashlib.sha256((r["markdown"] or "").encode()).hexdigest()
        for r in spark.read.option("mergeSchema", "true").parquet(out).select("url", "markdown").collect()
    }
    want = {
        r["url"]: hashlib.sha256((r["markdown"] or "").encode()).hexdigest()
        for r in extract_documents(spark.read.parquet(inp)).select("url", "markdown").collect()
    }
    assert got == want and len(got) == 8


def _submit_probe(tmp_path, *submit_args: str) -> str:
    """Run ``get_spark()`` under pyspark's bundled spark-submit with
    SPARK_GRAFT_CPUS unset; return the ``MASTER master parallelism
    shuffle_partitions`` line the session reports."""
    import pyspark

    script = tmp_path / "probe.py"
    script.write_text(
        "from smoldocling_ocr_spark.session import get_spark\n"
        "spark = get_spark()\n"
        "print('MASTER', spark.sparkContext.master, spark.sparkContext.defaultParallelism,\n"
        "      spark.conf.get('spark.sql.shuffle.partitions'))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env.update(PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable)
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    proc = subprocess.run(
        [submit, *submit_args, str(script)],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return next(line for line in proc.stdout.splitlines() if line.startswith("MASTER "))


def test_spark_submit_master_is_honoured(tmp_path):
    """With no ``cores`` and no SPARK_GRAFT_CPUS, get_spark leaves the
    master to the launcher: ``spark-submit --master local[2]`` runs on
    local[2], not on a local[*] the session forced over it. With no
    ``--conf``, the shuffle count is get_spark's own default (twice the
    host's cores, at least 8)."""
    got = _submit_probe(tmp_path, "--master", "local[2]")
    assert got == f"MASTER local[2] 2 {max(2 * (os.cpu_count() or 8), 8)}"


def test_spark_submit_shuffle_partitions_are_honoured(tmp_path):
    """A launcher's ``--conf spark.sql.shuffle.partitions`` (the cluster
    profile's ``cluster_conf`` count) stands: get_spark does not override
    it with its own default."""
    got = _submit_probe(
        tmp_path, "--master", "local[2]", "--conf", "spark.sql.shuffle.partitions=64"
    )
    assert got == "MASTER local[2] 2 64"


def _run_curate(args: list[str]) -> None:
    env = dict(os.environ, PYTHONPATH=ROOT)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "curate_job.py"), *args],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


def test_curate_job_cli(spark, tmp_path):
    """End-to-end corpus-curation job (subprocess — main() owns and stops
    its session): components + curated + sequences tables written,
    deterministic across re-runs, duplicates collapsed."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    out = str(tmp_path / "curated")
    _run_curate(["--input", inp, "--output", out, "--cores", "8"])

    comps = spark.read.parquet(f"{out}/components")
    assert comps.count() == docs.count()
    curated = spark.read.parquet(f"{out}/curated")
    n_curated = curated.count()
    assert 0 < n_curated < docs.count()  # dedup + decon + sampling all bit
    # survivors are component minima only
    import pyspark.sql.functions as F

    heads = comps.filter(F.col("doc_id") == F.col("component")).select("doc_id")
    assert curated.join(heads, "doc_id", "left_anti").count() == 0
    seqs = spark.read.parquet(f"{out}/sequences")
    assert seqs.count() > 0 and set(seqs.select("shard").distinct().toPandas()["shard"]) <= set(range(16))
    # the job composes the oracle-backed catalog operators: curated =
    # component heads ∩ uncontaminated ∩ sampled ∩ the word-count gate
    from smoldocling_ocr_spark.plans.catalog import spark_queries

    q = spark_queries()
    sf = "/root/testdata/sf0.001"
    clean = {r.doc_id for r in q["decontamination_scan"](spark, sf).collect() if not r.contaminated}
    sampled = {r.doc_id for r in q["stratified_sample_by_lang"](spark, sf).collect()}
    wordy = {r.doc_id for r in docs.collect() if r.text and len([w for w in r.text.split(" ") if w]) >= 3}
    curated_ids = [r.doc_id for r in curated.collect()]
    assert len(curated_ids) == len(set(curated_ids))
    assert set(curated_ids) == {r.doc_id for r in heads.collect()} & clean & sampled & wordy

    # determinism: a re-run writes the identical curated set
    out2 = str(tmp_path / "curated2")
    _run_curate(["--input", inp, "--output", out2, "--cores", "8"])
    a = sorted(r.doc_id for r in curated.collect())
    b = sorted(r.doc_id for r in spark.read.parquet(f"{out2}/curated").collect())
    assert a == b


def test_curate_job_benchmark_duplicate_contaminates_twin(spark, tmp_path):
    """A training doc that duplicates a BENCHMARK doc must not ship: even
    when clustering removes the benchmark copy (min doc_id survives), the
    bench gram index is built from ALL input docs, so the surviving twin
    is flagged contaminated and dropped (review r5 finding). Short docs in
    the input must not crash any stage."""
    bench_text = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (6, bench_text, "en", "s", len(bench_text)),   # duplicate, survives CC (min id)
        (7, bench_text, "en", "s", len(bench_text)),   # benchmark doc (7 % 50 == 7)
        (1, "ok", "en", "s", 2),                       # sub-gram-width doc
        (2, "clean document with plenty of unique words here", "en", "s", 48),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    out = str(tmp_path / "curated")
    _run_curate(["--input", inp, "--output", out, "--skip-sampling", "--cores", "8"])

    curated_ids = {r.doc_id for r in spark.read.parquet(f"{out}/curated").collect()}
    assert 6 not in curated_ids  # the benchmark's twin is contaminated
    assert 7 not in curated_ids  # the benchmark itself is held out
    assert 2 in curated_ids


def test_curate_job_empty_sequences(spark, tmp_path):
    """An input whose every doc fails the word-count gate leaves `curated`
    and `sequences` empty. The partitioned `sequences` directory then holds
    no parquet file, and the job must still finish: it reads its tables
    back with the written schema instead of inferring one."""
    rows = [
        (1, "ok", "en", "s", 2),
        (2, "two words", "en", "s", 9),
        (3, "ok", "en", "s", 2),  # exact duplicate of doc 1
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    out = str(tmp_path / "curated")
    _run_curate(["--input", inp, "--output", out, "--cores", "8"])

    assert spark.read.parquet(f"{out}/components").count() == 3
    assert spark.read.parquet(f"{out}/curated").count() == 0
    seq_files = [f for _, _, fs in os.walk(f"{out}/sequences") for f in fs if f.endswith(".parquet")]
    assert seq_files == []


def test_curate_job_in_process(spark, tmp_path, curate_main):
    """curate_job in the test session, the way a long-lived driver runs it
    again and again: the checkpoints behind the components write are freed
    when the write returns (the guard checks the session's blocks), and
    the tables match the subprocess job's laws."""
    import pyspark.sql.functions as F

    inp = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(inp)
    out = str(tmp_path / "curated")
    curate_main(["--input", inp, "--output", out])

    comps = spark.read.parquet(f"{out}/components")
    assert comps.count() == docs.count()
    heads = comps.filter(F.col("doc_id") == F.col("component")).select("doc_id")
    curated = spark.read.parquet(f"{out}/curated")
    assert 0 < curated.count() < docs.count()
    assert curated.join(heads, "doc_id", "left_anti").count() == 0
