"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics of ``BENCHMARK.json``; ``--trace 1`` prints the per-layer metrics
(spans written to ``.perfbench_work/traces/``). Everything the run writes
(inputs, outputs, Spark scratch, temp files) stays under
``.perfbench_work/`` in the checkout and the run's own directory is removed
at exit. The last stdout line is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3  # input generation is repeated and its median kept
TRACE_ROUNDS = 2  # a traced run makes at least this many probe/job rounds
# the driver heap is fixed and touched up front (initial = max, pre-touch):
# otherwise its resident size follows G1's resizing and which pages a run
# happened to touch, and peak RSS varies by a third between identical runs
DRIVER_HEAP = "2g"


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use a tiny one)")
    p.add_argument("--corrupt", action="store_true", help="damage one output row before the checks (tests)")
    return p.parse_args(argv)


def isolate_environment(work: str) -> None:
    """Keep every file the run (and Spark, and its Python workers) writes
    inside ``work``, and let the workers import the package from this
    checkout whatever their working directory."""
    for sub in ("tmp", "local", "corpus", "warehouse", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # only this checkout's package: an inherited PYTHONPATH could shadow it
    inherited = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    sys.path[:] = [p for p in sys.path if p not in inherited]
    os.environ.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SMOLDOCLING_CORPUS_DIR=os.path.join(work, "corpus"),
        SPARK_DRIVER_MEMORY=DRIVER_HEAP,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    )
    import tempfile

    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]


def start_spark(work: str):
    from smoldocling_ocr_spark.session import get_spark

    from workloads import CORES

    return get_spark(
        app_name="perfbench",
        cores=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and every process it forked (the Python workers) have exited."""
    from pyspark import SparkContext

    import tracing

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = tracing.process_tree(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this host since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def measure(workload, ctx, seconds: float) -> tuple[list[float], list]:
    """Run timed iterations until ``seconds`` have passed and the workload's
    ``min_iterations`` are done; returns the wall times and each
    iteration's outputs."""
    times, results = [], []
    t_end = time.perf_counter() + seconds
    while len(times) < workload.min_iterations or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        results.append(workload.iterate(ctx, f"it{len(times)}"))
        times.append(time.perf_counter() - t0)
    return times, results


def traced_metrics(workload, ctx, spark, seconds: float, warm_results: list):
    """Rounds of: every layer probe, then an untraced and a traced iteration
    in alternating order — so warm-up drift hits all of them alike — until
    ``seconds`` have passed (at least TRACE_ROUNDS). Stage metrics from the status store attach to
    the spans once all of that has run. Returns (metrics, check)."""
    import tracing
    from workloads import CATALOG_QUERIES, CORES, CURATE_TABLES

    tracer = tracing.Tracer()
    probes = workload.probes(ctx)
    probe_times: dict[str, list[float]] = {name: [] for name, _ in probes}
    untraced, results = [], list(warm_results)
    t_end = time.perf_counter() + seconds
    r = 0
    while r < TRACE_ROUNDS or time.perf_counter() < t_end:
        for name, probe in probes:
            t0 = time.perf_counter()
            probe(f"r{r}")
            probe_times[name].append(time.perf_counter() - t0)
        for traced in (r % 2 == 1, r % 2 == 0):  # alternate which goes first
            if traced:
                ctx.tracer = tracer
                with tracing.patched(workload.span_targets(tracer)):
                    with tracer.span("job", workload=workload.name):
                        results.append(workload.iterate(ctx, f"traced{r}"))
                ctx.tracer = None
            else:
                t0 = time.perf_counter()
                results.append(workload.iterate(ctx, f"plain{r}"))
                untraced.append(time.perf_counter() - t0)
        r += 1
    chk = workload.check(ctx, results)
    ctx.tracer = tracer
    layer_metrics = workload.layers(ctx, {n: min(t) for n, t in probe_times.items()}, min(untraced))
    ctx.tracer = None
    if "probe_check" in ctx.notes:
        chk.merge(ctx.notes.pop("probe_check"))

    store = tracing.StatusStore(spark)
    stages = store.stages()
    tracing.attach_stages(tracer, stages, store.job_submissions_ms())
    jobs = tracer.named("job")
    job_untraced = statistics.median(untraced)
    job_traced = statistics.median(s.seconds for s in jobs)

    names = per_layer_names()
    metrics = {n: 0.0 for n in names}
    metrics.update(layer_metrics)
    metrics.update(tracing.executor_metrics(jobs[-1], stages, store, CORES))
    cc = tracer.named("corpusops.connected_components")
    if cc:
        metrics["corpusops.connected_components_s"] = statistics.median(s.seconds for s in cc)
        metrics["curate.cc_jobs"] = float(cc[-1].attrs["jobs"])
    for table in CURATE_TABLES:
        spans = tracer.named(f"curate.{table}_write")
        if spans:
            metrics[f"curate.{table}_write_s"] = statistics.median(s.seconds for s in spans)
    for q in CATALOG_QUERIES:
        spans = tracer.named(f"catalog.{q}")
        if spans:
            metrics[f"catalog.{q}_s"] = statistics.median(s.seconds for s in spans)
            metrics[f"catalog.{q}.shuffle_write_bytes"] = float(spans[-1].attrs["shuffle_write_bytes"])
    metrics["failed_frac"] = chk.failed / max(chk.attempted, 1)
    metrics["trace.overhead_frac"] = job_traced / job_untraced - 1.0
    split = [metrics[n] for n in LAYER_SPLIT]
    if any(split):
        metrics["trace.layer_sum_over_job"] = sum(split) / job_untraced
    if set(metrics) != set(names):
        raise RuntimeError(f"per-layer metrics out of step with BENCHMARK.json: {sorted(set(metrics) ^ set(names))}")
    ctx.notes.update(job_untraced_s=untraced, job_traced_s=[s.seconds for s in jobs], probe_s=probe_times)
    tracer.write(os.path.join(ROOT, ".perfbench_work", "traces", f"{workload.name}-s{ctx.seed}.json"))
    return metrics, chk


LAYER_SPLIT = (
    "sources.scan_s", "pipeline.exchange_s", "pipeline.arrow_s", "pipeline.extract_s",
    "sink.parquet_s", "lineage.extraction_lineage_s", "jobs.extract_tail_s",
)


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def per_layer_names() -> list[str]:
    return [m["name"] for m in benchmark_spec()["per_layer"]]


def units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in benchmark_spec()[kind]}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{args.workload}-s{args.seed}-{os.getpid()}")
    isolate_environment(work)
    try:
        return run(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args: argparse.Namespace, work: str, t_start: float) -> int:
    import tracing
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    spec_units = units("per_layer" if args.trace else "end_to_end")
    workload = WORKLOADS[args.workload]()
    workload.sizes(args.scale)

    steal0, total0 = cpu_ticks()
    spark = start_spark(work)
    session_s = time.perf_counter() - t_start
    try:
        from pyspark import SparkContext

        rss = tracing.RssSampler(SparkContext._gateway.proc.pid).start()
        ctx = Ctx(spark=spark, root=ROOT, work=work, seed=args.seed, corrupt=args.corrupt)
        input_s = []
        for k in range(SETUP_REPS):
            t0 = time.perf_counter()
            workload.prepare(ctx, os.path.join(work, "inputs", str(k)))
            input_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm_results = [workload.iterate(ctx, f"warm{k}") for k in range(workload.warm_iterations)]
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(input_s) + warm_s

        if args.trace:
            metrics, chk = traced_metrics(workload, ctx, spark, args.seconds, warm_results)
            peak_mb = rss.stop()
        else:
            times, results = measure(workload, ctx, args.seconds)
            peak_mb = rss.stop()
            chk = workload.check(ctx, warm_results + results)
            job_s = statistics.median(times)
            metrics = {
                "setup_s": setup_s,
                "job_s": job_s,
                "docs_per_s": workload.docs / job_s,
                "ok_frac": 1.0 - chk.failed / max(chk.attempted, 1),
                "peak_rss_mb": peak_mb,
            }
            ctx.notes.update(job_samples=times)
    finally:
        stop_spark(spark)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "docs": workload.docs,
        "setup": {"session_s": session_s, "input_s": input_s, "warm_s": warm_s},
        "peak_rss_mb": peak_mb,
        "peak_processes": rss.peak_processes,
        # share of this VM's CPU time the hypervisor gave to others: high
        # values mark a run slowed by its neighbours, not by the program
        "host_steal_frac": (cpu_ticks()[0] - steal0) / max(cpu_ticks()[1] - total0, 1),
        "problems": chk.problems[:20],
        **ctx.notes,
    }
    print(json.dumps({"detail": detail}, default=str))
    result = {
        "correct": chk.failed == 0,
        "attempted": chk.attempted,
        "failed": chk.failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": unit} for name, unit in spec_units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
