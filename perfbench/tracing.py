"""Measurement plumbing: spans, Spark status-store stage metrics, peak RSS,
and the per-phase split of the per-document Python core.

Spans are recorded from the benchmark's side only, around calls into the
program's public functions (``patched`` swaps a module attribute for a
timing wrapper and restores it). They stay in memory; stage metrics from
Spark's status store are attached once, after the traced work, by matching
each stage's submission time to the span windows, so the traced region pays
no status-store reads.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    start_ms: float  # epoch ms, comparable with Spark's stage submission times
    end_ms: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """In-memory span recorder; one instance per traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[Span]:
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, len(self.spans), parent, time.time() * 1000.0, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            self._stack.pop()

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f, indent=1, default=str)


@contextlib.contextmanager
def patched(targets: list[tuple[Any, str, Callable[[Callable], Callable]]]) -> Iterator[None]:
    """Temporarily replace ``owner.attr`` with ``make(original)`` for each
    target; the originals are restored on exit."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, make in targets:
            setattr(owner, attr, make(getattr(owner, attr)))
        yield
    finally:
        for owner, attr, original in saved:
            setattr(owner, attr, original)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


@dataclass
class StageMetrics:
    stage_id: int
    attempt: int
    submitted_ms: float
    num_tasks: int
    run_ms: int
    shuffle_write_bytes: int
    spill_bytes: int


class StatusStore:
    """Reads per-stage and per-task metrics from the application status
    store, which Spark keeps live even with the web UI disabled."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._gw = sc._gateway
        self._conv = self._gw.jvm.scala.jdk.javaapi.CollectionConverters

    def stages(self) -> list[StageMetrics]:
        empty = self._gw.new_array(self._gw.jvm.double, 0)
        out = []
        for s in self._conv.asJava(self._store.stageList(None, False, False, empty, None)):
            if str(s.status()) != "COMPLETE":
                continue
            sub = s.submissionTime()
            out.append(
                StageMetrics(
                    stage_id=s.stageId(),
                    attempt=s.attemptId(),
                    submitted_ms=float(sub.get().getTime()) if sub.isDefined() else 0.0,
                    num_tasks=s.numTasks(),
                    run_ms=s.executorRunTime(),
                    shuffle_write_bytes=s.shuffleWriteBytes(),
                    spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                )
            )
        return out

    def job_submissions_ms(self) -> list[float]:
        out = []
        for j in self._conv.asJava(self._store.jobsList(None)):
            sub = j.submissionTime()
            if sub.isDefined():
                out.append(float(sub.get().getTime()))
        return out

    def tasks(self, stage: StageMetrics) -> list[tuple[int, int]]:
        """(executor run ms, rows read) per task of one stage."""
        out = []
        for t in self._conv.asJava(self._store.taskList(stage.stage_id, stage.attempt, 100000)):
            m = t.taskMetrics()
            if not m.isDefined():
                continue
            m = m.get()
            rows = m.inputMetrics().recordsRead() + m.shuffleReadMetrics().recordsRead()
            out.append((m.executorRunTime(), rows))
        return out


def attach_stages(tracer: Tracer, stages: list[StageMetrics], jobs_ms: list[float]) -> None:
    """Give every span the summed metrics of the stages (and the count of
    jobs) submitted inside its window."""
    for sp in tracer.spans:
        inside = stages_in(sp, stages)
        sp.attrs["stages"] = len(inside)
        sp.attrs["jobs"] = sum(1 for t in jobs_ms if sp.start_ms <= t <= sp.end_ms)
        sp.attrs["executor_run_ms"] = sum(s.run_ms for s in inside)
        sp.attrs["shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in inside)
        sp.attrs["spill_bytes"] = sum(s.spill_bytes for s in inside)


def stages_in(span: Span, stages: list[StageMetrics]) -> list[StageMetrics]:
    return [s for s in stages if span.start_ms <= s.submitted_ms <= span.end_ms]


def executor_metrics(span: Span, stages: list[StageMetrics], store: StatusStore, cores: int) -> dict[str, float]:
    """Skew, shuffle, spill and busy share of the stages inside one job span.
    Partition and task skew are read from the stage with the most executor
    time — the one that sets the job's length."""
    inside = stages_in(span, stages)
    heavy = max(inside, key=lambda s: s.run_ms, default=None)
    rows_ratio = task_ratio = 0.0
    if heavy is not None:
        tasks = store.tasks(heavy)
        rows = [r for _, r in tasks]
        runs = [t for t, _ in tasks]
        if rows and sum(rows):
            rows_ratio = max(rows) / (sum(rows) / len(rows))
        if runs and statistics.median(runs):
            task_ratio = max(runs) / statistics.median(runs)
    return {
        "pipeline.partition_rows_max_over_mean": rows_ratio,
        "executor.task_max_over_p50": task_ratio,
        "exchange.shuffle_write_bytes": float(sum(s.shuffle_write_bytes for s in inside)),
        "executor.spill_bytes": float(sum(s.spill_bytes for s in inside)),
        "executor.busy_frac": sum(s.run_ms for s in inside) / 1000.0 / (span.seconds * cores),
    }


# ---------------------------------------------------------------------------
# peak RSS of the Spark JVM and everything it forks (the Python workers)
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks the Python daemon
    from a worker thread, so the main thread's list alone misses it)."""
    kids = []
    try:
        threads = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in threads:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return kids


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _resident_kb(pid: int) -> tuple[str, int]:
    """(process name, proportional resident kB); ("", 0) once it is gone.

    PSS, not RSS: it splits shared pages among the processes sharing them,
    so the sum over the tree counts each resident page once. Summed RSS
    double-counts the Python workers' copy-on-write pages from the daemon
    they fork from, and the whole JVM whenever it forks a child."""
    name, kb = "", 0
    try:
        with open(f"/proc/{pid}/comm") as f:
            name = f.read().strip()
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return name, kb


class RssSampler:
    """Samples the resident memory of a process tree on a background thread
    and keeps the peak; ``stop`` joins the thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.2) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_processes: list[tuple[str, int]] = []  # (name, MB) at the peak
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval_s)

    def sample(self) -> None:
        procs = [_resident_kb(p) for p in process_tree(self.root_pid)]
        total = sum(kb for _, kb in procs)
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_processes = [(name, kb // 1024) for name, kb in procs if kb]

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._halt.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# per-phase split of functions.extract.extract_document
# ---------------------------------------------------------------------------

PHASES = (
    "decode", "layout", "noise", "captions", "confidence", "render", "hyphen_merge",
    "langid", "metadata", "normalize", "enforce", "validate", "gate",
)


def phase_targets() -> list[tuple[Any, str, str]]:
    """(module, function name, phase) for every public function that
    ``extract_document`` calls through a module attribute."""
    from smoldocling_ocr_spark.functions import (
        annotate, captions, confidence, extract, langid, metadata, noise,
        schema_enforce, textnorm, validate,
    )

    return [
        (extract, "decode_payload", "decode"),
        (extract, "run_layout_analysis", "layout"),
        (noise, "tag_document_noise", "noise"),
        (captions, "link_document", "captions"),
        (confidence, "to_frontmatter_fields", "confidence"),
        (annotate, "render_page", "render"),
        (textnorm, "merge_hyphenated_words_loose", "hyphen_merge"),
        (langid, "detect_language_pages", "langid"),
        (metadata, "build_metadata", "metadata"),
        (annotate, "document_structure", "metadata"),
        (textnorm, "normalize_markdown", "normalize"),
        (schema_enforce, "enforce_schema", "enforce"),
        (validate, "validate_markdown", "validate"),
        (validate, "quality_gate", "gate"),
    ]


class PhaseClock:
    """Self time per phase: a phase called inside another phase is charged
    to itself only, never to its caller as well."""

    def __init__(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self._child_s: list[float] = []

    def wrap(self, phase: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            self._child_s.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                elapsed = time.perf_counter() - t0
                children = self._child_s.pop()
                self.self_s[phase] += elapsed - children
                if self._child_s:
                    self._child_s[-1] += elapsed

        return timed


def function_phases(rows: list[dict]) -> tuple[dict[str, float], int]:
    """Bare single-process run of the real ``extract_document`` over
    ``rows``: mean ms/doc per phase with wrappers on, mean ms/doc of the
    unwrapped core, and the number of docs whose markdown differs between
    the wrapped and unwrapped runs (must be 0)."""
    from smoldocling_ocr_spark.functions import extract

    def run_all() -> tuple[float, list[str]]:
        out = []
        t0 = time.perf_counter()
        for r in rows:
            out.append(extract.extract_document(r["url"], r["warc_ts"], bytes(r["html"]), r["text"])["markdown"])
        return time.perf_counter() - t0, out

    run_all()  # warm: imports, regex compiles
    bare_s, bare_md = run_all()
    clock = PhaseClock()
    targets = [(mod, attr, functools.partial(clock.wrap, phase)) for mod, attr, phase in phase_targets()]
    with patched(targets):
        _, wrapped_md = run_all()
    n = max(len(rows), 1)
    metrics = {f"functions.{p}_ms": clock.self_s.get(p, 0.0) * 1000.0 / n for p in PHASES}
    metrics["functions.core_ms"] = bare_s * 1000.0 / n
    mismatches = sum(a != b for a, b in zip(bare_md, wrapped_md))
    return metrics, mismatches
