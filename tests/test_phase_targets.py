"""The benchmark's per-phase split keeps matching the extraction core.

``perfbench/tracing.py:phase_targets()`` names the functions that
``extract.extract_document`` calls through module attributes; a traced run
swaps each one for a timing wrapper. A refactor that deletes, renames,
inlines or imports one of them by name would silently drop its phase from
traced benchmark runs, so every entry must resolve, every one must be
called on a small generated corpus, and wrapping must not change the
markdown.
"""

from __future__ import annotations

import importlib.util
import os
import sys
from collections import Counter

from smoldocling_ocr_spark.functions import extract
from smoldocling_ocr_spark.sources.corpus import generate_rows

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("perfbench_tracing", os.path.join(ROOT, "perfbench", "tracing.py"))
tracing = sys.modules[_spec.name] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(tracing)


def test_phase_targets_resolve_and_are_called():
    rows = generate_rows(20)
    targets = tracing.phase_targets()
    assert len(targets) == 14
    for owner, attr, phase in targets:
        assert callable(getattr(owner, attr, None)), f"{owner.__name__}.{attr}"
        assert phase in tracing.PHASES

    calls: Counter[str] = Counter()

    def counting(name):
        def make(fn):
            def counted(*args, **kwargs):
                calls[name] += 1
                return fn(*args, **kwargs)

            return counted

        return make

    names = [f"{owner.__name__}.{attr}" for owner, attr, _ in targets]
    with tracing.patched([(owner, attr, counting(name)) for (owner, attr, _), name in zip(targets, names)]):
        for r in rows:
            extract.extract_document(r["url"], r["warc_ts"], bytes(r["html"]), r["text"])
    assert [n for n in names if not calls[n]] == []


def test_function_phases_no_mismatches():
    metrics, mismatches = tracing.function_phases(generate_rows(20))
    assert mismatches == 0
    assert set(metrics) == {f"functions.{p}_ms" for p in tracing.PHASES} | {"functions.core_ms"}
