"""Block lifetime (``session.owned_blocks``): the code that runs the action
owns the scope, the scope frees every checkpoint made inside it on return
or raise, and a ``DataFrame.cache()`` buffer stays with the CacheManager.
The rule lives in ``session.py`` alone; a lint keeps it there."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from smoldocling_ocr_spark.session import owned_blocks, persisted_rdd_ids

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SESSION = os.path.join(ROOT, "smoldocling_ocr_spark", "session.py")
TESTDATA = "/root/testdata"

pytestmark = pytest.mark.usefixtures("no_leaked_blocks")


def test_cc_raise_inside_scope_leaves_no_block(spark):
    """One round does not converge at sf0.01: connected_components raises
    while it still holds ``edges`` and the last round's labels (``bands``
    is already released), and the caller's scope frees both."""
    from smoldocling_ocr_spark.operators.corpusops import connected_components
    from smoldocling_ocr_spark.sources.documents import read_table

    docs = read_table(spark, f"{TESTDATA}/sf0.01", "documents")
    before = persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"), owned_blocks(spark):
        try:
            connected_components(docs, max_iters=1)
        finally:
            held = persisted_rdd_ids(spark) - before
    assert len(held) == 2
    assert persisted_rdd_ids(spark) == before


def test_cc_holds_edges_and_two_rounds_at_most(spark, monkeypatch):
    """Round hygiene: after every round's action the session holds at most
    ``edges`` plus the previous and the new round of labels."""
    from smoldocling_ocr_spark.operators.corpusops import connected_components
    from smoldocling_ocr_spark.sources.documents import read_table

    frame_cls = type(spark.range(1))
    count = frame_cls.count
    held = []

    def recording_count(df):
        n = count(df)
        held.append(len(persisted_rdd_ids(spark) - before))
        return n

    docs = read_table(spark, f"{TESTDATA}/sf0.001", "documents")
    before = persisted_rdd_ids(spark)
    with owned_blocks(spark):
        monkeypatch.setattr(frame_cls, "count", recording_count)
        comps = connected_components(docs)
        monkeypatch.undo()
        assert comps.count() == docs.count()
    assert len(held) >= 2  # at least one round changed a label
    assert held[0] == 2 and max(held) == 3


def test_cache_materialized_inside_scope_outlives_it(spark):
    """A ``DataFrame.cache()`` whose first action runs inside a scope keeps
    its buffer: unpersisting it by RDD id would leave a stale CacheManager
    entry whose plan silently recomputes on every read."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def touch(x):
        calls.add(1)
        return x

    df = spark.range(0, 64, 1, 4).select(touch("id").alias("id")).cache()
    before = persisted_rdd_ids(spark)
    try:
        with owned_blocks(spark):
            assert df.count() == 64
        assert len(persisted_rdd_ids(spark) - before) == 1
        computed = calls.value
        assert computed >= 64
        assert df.agg(F.sum("id")).first()[0] == sum(range(64))
        assert calls.value == computed  # served from the cache
    finally:
        df.unpersist(blocking=True)


def test_block_lifetime_lives_in_session_only():
    """No program module other than ``session.py`` reads the persisted-RDD
    registry or unpersists an RDD by id; block lifetime has one owner."""
    pattern = re.compile(r"getPersistentRDDs|\.unpersist\(False\)|\.rdd\(\)\.unpersist")
    offenders = []
    for top in ("smoldocling_ocr_spark", "jobs"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            for name in files:
                path = os.path.join(dirpath, name)
                if not name.endswith(".py") or path == SESSION:
                    continue
                with open(path, encoding="utf-8") as fh:
                    if pattern.search(fh.read()):
                        offenders.append(os.path.relpath(path, ROOT))
    assert offenders == []
