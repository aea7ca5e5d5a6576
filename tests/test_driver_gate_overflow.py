"""Displaced driver-gate queries keep a strict automated value-hash check.

The external driver's correctness gate verifies only the first 50 entries of
``queries()``; the catalog has grown past 50, so some oracle-backed queries
rotate past the cap each round (plans/catalog.py GATE_ROTATION_LAST). This
test re-checks exactly those displaced queries every pytest run using the
DRIVER'S OWN comparison (tests/driver_mimic._hash_frame over a pandas
``.df()`` fetch, which preserves engine-side type artifacts like DuckDB's
HUGEINT → float64) so a regression in a displaced query can never hide
behind the rotation (ADVICE r2, catalog.py:48).
"""

from __future__ import annotations

import duckdb
import pytest

from smoldocling_ocr_spark.session import owned_blocks
from tests.driver_mimic import TABLES, _hash_frame

pytestmark = pytest.mark.usefixtures("no_leaked_blocks")

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _displaced():
    from smoldocling_ocr_spark.plans.catalog import GATE_ROTATION_LAST, oracle_queries

    oracles = oracle_queries()
    return [n for n in GATE_ROTATION_LAST if n in oracles]


@pytest.mark.parametrize("name", _displaced())
def test_displaced_query_hash_matches_oracle(spark, duck, name):
    from smoldocling_ocr_spark.plans.catalog import oracle_queries, spark_queries

    with owned_blocks(spark):
        s_rows, s_cols, s_hash = _hash_frame(spark_queries()[name](spark, SF_DIR).toPandas())
    o_rows, o_cols, o_hash = _hash_frame(duck.execute(oracle_queries()[name]).df())
    assert s_rows == o_rows, f"{name}: row count {s_rows} != oracle {o_rows}"
    assert s_cols == o_cols, f"{name}: columns {s_cols} != oracle {o_cols}"
    assert s_hash == o_hash, f"{name}: value hash mismatch"


def test_rotation_is_complete_and_consistent():
    """Every catalog entry is either inside this round's 50-slot gate or
    explicitly listed as displaced; the never-checked set leads the dict."""
    from smoldocling_ocr_spark.plans.catalog import (
        GATE_ROTATION_FIRST,
        GATE_ROTATION_LAST,
        spark_queries,
    )

    names = list(spark_queries())
    assert names[: len(GATE_ROTATION_FIRST)] == GATE_ROTATION_FIRST
    assert names[-len(GATE_ROTATION_LAST) :] == GATE_ROTATION_LAST
    assert set(GATE_ROTATION_LAST) & set(names[:50]) == set()
    assert set(GATE_ROTATION_FIRST) <= set(names[:50])
