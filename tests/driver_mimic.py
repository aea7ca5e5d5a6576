"""Strict driver-gate mimic (run manually: python tests/driver_mimic.py [sf_dir]).

Replicates the driver's CORRECTNESS comparison more faithfully than the
pytest oracle suite: DuckDB results are fetched via ``.df()`` (pandas) so
engine-side type artifacts survive — e.g. HUGEINT → float64, the round-1 bug
class — then both sides are normalized identically (columns sorted by name,
floats rounded to 6dp, rows sorted by stringified values) and value-hashed.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smoldocling_ocr_spark.sources.documents import TABLE_NAMES as TABLES


def _hash_frame(pdf) -> tuple[int, str, str]:
    pdf = pdf[sorted(pdf.columns)]
    rows = []
    for row in pdf.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(str(v))
        rows.append("\x1f".join(vals))
    rows.sort()
    digest = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return len(rows), ",".join(sorted(pdf.columns)), digest


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from smoldocling_ocr_spark.session import get_spark, owned_blocks

    spark = get_spark(app_name="driver_mimic", cores=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for i, (name, fn) in enumerate(queries.items()):
        if name not in oracles:
            print(f"[{i:2d}] {name}: rows-only (no oracle)")
            continue
        try:
            with owned_blocks(spark):
                s_rows, s_cols, s_hash = _hash_frame(fn(spark, sf_dir).toPandas())
            o_rows, o_cols, o_hash = _hash_frame(con.execute(oracles[name]).df())
        except Exception as exc:  # pragma: no cover
            failures.append(name)
            print(f"[{i:2d}] {name}: ERROR {exc}")
            continue
        ok = (s_rows, s_cols, s_hash) == (o_rows, o_cols, o_hash)
        status = "OK " if ok else "FAIL"
        if not ok:
            failures.append(name)
            detail = f" rows {s_rows}/{o_rows} cols {s_cols == o_cols} hash {s_hash == o_hash}"
        else:
            detail = f" rows={s_rows}"
        print(f"[{i:2d}] {status} {name}{detail}")
    spark.stop()
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
