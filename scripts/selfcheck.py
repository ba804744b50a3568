#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same sf directory, compare row count, sorted column names, and
exact values (stricter than the driver's value-hash: cell-by-cell
after canonical sorting)."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from dragnet_spark.session import get_spark  # noqa: E402

QUERIES = entry_mod.queries()
ORACLE_SQL = entry_mod.oracle_sql()

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def cells_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        # A dtype divergence between engines (e.g. DOUBLE vs DECIMAL
        # stringified by canon) must record a per-query FAIL, not
        # crash the whole gate on float('None').
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    return a == b


def _check_all(spark, con, sf_dir: str, failures: list,
               counts: dict) -> None:
    for name, fn in QUERIES.items():
        sql = ORACLE_SQL.get(name)
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if sql is None:
            counts["skipped"] += 1
            print(f"SKIP {name}: no SQL oracle (rows-only: {len(got)} rows)")
            continue
        try:
            want = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        if sorted(got.columns) != sorted(want.columns):
            failures.append((name, f"schema {sorted(got.columns)} != "
                                   f"{sorted(want.columns)}"))
            print(f"FAIL {name}: schema mismatch")
            continue
        if len(got) != len(want):
            failures.append((name, f"rows {len(got)} != {len(want)}"))
            print(f"FAIL {name}: row count {len(got)} != {len(want)}")
            continue
        g, w = canon(got), canon(want)
        bad = None
        for col in g.columns:
            for i, (x, y) in enumerate(zip(g[col], w[col])):
                if not cells_equal(x, y):
                    bad = (col, i, x, y)
                    break
            if bad:
                break
        if bad:
            failures.append((name, f"value mismatch {bad}"))
            print(f"FAIL {name}: first value mismatch col={bad[0]} "
                  f"row={bad[1]}: spark={bad[2]!r} duckdb={bad[3]!r}")
        else:
            counts["passed"] += 1
            print(f"PASS {name}: {len(got)} rows")


def main(sf_dir: str = "/root/testdata/sf0.01") -> int:
    spark = get_spark(app_name="selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures: list = []
    # Explicit per-category counters, not arithmetic over len(QUERIES):
    # a rows-only query that FAILS on the Spark side would otherwise be
    # double-subtracted (once as a skip, once as a failure).
    counts = {"passed": 0, "skipped": 0}
    try:
        _check_all(spark, con, sf_dir, failures, counts)
    finally:
        spark.stop()
    n_checked = counts["passed"] + len(failures)
    tail = (f" ({counts['skipped']} rows-only, not oracle-checked)"
            if counts["skipped"] else "")
    print(f"\n{counts['passed']}/{n_checked} passed{tail}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
