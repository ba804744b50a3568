#!/usr/bin/env python
"""Bit-exact replica of the driver's value-hash comparison for selected
queries: runs the Spark query and the DuckDB oracle, canonically sorts
both, and compares float cells by their IEEE-754 bit pattern (so
``-0.0 != +0.0``), which is what the driver's value-hash sees.

Usage: python scripts/bitcheck.py [sf_dir] [query ...]
Defaults: sf0.01, the two dedispersion-fold queries the -0.0 artifact
affected (dedisperse_sk_full, dedisperse_clipped).
"""

from __future__ import annotations

import os
import struct
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import duckdb  # noqa: E402
import numpy as np  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from dragnet_spark.session import get_spark  # noqa: E402
# ONE definition of the canonicalization and the table list, shared
# with the value-equality gate (selfcheck) so the two replicas cannot
# silently diverge.
from selfcheck import TABLES, canon  # noqa: E402


def bits(x):
    if x is None:
        return "NULL"
    if isinstance(x, (float, np.floating)):
        # NaNs too go through the raw bit pattern (the docstring's
        # IEEE-754 claim): a non-canonical NaN payload/sign must
        # surface, exactly as a raw-bits value-hash would see it.
        return struct.pack("<d", float(x)).hex()
    if isinstance(x, (bool, np.bool_)):
        return f"bool:{bool(x)}"
    if isinstance(x, (int, np.integer)):
        # Width-insensitive: int64 vs int32 of the same value must
        # compare equal (repr() is numpy-version-sensitive).
        return f"int:{int(x)}"
    return repr(x)


def main(sf_dir: str = "/root/testdata/sf0.01", *names: str) -> int:
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = list(names) or ["dedisperse_sk_full", "dedisperse_clipped"]
    spark = get_spark(app_name="bitcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    rc = 0
    try:
        for name in names:
            # Every divergence class is a recorded FAIL, never a bare
            # assert/KeyError that aborts the loop (and, under -O, a
            # stripped assert would let zip() truncate to the shorter
            # side and print a false PASS).
            try:
                got = canon(queries[name](spark, sf_dir).toPandas())
                want = canon(con.sql(oracles[name]).df())
            except Exception as e:  # noqa: BLE001
                rc = 1
                print(f"FAIL {name}: build error: {e}")
                continue
            if list(got.columns) != list(want.columns):
                rc = 1
                print(f"FAIL {name}: schema {list(got.columns)} != "
                      f"{list(want.columns)}")
                continue
            if len(got) != len(want):
                rc = 1
                print(f"FAIL {name}: row count {len(got)} != {len(want)}")
                continue
            nbad = 0
            first = None
            for col in got.columns:
                for i, (x, y) in enumerate(zip(got[col], want[col])):
                    if bits(x) != bits(y):
                        nbad += 1
                        if first is None:
                            first = (col, i, x, y, bits(x), bits(y))
            if nbad:
                rc = 1
                print(f"FAIL {name}: {nbad} bit-mismatched cells; "
                      f"first {first}")
            else:
                print(f"PASS {name}: {len(got)} rows bit-identical")
    finally:
        spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
