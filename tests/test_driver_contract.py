"""Pins the __spark_entry__ driver contract — the round-4 incident was
a contract breach (queries() grew past the driver's 50-entry
correctness cap and the LAST five entries, the flagship configs,
silently fell out of the gate), so the contract is now a test."""

import pytest

import __spark_entry__ as entry_mod


def test_queries_fit_under_driver_cap_flagship_first():
    from dragnet_spark.flagship_oracle import FLAGSHIP_QUERIES
    qs = entry_mod.queries()
    names = list(qs)
    # the driver checks at most the FIRST 50 entries
    assert len(names) <= 50, f"{len(names)} entries would exceed the cap"
    # the reference's core can never fall off the end again
    assert names[:len(FLAGSHIP_QUERIES)] == list(FLAGSHIP_QUERIES)
    assert all(callable(fn) for fn in qs.values())


def test_oracles_cover_every_query():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # no orphan oracle (a key the driver would never run)
    assert set(oracles) <= set(qs), set(oracles) - set(qs)
    # every query is SQL-checked (no rows-only weak checks left)
    assert set(qs) == set(oracles), set(qs) - set(oracles)
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())
    # one implementation per relation: no two rows share an oracle.
    by_sql: dict[str, list[str]] = {}
    for name, sql in oracles.items():
        by_sql.setdefault(sql, []).append(name)
    shared = sorted(sorted(ns) for ns in by_sql.values() if len(ns) > 1)
    assert shared == [], shared


def test_entry_returns_stable_nonempty_relation(spark):
    df = entry_mod.entry(spark)
    assert df.columns  # stable schema
    assert df.count() > 0


def test_scaling_history_carries_across_regeneration(tmp_path):
    """Every `bench.py --scaling` run rewrites BENCH/BASELINE.md (the
    driver runs one between rounds), so the sweep-history rows the
    scaling verdict leans on must be carried forward, not destroyed."""
    import bench
    p = tmp_path / "BASELINE.md"
    # no file yet -> no history
    assert bench._carry_history(p) == []
    # a file without the history section -> no history (not a crash)
    p.write_text("# Scaling baseline\n\nprose only\n")
    assert bench._carry_history(p) == []
    # history rows survive, prose and table headers are not captured
    p.write_text(
        "# Scaling baseline\n\nprose\n\n"
        f"{bench.HISTORY_HEADER} (auto-appended)\n\n"
        "explanatory prose\n\n"
        "| date | corpus | runs/level | eff 2->8 | eff 8->32 |\n"
        "|---|---|---|---|---|\n"
        "| 2026-08-17 (r2) | scale | 3 | 1.051 | 0.142 |\n"
        "| 2026-08-19 (r5) | scale | 5 | 0.962 | 0.578 |\n")
    rows = bench._carry_history(p)
    assert rows == [
        "| 2026-08-17 (r2) | scale | 3 | 1.051 | 0.142 |",
        "| 2026-08-19 (r5) | scale | 5 | 0.962 | 0.578 |"]
    # the real committed BASELINE.md round-trips through the same path
    real = bench.REPO / "BENCH" / "BASELINE.md"
    if real.exists():
        real_rows = bench._carry_history(real)
        assert real_rows, "committed BASELINE.md lost its history table"
        assert all(r.startswith("| 20") for r in real_rows)


def test_scaling_levels_follow_host():
    """`bench.py --scaling` sweeps the host's own N -> 4N chain: c * 4^i
    up to its core count, never a level the host cannot run."""
    import bench
    assert bench.scaling_levels(32) == [2, 8, 32]
    assert bench.scaling_levels(16) == [1, 4, 16]
    assert bench.scaling_levels(8) == [2, 8]
    assert bench.scaling_levels(4) == [1, 4]
    assert bench.scaling_levels(6) == [1, 4]
    with pytest.raises(ValueError, match="at least 4 cores"):
        bench.scaling_levels(3)
