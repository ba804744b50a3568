#!/usr/bin/env python
"""Benchmark harness (driver contract + scaling evidence).

Default mode (what the driver runs per-round): execute every headline
query from ``__spark_entry__.queries()`` plus the flagship dedispersion
pipeline over ``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``)
on ``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1,
     "gate_s": <gate rows>, "flagship_s": <flagship rows>, ...}

``--scaling`` mode: at every level of the host's N -> 4N chain
(:func:`scaling_levels`: 1, 4 on 4 cores; 2, 8, 32 on 32) run the
repository benchmark's traced flagship workload
(``perfbench/run.py --workload flagship_s3 --trace 1``) pinned to N
CPUs, and write ``BENCH/BASELINE.md``: each level's docs/s and layer
times, and each N -> 4N pair's efficiency eff = docs/s(4N) /
(4 * docs/s(N)) (target >= 0.8) and per-layer speed-ups.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

BENCH_CORPUS = "bench"      # driver bench: 1024 docs, ~1.4 GB


def run_flagship(spark, corpus: str = BENCH_CORPUS) -> float:
    """One timed flagship run: read the spans corpus -> fused
    zap/SK/decimate/dedisperse kernel -> force materialization.
    Returns wall seconds."""
    from pyspark.sql import functions as F

    from dragnet_spark.generate import corpus_df, scenario_configs
    from dragnet_spark.pipeline import run_pipeline

    cfg = scenario_configs(corpus)["s3"]  # SKZ on: real cleaning load
    docs = corpus_df(spark, corpus)
    t0 = time.perf_counter()
    rows = run_pipeline(docs, cfg, None)
    # Force every span (length touches the decoded series text).
    n = (rows.where(F.col("kind") != "metrics")
         .agg(F.count(F.lit(1)), F.sum(F.length("text"))).collect())
    elapsed = time.perf_counter() - t0
    if not n[0][0]:
        raise RuntimeError(f"flagship run over {corpus!r} emitted no spans")
    return elapsed


HISTORY_HEADER = "## Sweep history"


def _carry_history(baseline_path: Path) -> list[str]:
    """Prior sweep rows from the existing BASELINE.md, so regenerating
    the file (every ``--scaling`` run rewrites it, including the
    driver's inter-round run) stops destroying the cross-session
    evidence the scaling verdict leans on."""
    if not baseline_path.exists():
        return []
    lines = baseline_path.read_text().splitlines()
    try:
        start = next(i for i, ln in enumerate(lines)
                     if ln.startswith(HISTORY_HEADER))
    except StopIteration:
        return []
    return [ln for ln in lines[start:] if ln.startswith("| 20")]


def scaling_levels(cores: int) -> list[int]:
    """The ``--scaling`` levels for a host with ``cores`` CPUs:
    c * 4**i for i = 0..k, where 4**k is the largest power of four
    <= cores and c = cores // 4**k, so each adjacent pair is an
    N -> 4N pair (32 cores -> 2, 8, 32; 4 cores -> 1, 4).  Under 4
    cores no pair fits, and this raises ValueError."""
    if cores < 4:
        raise ValueError(f"--scaling needs at least 4 cores for one "
                         f"N -> 4N pair; this host has {cores}")
    k = 1
    while 4 ** (k + 1) <= cores:
        k += 1
    return [cores // 4 ** k * 4 ** i for i in range(k + 1)]


# Each sweep level is one traced perfbench run of the flagship workload.
PERFBENCH = ["perfbench/run.py", "--workload", "flagship_s3", "--seed", "1",
             "--trace", "1"]
# (column, perfbench metric) of the layers each level reports.
LAYERS = (("scan", "scan.s"), ("prepare", "prepare.s"), ("arrow", "arrow.s"),
          ("kernel", "kernel.busy_s"), ("base64", "output.base64_s"),
          ("full", "ladder.full_s"))


def level_result(n: int, returncode: int, stdout: str) -> dict:
    """One sweep level from the stdout of its perfbench run: docs/s,
    each layer's seconds (the kernel's busy seconds divided by ``n``,
    its wall share on ``n`` cores), system CPU seconds, the pass count
    and the corpus size.  Raises ValueError when the level cannot count:
    the run failed or its output was wrong, or it saw other than ``n``
    cores (the pinning did not hold)."""
    lines = [json.loads(ln) for ln in stdout.splitlines()
             if ln.startswith("{")]
    result = lines[-1] if lines else {}
    if returncode or result.get("correct") is not True:
        raise ValueError(f"level {n}: perfbench exited {returncode} with "
                         f"correct={result.get('correct')}")
    detail = next((d["perfbench"] for d in lines if "perfbench" in d), {})
    got = detail.get("host", {}).get("cores")
    if got != n:
        raise ValueError(f"level {n}: perfbench ran on {got} cores")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    out = {name: m[key] for name, key in LAYERS}
    out["kernel"] /= n
    return {**out, "docs_per_s": m["trace.untraced_docs_per_s"],
            "sys_cpu_s": m["host.sys_cpu_s"], "ndocs": detail["ndocs"],
            "runs": detail["metrics"]["trace.untraced_docs_per_s"]["n"]}


def pair_row(lo: dict, hi: dict) -> dict:
    """An N -> 4N pair from its two :func:`level_result` levels:
    eff = docs/s(4N) / (4 * docs/s(N)) and each layer's speed-up
    t(N) / t(4N).  prepare, arrow and base64 are differences of ladder
    rungs, so a layer whose time is not positive at both levels has no
    speed-up (None)."""
    return {"eff": hi["docs_per_s"] / (4.0 * lo["docs_per_s"]),
            **{name: lo[name] / hi[name] if lo[name] > 0 and hi[name] > 0
               else None for name, _ in LAYERS}}


def scaling() -> None:
    from dragnet_spark.session import host_cores, mem_total_kb

    cores = host_cores()
    try:
        levels = scaling_levels(cores)
    except ValueError as exc:
        sys.exit(str(exc))
    mem_gib = mem_total_kb() / 2 ** 20
    cpus = sorted(os.sched_getaffinity(0))
    res = {}
    for n in levels:
        # Pin the whole process tree to n CPUs: the JVM and the Python
        # workers inherit the affinity, and perfbench sizes its
        # local[n] session from it, as n single-core executors would be.
        run = subprocess.run(
            [sys.executable, *PERFBENCH], capture_output=True, text=True,
            cwd=REPO, preexec_fn=lambda: os.sched_setaffinity(0, cpus[:n]))
        try:
            res[n] = level_result(n, run.returncode, run.stdout)
        except ValueError as exc:
            sys.stderr.write(run.stderr[-4000:])
            sys.exit(f"--scaling refused {exc}; BENCH/BASELINE.md is "
                     "unchanged")
    pairs = {(n, 4 * n): pair_row(res[n], res[4 * n]) for n in levels[:-1]}
    names = [name for name, _ in LAYERS]
    rows = [f"| local[{n}] | {r['docs_per_s']:.1f} | "
            + " | ".join(f"{r[k]:.2f}" for k in names + ["sys_cpu_s"])
            + " |" for n, r in res.items()]
    rows += [f"| {n} -> {m} | **{p['eff']:.3f}** | "
             + " | ".join("—" if p[k] is None else f"{p[k]:.2f}x"
                          for k in names) + " | |"
             for (n, m), p in pairs.items()]
    path = REPO / "BENCH" / "BASELINE.md"
    path.parent.mkdir(exist_ok=True)
    host = f"{cores} cores, {mem_gib:.1f} GiB"
    ndocs, runs = res[levels[0]]["ndocs"], res[levels[0]]["runs"]
    history = _carry_history(path) + [
        f"| {time.strftime('%Y-%m-%d')} ({host}) | perfbench flagship_s3 "
        f"({ndocs} docs) | {runs} | "
        + " | ".join(f"{n}->{m}: {p['eff']:.3f}"
                     for (n, m), p in pairs.items()) + " |"]
    path.write_text(f"""\
# BENCH/BASELINE.md — flagship scaling efficiency, by layer

Each level runs `python3 {' '.join(PERFBENCH)}`
pinned to the host's first N CPUs: the flagship pipeline (scenario
`s3`) over perfbench's seeded {ndocs}-doc corpus.  Host: {host}
MemTotal.  Regime: session start and the cold pass are excluded, each
pass's fixed costs (planning, scheduling, collecting the result) are
included.  docs/s is the median of {runs} untraced passes; layer
seconds are medians of the traced ladder (perfbench/README.md), kernel
is busy seconds / N.  A pair row gives eff = docs/s(4N) / (4 x
docs/s(N)) (target >= 0.8) and each layer's speed-up t(N) / t(4N),
ideally 4x (— where a rung difference was not positive).

| level or pair | docs/s or eff | {' | '.join(names)} | sys CPU s |
|---|---|---|---|---|---|---|---|---|
{chr(10).join(rows)}

Single-box caveat: all levels share one kernel, one loopback network
and one memory bus.  On a 32-core host the 8->32 pair fell to 0.235
with 50-95% system CPU at local[32].  A real 4N-executor cluster
multiplies kernels, NICs and memory buses with the cores, so the lower
pairs are the faithful proxy; the top pair carries this confound.

Reproduce: `python bench.py --scaling`.

{HISTORY_HEADER} (auto-appended; every `--scaling` run adds one row)

The first nine rows were taken on one 32-core host at levels 2, 8 and
32 by bench.py's own flagship worker over the 4096-doc `scale` or
1024-doc `bench` corpus; their cells are the 2->8 and 8->32
efficiencies.  Later rows name their host and pairs.

| date | corpus | runs/level | eff N->4N (median) | eff, next pair (median) |
|---|---|---|---|---|
{chr(10).join(history)}
""")
    print(json.dumps({"cores": cores, "mem_total_gib": round(mem_gib, 1),
                      "docs_per_sec": {n: r["docs_per_s"]
                                       for n, r in res.items()},
                      **{f"eff_{n}_to_{m}": p["eff"]
                         for (n, m), p in pairs.items()}}))


def _bench_partitioned_sink(spark, corpus: str = BENCH_CORPUS) -> float:
    """Time the DM-partitioned sink on the flagship output plus one
    partition-pruned single-DM read-back (the fold/search access
    pattern the layout exists for)."""
    import shutil as _shutil

    from pyspark.sql import functions as F

    from dragnet_spark.generate import corpus_df, scenario_configs
    from dragnet_spark.io import write_timeseries_partitioned
    from dragnet_spark.pipeline import run_pipeline

    cfg = scenario_configs(corpus)["s3"]
    docs = corpus_df(spark, corpus)
    # App-id-unique path: concurrent sessions benching cannot race on
    # one directory (same treatment as the CC checkpoint dirs).
    out = (f"/tmp/dragnet_perdm_bench/"
           f"{spark.sparkContext.applicationId}.parquet")
    _shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    write_timeseries_partitioned(run_pipeline(docs, cfg, None), out)
    n = (spark.read.parquet(out).where(F.col("dm") == "25.000")
         .agg(F.count(F.lit(1)), F.sum(F.length("text"))).collect())
    elapsed = time.perf_counter() - t0
    if not n[0][0]:
        raise RuntimeError("partitioned sink read back no DM 25 rows")
    # Untimed cleanup: app-id-unique paths would otherwise accumulate
    # ~0.5 GB per benching session in /tmp.
    _shutil.rmtree(out, ignore_errors=True)
    return elapsed


def driver_bench() -> None:
    from dragnet_spark.generate import CORPORA, corpus_df
    from dragnet_spark.session import get_spark, host_cores

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = host_cores()
    try:
        sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)
    except ValueError:
        # A non-sfN directory name must not crash the bench before it
        # emits its one contract JSON line; report the name as-is.
        sf = Path(sf_dir).name

    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="bench", cores=cores)
    corpus_df(spark, BENCH_CORPUS)      # writes the /tmp cache if absent
    ndocs = CORPORA[BENCH_CORPUS][0]

    timings: dict[str, float] = {}
    qs = entry_mod.queries()

    # Session warm-up: JIT the scan/agg/window/Arrow code paths once so
    # per-query numbers measure the query, not first-use compilation.
    # Isolated: a missing/unreadable fixture must not abort the bench.
    errors: dict[str, str] = {}
    from pyspark.sql import functions as F
    try:
        warm = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        warm.groupBy("l_returnflag").agg(F.sum("l_quantity")).collect()
        spark.read.parquet(f"{sf_dir}/events.parquet").limit(1000) \
            .mapInPandas(lambda it: it, "event_id long, ts timestamp, "
                         "user_id long, event_type string, value double, "
                         "props string").count()
    except Exception as exc:  # noqa: BLE001
        errors["_warmup"] = f"{type(exc).__name__}: {exc}"[:200]
    # Every one-time cost the query bodies trigger lazily is paid here,
    # untimed: the oracle's sample exports, the tiny/skew corpus caches
    # and one run of each flagship query (the first chunked skew run
    # measured 15.1 s vs 2.8 s warm).
    try:
        from dragnet_spark.flagship_oracle import (FLAGSHIP_QUERIES,
                                                   export_samples)
        export_samples("tiny")
        export_samples("skew")
        corpus_df(spark, "tiny")
        corpus_df(spark, "skew")
        for name, fn in FLAGSHIP_QUERIES.items():
            if name in qs:
                fn(spark, sf_dir).collect()
    except Exception as exc:  # noqa: BLE001
        errors["_flagship_warmup"] = f"{type(exc).__name__}: {exc}"[:200]
    # Best-of-2 per query (single shots on a VM land 2-6x over their
    # true cost), best-of-3 for the jitter-prone flagship rows: the
    # minimum is the only stable observable.
    try:
        flagship_names = set(FLAGSHIP_QUERIES)
    except NameError:  # flagship import failed above
        flagship_names = set()
    for name, fn in qs.items():
        try:
            best = None
            for _ in range(3 if name in flagship_names else 2):
                t0 = time.perf_counter()
                fn(spark, sf_dir).collect()
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            timings[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001 — one bad query must not
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]  # kill bench

    gate_s = sum(timings.values())
    # Flagship at bench scale (1024 docs, 1 GiB raw spectra): 3
    # warm-ups, best-of-3 timed.
    for _ in range(3):  # warm-up (JIT of generated code, Arrow paths)
        run_flagship(spark)
    fl = min(run_flagship(spark) for _ in range(3))
    timings["dedisperse_bench"] = round(fl, 3)

    # Per-DM partitioned sink: flagship output written partitionBy(dm)
    # plus a pruned single-DM read-back, best-of-2.
    timings["partitioned_sink"] = round(
        min(_bench_partitioned_sink(spark) for _ in range(2)), 3)
    spark.stop()

    print(json.dumps({
        "metric": "headline query latency + flagship dedispersion wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "gate_s": round(gate_s, 3),
        "flagship_s": round(sum(timings.values()) - gate_s, 3),
        "flagship_docs_per_sec": round(ndocs / fl, 1),
        "cores": cores,
        # Failed queries are excluded from `value`; flag so a partial
        # sum cannot read as a faster run.
        **({"errors": errors, "valid": False} if errors else {}),
    }))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--scaling", action="store_true",
                   help="sweep the host's N -> 4N levels and rewrite "
                        "BENCH/BASELINE.md")
    if p.parse_args().scaling:
        scaling()
    else:
        driver_bench()


if __name__ == "__main__":
    main()
