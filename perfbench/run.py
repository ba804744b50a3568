"""The repository benchmark: one dedispersion-job workload per run.

    python3 perfbench/run.py --workload flagship_s3 --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates (or reuses) the seeded
corpus, starts one ``local[nproc]`` session sized to the host, warms it
up, times a fixed number of passes (about ``--seconds`` worth) from the
documents table to complete output, checks the output outside the timed
region, and prints every metric with its unit.  The last stdout line is
one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` is a separate traced run
that reports the per-layer metrics (layer ladder, kernel replay, Spark
event log, /proc accounting).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import host  # noqa: E402

try:
    import check  # noqa: E402
    import corpus  # noqa: E402
    import eventlog  # noqa: E402
    import passes  # noqa: E402
except ImportError as e:        # no program beside the benchmark
    MISSING: ImportError | None = e
else:
    MISSING = None

WORK_ROOT = os.path.join(HERE, ".work")
RESULTS_DIR = os.path.join(HERE, ".results")

# Nominal seconds per pass on a 4-core host.  They turn the warm-up
# budget and --seconds into fixed pass counts, so a faster program runs
# the same passes as a slower one and both stop at the same point on
# the JVM's warm-up curve.
PASS_S = {"flagship_s3": 1.6, "cleaning_s5": 1.7}
WARMUP_S = 6.0          # passes after the cold pass, before timing starts
MIN_PASSES = 3          # timed passes, however short --seconds is
RESUME_PROBES = 3       # timed resume calls in the traced run
LADDER_REPS = 3         # traced passes per rung
REPLAY_DOCS = 12

# name -> (unit, better); the order is the print order.
END_TO_END = {
    "docs_per_s": ("docs/s", "higher"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "scan.s": ("s", "lower"),
    "scan.input_mb": ("MB", "lower"),
    "prepare.s": ("s", "lower"),
    "arrow.s": ("s", "lower"),
    "arrow.mb_in": ("MB", "lower"),
    "arrow.mb_out": ("MB", "lower"),
    "kernel.busy_s": ("s", "lower"),
    "kernel.doc_ms_p50": ("ms", "lower"),
    "kernel.doc_ms_p99": ("ms", "lower"),
    "kernel.share": ("ratio", "lower"),
    "kernels.zap_ms": ("ms", "lower"),
    "kernels.mask_clip_ms": ("ms", "lower"),
    "kernels.sk_ms": ("ms", "lower"),
    "kernels.decimate_ms": ("ms", "lower"),
    "kernels.dedisperse_ms": ("ms", "lower"),
    "kernels.block_self_ms": ("ms", "lower"),
    "kernels.doc_ms": ("ms", "lower"),
    "kernels.dedisperse_gadds_per_s": ("Gadd/s", "higher"),
    "kernels.useful_frac": ("ratio", "higher"),
    "plan.build_ms": ("ms", "lower"),
    "plan.builds_per_doc": ("ratio", "lower"),
    "plan.cache_resident_frac": ("ratio", "higher"),
    "spans.build_ms": ("ms", "lower"),
    "output.base64_s": ("s", "lower"),
    "ladder.full_s": ("s", "lower"),
    "residual.s": ("s", "lower"),
    "ladder.closure": ("ratio", "higher"),
    "spark.exec_run_s": ("s", "lower"),
    "spark.exec_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.ser_s": ("s", "lower"),
    "spark.shuffle_mb": ("MB", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "sink.write_s": ("s", "lower"),
    "sink.spans_mb": ("MB", "lower"),
    "sink.files": ("count", "lower"),
    "resume.s": ("s", "lower"),
    "resume.jobs": ("count", "lower"),
    "resume.input_records": ("count", "lower"),
    "host.user_cpu_s": ("s", "lower"),
    "host.sys_cpu_s": ("s", "lower"),
    "host.idle_frac": ("ratio", "lower"),
    "trace.docs_per_s": ("docs/s", "higher"),
    "trace.untraced_docs_per_s": ("docs/s", "higher"),
    "trace.overhead_frac": ("ratio", "lower"),
}


class Tracer:
    """Spans (name, start, end, parent, run id) recorded by the
    benchmark around its calls into each layer; kept in memory and
    written out when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        start = time.perf_counter() - self.t0
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({
                "name": name, "start": round(start, 6),
                "end": round(time.perf_counter() - self.t0, 6),
                "parent": parent, "run_id": self.run_id})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=0)


class Failures:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, attempted: int, bad: int, note: str) -> None:
        self.attempted += attempted
        self.failed += bad
        if bad:
            self.notes.append(f"{note}: {bad} of {attempted}")


class Bench:
    def __init__(self, args, shape, work):
        self.args = args
        self.shape = shape
        self.work = work
        self.workload = args.workload
        self.trace = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.cfg, self.mask = corpus.run_config(args.workload)
        with self.trace.span("corpus.ensure"):
            self.corpus = corpus.ensure(args.workload, args.seed)
        self.ndocs = len(self.corpus.expected[0])
        self.passes_done = 0            # forced passes so far, all kinds
        self.fail = Failures()
        self.spark = None
        self.samples: dict = {}         # raw timings for the detail line

    # -- session ----------------------------------------------------------

    def start(self) -> float:
        from dragnet_spark.session import get_spark
        t0 = time.perf_counter()
        with self.trace.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    # -- passes -------------------------------------------------------------

    def next_variant(self) -> int:
        """The corpus variant the next pass reads: variants rotate, so
        on ``cleaning_s5`` a pass meets headers no plan cache holds."""
        v = self.passes_done % len(self.corpus.paths)
        self.passes_done += 1
        return v

    def write_pass(self, name: str) -> float:
        """``run_job`` writing a whole variant into a fresh out_dir under
        ``name``; every document must be processed."""
        v = self.next_variant()
        out_dir = os.path.join(self.work, "out", name)
        with self.trace.span("pipeline.run_job"):
            secs, stats = passes.job(self.spark, self.corpus.paths[v],
                                     self.cfg, self.mask, out_dir)
        self.fail.record(self.ndocs,
                         self.ndocs - (stats.get("n_processed") or 0),
                         "run_job processed")
        return secs

    def cold_pass(self) -> float:
        """The session's first pass, untimed: a ``run_job`` write of
        variant 0, whose out_dir later serves the output checks and the
        resume probe."""
        self.group("write")
        self.out_dir = os.path.join(self.work, "out", "first")
        return self.write_pass("first")

    def one_pass(self) -> float:
        """One pass from the documents table to complete output:
        ``run_pipeline`` forced by row count and text length, checked
        after the clock stops."""
        v = self.next_variant()
        with self.trace.span("pipeline.run_pipeline"):
            secs, got = passes.forced(self.spark, self.corpus.paths[v],
                                      self.cfg, self.mask)
        self.check_totals(got, v)
        return secs

    def check_totals(self, got: tuple[int, int], v: int) -> None:
        expected = self.corpus.expected[v]
        if tuple(got) == check.expected_totals(expected):
            self.fail.record(self.ndocs, 0, "")
            return
        actual = passes.per_doc(self.spark, self.corpus.paths[v], self.cfg,
                                self.mask)
        bad = check.per_doc_failures(actual, expected)
        self.fail.record(self.ndocs, max(len(bad), 1), "output rows/text")

    def pass_count(self, seconds: float) -> int:
        return max(MIN_PASSES, round(seconds / PASS_S[self.workload]))

    def run_passes(self, n: int, sampler=None) -> tuple[list, list]:
        """``n`` passes; their wall times and, with a sampler, each
        pass's peak RSS."""
        times, peaks = [], []
        for _ in range(n):
            if sampler is not None:
                sampler.reset()
            times.append(self.one_pass())
            if sampler is not None:
                peaks.append(sampler.peak())
        return times, peaks

    # -- the output check and the resume probe -----------------------------

    def check_output(self) -> None:
        """The cold pass's written spans: exact totals, and the span
        sequence hash of the sample documents against the oracle."""
        with self.trace.span("check.output"):
            got = passes.written_totals(self.spark, self.out_dir)
            self.fail.record(
                self.ndocs,
                0 if got == check.expected_totals(self.corpus.expected[0])
                else self.ndocs, "written spans")
            ids = [d["doc_id"] for d in self.corpus.samples]
            spans = passes.written_spans(self.spark, self.out_dir, ids)
            bad = check.hash_failures(spans, self.corpus.samples, self.cfg,
                                      self.mask)
        self.fail.record(len(ids), len(bad), "span hash vs oracle")

    def resume_probe(self) -> list[float]:
        """Resume calls over the cold pass's completed out_dir, each of
        which must skip every document: one to warm the path, then
        ``RESUME_PROBES`` timed."""
        times = []
        self.group("resume-warm")
        for i in range(RESUME_PROBES + 1):
            if i == 1:
                self.group("resume")
            with self.trace.span("pipeline.run_job.resume"):
                secs, stats = passes.job(self.spark, self.corpus.paths[0],
                                         self.cfg, self.mask, self.out_dir)
            if i:
                times.append(secs)
            self.fail.record(self.ndocs, self.ndocs - stats["n_skipped"]
                             + (stats.get("n_processed") or 0),
                             "resume skipped")
        return times

    def warm_up(self) -> None:
        with self.trace.span("warmup"):
            self.run_passes(self.pass_count(WARMUP_S))

    # -- runs ---------------------------------------------------------------

    def run_untraced(self) -> dict:
        with host.RssSampler() as sampler:
            start_s = self.start()
            cold = self.cold_pass()
            self.check_output()
            self.warm_up()
            with self.trace.span("timed"):
                times, peaks = self.run_passes(
                    self.pass_count(self.args.seconds), sampler)
        self.samples = {"pass_s": times,
                        "setup_s": [start_s, cold], "spans": [
                            (sp["name"], round(sp["end"] - sp["start"], 3))
                            for sp in self.trace.spans]}
        return {
            "docs_per_s": (self.ndocs / median(times), len(times)),
            "setup_s": (start_s + cold, 1),
            "peak_rss_mb": (median(peaks) / 1e6, len(peaks)),
        }

    def restart_with_event_log(self, evdir: str) -> None:
        """Stop the context and start a new one that writes an event
        log.  The JVM stays up, so system properties set now reach the
        new context's SparkConf; the program's own settings are
        untouched."""
        jvm = self.spark.sparkContext._jvm
        self.spark.stop()
        for k, v in (("spark.eventLog.enabled", "true"),
                     ("spark.eventLog.dir", "file://" + evdir),
                     ("spark.eventLog.compress", "false")):
            jvm.java.lang.System.setProperty(k, v)
        self.start()

    def ladder(self) -> tuple[dict, dict]:
        """LADDER_REPS rounds of the rungs scan, +prepare_documents,
        +no-op mapInPandas, full, full minus base64; the full rung also
        collects the kernel's per-document wall_ms and /proc/stat."""
        rungs: dict[str, list] = {}
        extra = {"busy": [], "docs_ms": [], "cpu": [], "mb_in": 0.0}
        spark, cfg, mask = self.spark, self.cfg, self.mask
        steps = (
            ("scan", lambda p: passes.rung_scan(spark, p)),
            ("prepare", lambda p: passes.rung_prepare(spark, p)),
            ("arrow", lambda p: passes.rung_arrow(spark, p)),
            ("full", lambda p: passes.forced_with_kernel(spark, p, cfg, mask)),
            ("count_only", lambda p: passes.rung_count_only(spark, p,
                                                            cfg, mask)))
        for _ in range(LADDER_REPS):
            for name, fn in steps:
                self.group(name)
                v = self.next_variant()
                before = host.cpu_ticks()
                with self.trace.span(f"ladder.{name}"):
                    secs, out = fn(self.corpus.paths[v])
                rungs.setdefault(name, []).append(secs)
                if name == "prepare":
                    extra["mb_in"] = out / 1e6
                elif name == "full":
                    extra["cpu"].append(host.cpu_delta(before, host.cpu_ticks()))
                    got, walls = out
                    self.check_totals(got, v)
                    extra["busy"].append(sum(walls) / 1e3)
                    extra["docs_ms"].extend(walls)
        return {k: median(v) for k, v in rungs.items()}, extra

    def run_traced(self) -> dict:
        m: dict[str, tuple[float, int]] = {}
        m["session.start_s"] = (self.start(), 1)
        self.cold_pass()
        self.check_output()
        self.warm_up()
        untraced, resident = [], []
        for _ in range(MIN_PASSES):
            resident.append(self.cache_resident())
            untraced += self.run_passes(1)[0]
        self.group("write-warm")
        m["sink.write_s"] = (self.write_pass("warm"), 1)

        evdir = os.path.join(self.work, "eventlog")
        os.makedirs(evdir)
        self.restart_with_event_log(evdir)
        self.one_pass()                     # fresh Python workers
        self.group("traced")
        traced, _ = self.run_passes(MIN_PASSES)
        r, x = self.ladder()
        resume = self.resume_probe()
        with self.trace.span("replay"):
            rep = self.replay()
        self.stop()
        ev = eventlog.parse_file(self.event_file(evdir))

        n, cores = LADDER_REPS, self.shape["cores"]
        busy_s, full_s = median(x["busy"]), r["full"]
        m["scan.s"] = (r["scan"], n)
        m["scan.input_mb"] = (passes.dir_stats(self.corpus.paths[0])[0], 1)
        m["prepare.s"] = (r["prepare"] - r["scan"], n)
        m["arrow.s"] = (r["arrow"] - r["prepare"], n)
        m["arrow.mb_in"] = (x["mb_in"], 1)
        m["arrow.mb_out"] = (self.payload_bytes() / 1e6, 1)
        m["kernel.busy_s"] = (busy_s, n)
        docs_ms = sorted(x["docs_ms"])
        m["kernel.doc_ms_p50"] = (median(docs_ms), len(docs_ms))
        m["kernel.doc_ms_p99"] = (docs_ms[int(0.99 * (len(docs_ms) - 1))],
                                  len(docs_ms))
        m["kernel.share"] = (busy_s / (cores * full_s), n)
        for k, v in rep.items():
            if k in PER_LAYER:
                m[k] = (v, REPLAY_DOCS)
        m["plan.cache_resident_frac"] = (median(resident), len(resident))
        base64_s = full_s - r["count_only"]
        m["output.base64_s"] = (base64_s, n)
        accounted = r["arrow"] + busy_s / cores + base64_s
        m["ladder.full_s"] = (full_s, n)
        m["residual.s"] = (full_s - accounted, n)
        m["ladder.closure"] = (accounted / full_s, n)
        fe = ev.get("full", {})
        for k in ("exec_run_s", "exec_cpu_s", "gc_s", "ser_s", "shuffle_mb"):
            m[f"spark.{k}"] = (fe.get(k, 0.0) / n, n)
        m["spark.task_skew"] = (fe.get("task_skew", 1.0), n)
        m["sink.spans_mb"], m["sink.files"] = (
            (v, 1) for v in passes.dir_stats(os.path.join(self.out_dir, "spans")))
        m["resume.s"] = (median(resume), len(resume))
        rs = ev.get("resume", {})
        m["resume.jobs"] = (rs.get("jobs", 0) / RESUME_PROBES, RESUME_PROBES)
        m["resume.input_records"] = (rs.get("input_records", 0)
                                     / RESUME_PROBES, RESUME_PROBES)
        for k in ("user_cpu_s", "sys_cpu_s", "idle_frac"):
            m[f"host.{k}"] = (median(c[k.replace("_cpu", "")] for c in x["cpu"]), n)
        m["trace.docs_per_s"] = (self.ndocs / median(traced), len(traced))
        m["trace.untraced_docs_per_s"] = (self.ndocs / median(untraced),
                                          len(untraced))
        m["trace.overhead_frac"] = (
            1.0 - m["trace.docs_per_s"][0] / m["trace.untraced_docs_per_s"][0],
            len(traced))
        return {k: m[k] for k in PER_LAYER}

    def cache_resident(self) -> float:
        """Share of the next pass's headers whose plan some Python
        worker already caches: an upper bound on that pass's plan-cache
        hit rate (a hit also needs the document to reach that worker)."""
        self.group("probe")
        keys = passes.plan_cache_keys(self.spark, self.shape["cores"])
        want = self.corpus.headers[self.passes_done % len(self.corpus.paths)]
        return sum(h in keys for h in want) / len(want)

    def payload_bytes(self) -> int:
        """Computed raw float32 series bytes the kernel hands back."""
        from dragnet_spark.params import Header
        from dragnet_spark.plan import build_plan
        doc = self.corpus.samples[0]
        plan = build_plan(Header.from_json(doc["spans"][0]["text"]),
                          self.cfg, self.mask)
        return self.ndocs * len(plan.dmlist) * plan.nsamp_computed * 4

    def replay(self) -> dict:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "replay.py"),
             "--workload", self.workload, "--seed", str(self.args.seed),
             "--docs", str(REPLAY_DOCS)],
            capture_output=True, text=True, timeout=120, check=True)
        return json.loads(out.stdout.strip().splitlines()[-1])

    @staticmethod
    def event_file(evdir: str) -> str:
        names = [n for n in os.listdir(evdir) if not n.startswith(".")]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log in {evdir}: {names}")
        return os.path.join(evdir, names[0])

    def stop(self) -> None:
        """Stop the session, then the JVM it ran in, and wait for both."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()      # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _sweep_work() -> None:
    """Remove work dirs of earlier runs whose process is gone."""
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        if not os.path.exists(f"/proc/{name}"):
            shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)


def _wait_children(timeout: float = 30.0) -> None:
    t_end = time.perf_counter() + timeout
    while time.perf_counter() < t_end:
        if host.process_tree(os.getpid()) == [os.getpid()]:
            return
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["flagship_s3", "cleaning_s5"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if MISSING is not None:
        print(f"perfbench: cannot import the program from {ROOT}: {MISSING}",
              file=sys.stderr)
        return 2
    live = host.spark_jvms()
    if live:
        print(f"perfbench: another Spark JVM is running (pids {live}); "
              "a second session would distort the timings", file=sys.stderr)
        return 3

    shape = host.host_shape()
    _sweep_work()
    work = os.path.join(WORK_ROOT, str(os.getpid()))
    for d in ("local", "tmp", "out"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(host.spark_env(shape, ROOT, work))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    bench = None
    try:
        bench = Bench(args, shape, work)
        if args.trace:
            metrics, table = bench.run_traced(), PER_LAYER
        else:
            metrics, table = bench.run_untraced(), END_TO_END
    finally:
        if bench is not None:
            bench.stop()
        _wait_children()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        bench.trace.write(os.path.join(
            RESULTS_DIR, f"trace-{args.workload}-s{args.seed}.json"))

    fail = bench.fail
    failed_frac = fail.failed / max(fail.attempted, 1)
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host": shape, "versions": host.versions(),
              "ndocs": bench.ndocs, "corpus_sha256": bench.corpus.digest,
              "failed_frac": failed_frac, "failures": fail.notes,
              "samples": bench.samples,
              "metrics": {k: {"value": v, "unit": table[k][0], "n": n}
                          for k, (v, n) in metrics.items()}}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={shape['cores']} mem_total_kb={shape['mem_total_kb']} "
          f"docs={bench.ndocs}")
    for k, (v, n) in metrics.items():
        print(f"#   {k:32s} {v:14.6g} {table[k][0]:8s} n={n}")
    print(f"#   {'failed_frac':32s} {failed_frac:14.6g} {'ratio':8s} "
          f"n={fail.attempted}")
    print(json.dumps({"perfbench": detail}))
    print(json.dumps({
        "correct": fail.failed == 0, "attempted": fail.attempted,
        "failed": fail.failed,
        "metrics": {k: {"value": v, "unit": table[k][0]}
                    for k, (v, n) in metrics.items()}}))
    return 0 if fail.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
