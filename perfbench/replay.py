"""Single-process kernel replay for the traced run.

Runs ``oracle.run_corpus`` (the same kernels, plan and span builder the
Spark task calls) over seeded sample documents with every ``kernels.*``
stage, ``plan.build_plan`` and ``spans.build_output_spans`` wrapped by
a timer.  The wrappers are installed only in this process, which the
benchmark starts on its own; the Spark workers never see them.

    python3 perfbench/replay.py --workload flagship_s3 --seed 1 --docs 12

prints one JSON object of per-document stage times.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dragnet_spark import kernels, oracle  # noqa: E402

import corpus  # noqa: E402

# stage name -> the module attribute the block loop looks up at call time
STAGES = {
    "zap": (kernels, "zap_channels"),
    "mask_clip": (kernels, "apply_mask"),
    "sk": (kernels, "compute_sk_mask"),
    "decimate": (kernels, "decimate_timeseries"),
    "dedisperse": (kernels, "dedisperse"),
    "block": (kernels, "process_block"),
    "plan": (oracle, "build_plan"),
    "spans": (oracle, "build_output_spans"),
}
CHILDREN = ("zap", "mask_clip", "sk", "decimate", "dedisperse")


class Timers:
    def __init__(self):
        self.sec: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.adds = 0           # dedisperse additions: ndm * nchan * t_out
        self.rows_in = 0        # samples fed to dedisperse
        self.rows_out = 0       # samples it computed

    def wrap(self, name, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.sec[name] += time.perf_counter() - t0
                self.calls[name] += 1
                if name == "dedisperse":
                    z, delays, max_delay = args[:3]
                    t_out = z.shape[0] - max_delay
                    self.adds += delays.shape[0] * z.shape[1] * t_out
                    self.rows_in += z.shape[0]
                    self.rows_out += t_out
        return timed


def replay(workload: str, seed: int, ndocs: int, repeats: int = 3) -> dict:
    cfg, mask = corpus.run_config(workload)
    docs = [corpus.make_document(workload, seed, i) for i in range(ndocs)]
    oracle.run_corpus(docs[:1], cfg, mask)         # first-call costs
    originals = {n: getattr(m, a) for n, (m, a) in STAGES.items()}
    runs = []
    try:
        for _ in range(repeats):
            t = Timers()
            for n, (m, a) in STAGES.items():
                setattr(m, a, t.wrap(n, originals[n]))
            t0 = time.perf_counter()
            oracle.run_corpus(docs, cfg, mask)
            t.sec["doc"] = time.perf_counter() - t0
            runs.append(t)
    finally:
        for n, (m, a) in STAGES.items():
            setattr(m, a, originals[n])

    def per_doc_ms(pick):
        return statistics.median(pick(t) for t in runs) * 1e3 / ndocs

    # A stage the config skips (zap, mask+clip and decimate under s3)
    # is never called and reads exactly 0 ms.
    out = {f"kernels.{n}_ms": per_doc_ms(lambda t, n=n: t.sec[n])
           for n in CHILDREN}
    out["kernels.block_self_ms"] = per_doc_ms(
        lambda t: t.sec["block"] - sum(t.sec[c] for c in CHILDREN))
    out["kernels.doc_ms"] = per_doc_ms(lambda t: t.sec["doc"])
    out["kernels.dedisperse_gadds_per_s"] = statistics.median(
        t.adds / t.sec["dedisperse"] / 1e9 for t in runs)
    out["kernels.useful_frac"] = runs[0].rows_out / runs[0].rows_in
    builds = runs[0].calls["plan"]
    out["plan.build_ms"] = statistics.median(
        t.sec["plan"] / max(t.calls["plan"], 1) for t in runs) * 1e3
    out["plan.builds_per_doc"] = builds / ndocs
    out["spans.build_ms"] = per_doc_ms(lambda t: t.sec["spans"])
    out["replay.docs"] = ndocs
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(corpus.SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, default=12)
    a = ap.parse_args()
    print(json.dumps(replay(a.workload, a.seed, a.docs)))


if __name__ == "__main__":
    main()
