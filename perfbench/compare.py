"""Compare two sets of benchmark runs, metric by metric and workload by
workload.

    python3 perfbench/compare.py --base base/*.txt --new new/*.txt

Each file is the saved stdout of one ``run.py`` run.  Prints each
side's median and quartiles and the new/base ratio of medians.  Refuses
(exit 2) when the runs were taken on different host shapes (cores,
MemTotal): numbers from different shapes are not comparable.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def load(paths: list[str]) -> list[dict]:
    runs = []
    for p in paths:
        with open(p) as fh:
            for line in fh:
                if line.startswith('{"perfbench"'):
                    runs.append(json.loads(line)["perfbench"])
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    a = ap.parse_args()
    base, new = load(a.base), load(a.new)
    if not base or not new:
        print("compare: no perfbench result lines found", file=sys.stderr)
        return 2
    shapes = {json.dumps(r["host"], sort_keys=True) for r in base + new}
    if len(shapes) > 1:
        print(f"compare: refusing to compare across host shapes {sorted(shapes)}",
              file=sys.stderr)
        return 2
    print(f"host {shapes.pop()}")
    keys = sorted({(r["workload"], r["trace"]) for r in base + new})
    for workload, trace in keys:
        b = [r for r in base if (r["workload"], r["trace"]) == (workload, trace)]
        n = [r for r in new if (r["workload"], r["trace"]) == (workload, trace)]
        if not b or not n:
            continue
        print(f"\n{workload} trace={trace} runs base={len(b)} new={len(n)}")
        for m in b[0]["metrics"]:
            bv = [r["metrics"][m]["value"] for r in b if m in r["metrics"]]
            nv = [r["metrics"][m]["value"] for r in n if m in r["metrics"]]
            if not bv or not nv:
                continue
            bq, nq = quartiles(bv), quartiles(nv)
            ratio = nq[1] / bq[1] if bq[1] else float("nan")
            print(f"  {m:32s} base {bq[1]:12.6g} [{bq[0]:.4g}, {bq[2]:.4g}]"
                  f"  new {nq[1]:12.6g} [{nq[0]:.4g}, {nq[2]:.4g}]"
                  f"  new/base {ratio:.4f} {b[0]['metrics'][m]['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
