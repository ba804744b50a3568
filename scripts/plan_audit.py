#!/usr/bin/env python
"""Physical-plan audit: `.explain("formatted")` for the headline
queries, with assertions on the plan features that matter at 100 TB —
predicate pushdown reaching the parquet scan, column pruning
(ReadSchema), broadcast joins for dim lookups, and no unexpected
shuffle (Exchange) on the per-document pipeline path.

Writes PLANS.md (plan snapshots + the checked invariants) and exits
non-zero if any invariant fails.  Run: python scripts/plan_audit.py
"""

from __future__ import annotations

import os
import re
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from dragnet_spark.queries import QUERIES  # noqa: E402
from dragnet_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

# query -> (must_contain regexes, must_not_contain regexes)
CHECKS: dict[str, tuple[list[str], list[str]]] = {
    # Dim joins must broadcast, never shuffle the fact side.
    "revenue_by_nation": ([r"BroadcastHashJoin"], [r"SortMergeJoin"]),
    "telescope_lookup": ([r"BroadcastHashJoin"], [r"SortMergeJoin"]),
    "interval_mask_join": ([r"BroadcastHashJoin"], [r"SortMergeJoin"]),
    # Scan-agg: partial aggregation before the exchange (map-side combine).
    # No filter in Q1; assert column pruning: the scan must read only
    # the 5 needed lineitem columns, not l_orderkey etc.
    "pricing_summary": ([r"HashAggregate.*Partial|partial_",
                         r"ReadSchema[^\n]*l_returnflag"],
                        [r"ReadSchema[^\n]*l_orderkey"]),
    "zero_dm_sum": ([r"partial_|Partial"], []),
    # Filter must reach the scan.
    "dedup_exact": ([r"ReadSchema[^\n]*text"], []),
    # De-collected round 2: fully distributed plans — no driver-side
    # materialization (LocalTableScan was the collect+createDataFrame
    # shape) and no CollectLimit anywhere.
    "dedup_jaccard": ([], [r"LocalTableScan", r"CollectLimit",
                           # r3: persist-free — nothing may read from a
                           # cached relation
                           r"InMemoryTableScan"]),
    "embedding_near_dup": ([], [r"LocalTableScan", r"CollectLimit"]),
    # Top-k must be a TakeOrdered (map-side partial top-k), never a
    # global Sort + CollectLimit.
    "token_topk": ([r"TakeOrderedAndProject"], [r"LocalTableScan"]),
    # Stratified sampling: pure scan-side aggregation, no join at all.
    "sample_stratified": ([r"partial_|Partial"],
                          [r"Join", r"LocalTableScan"]),
    # Contamination: the eval n-gram set must broadcast against the
    # exploded training stream (a benchmark suite vs 10^12 docs).
    "contamination_ngrams": ([r"BroadcastHashJoin"], [r"SortMergeJoin"]),
    # Repetition quality: zero shuffles — a single narrow scan-project.
    "quality_repetition": ([], [r"Exchange", r"Join"]),
    # Quantization: embarrassingly parallel — zero shuffles/joins.
    "embedding_quantize": ([], [r"Exchange", r"Join"]),
    # Histogram quantiles: partial (map-side) counts before the
    # exchange; the scan must be pruned to lang+n_chars (never text).
    "length_quantiles": ([r"partial_|Partial",
                          r"ReadSchema[^\n]*n_chars"],
                         [r"ReadSchema[^\n]*text"]),
    # TF-IDF: the vocab-sized df relation broadcasts back onto tf;
    # nothing materializes on the driver.
    "tfidf_topterms": ([r"BroadcastHashJoin"],
                       [r"LocalTableScan", r"CollectLimit"]),
    # Quantized ANN: broadcast query codes + map-side partial top-k;
    # never an all-pairs cartesian.
    "ann_quantized_topk": ([r"TakeOrderedAndProject"],
                           [r"CartesianProduct"]),
    # Two-stage rescore: the 50-row shortlist BROADCASTS against the
    # embeddings scan (stage 2 never shuffles the corpus) and both
    # stages end in TakeOrdered.
    "ann_quantized_rescore": ([r"TakeOrderedAndProject",
                               r"BroadcastHashJoin"],
                              [r"SortMergeJoin", r"CartesianProduct"]),
    # Merged per-doc relations stay single narrow scan-projects:
    # zero shuffles, zero joins (the r5 consolidation must not have
    # introduced a join where a second query used to run).
    "text_quality": ([], [r"Exchange", r"Join"]),
    "doc_fingerprint": ([], [r"Exchange", r"Join"]),
    # Merged per-key aggregates join PRE-AGGREGATED sides on the tiny
    # group key — never a cartesian, never a driver-side collect.
    "token_counts": ([], [r"CartesianProduct", r"LocalTableScan"]),
    "channel_stats": ([], [r"CartesianProduct", r"LocalTableScan"]),
    "robust_stats": ([], [r"CartesianProduct", r"LocalTableScan"]),
    # Sessionize: both window specs and the session aggregation ride
    # ONE user_id exchange (the single-exchange invariant is pinned
    # exactly in tests/test_training_ops.py); partial agg present.
    "events_sessionize": ([r"Window", r"partial_|Partial"],
                          [r"CartesianProduct"]),
    # Curation gate: the eval n-gram set broadcasts (never shuffles
    # the corpus against the benchmark suite); no driver-side collect.
    "curate_decisions": ([r"BroadcastHashJoin"],
                         [r"CartesianProduct", r"LocalTableScan",
                          r"CollectLimit"]),
    # Segment dedup: join-free — the fingerprint window rides one
    # segment-level exchange and the per-doc rollup is partial-agg'd
    # map-side before its (tiny) doc_id exchange.
    "dedup_segments": ([r"Window", r"partial_|Partial"],
                       [r"HashJoin", r"SortMergeJoin",
                        r"CartesianProduct", r"LocalTableScan"]),
    # HLL sketch: the mergeable map-side partial max per register is
    # the whole point — it must appear before the register exchange;
    # the only join is the benign 1-row x 1-row cross of the two
    # final aggregates.
    "approx_distinct_hll": ([r"partial_max"],
                            [r"SortMergeJoin", r"CartesianProduct",
                             r"LocalTableScan"]),
    # MinHash LSH: banded bucket self-join — a hash join on
    # (band, bucket), NEVER an all-pairs nested loop over the corpus.
    "dedup_minhash_lsh": ([r"HashJoin|SortMergeJoin"],
                          [r"CartesianProduct",
                           r"BroadcastNestedLoopJoin",
                           r"LocalTableScan"]),
    # Merged simhash (sig + pairs grains): the banded self-join is a
    # hash join, never all-pairs; the one-scan exchange-reuse claim is
    # pinned on the EXECUTED plan in tests/test_training_ops.py (AQE
    # finalizes ReusedExchange at runtime, not in the static plan).
    "dedup_simhash": ([r"HashJoin|SortMergeJoin"],
                      [r"CartesianProduct", r"BroadcastNestedLoopJoin",
                       r"LocalTableScan"]),
    # PII scrub: a single narrow scan-projection — regex count/replace
    # are JVM codegen expressions; zero shuffles, zero joins.
    "pii_redact": ([r"ReadSchema[^\n]*text"], [r"Exchange", r"Join"]),
}


def audit() -> int:
    spark = get_spark(app_name="plan-audit", cores=4, shuffle_partitions=4)
    try:
        return _audit(spark)
    finally:
        spark.stop()


def _audit(spark) -> int:
    sections = []
    failures = []
    for name, (must, must_not) in CHECKS.items():
        # One broken query must surface as a recorded FAILURE in the
        # regenerated PLANS.md, not abort the audit and leave a stale
        # file still claiming "All invariants hold".
        try:
            df = QUERIES[name](spark, SF)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                     .fromString("formatted"))
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: plan build failed: {e}")
            sections.append((name, f"PLAN BUILD FAILED: {e}"))
            continue
        for pat in must:
            if not re.search(pat, plan):
                failures.append(f"{name}: missing /{pat}/")
        for pat in must_not:
            if re.search(pat, plan):
                failures.append(f"{name}: unwanted /{pat}/")
        sections.append((name, plan))

    # Per-document pipeline: exactly one kernel stage, no Exchange.
    from dragnet_spark.generate import make_corpus, scenario_configs
    from dragnet_spark.pipeline import docs_to_df, run_pipeline
    docs = docs_to_df(spark, make_corpus("tiny"))
    rows = run_pipeline(docs, scenario_configs("tiny")["s0"], None)
    plan = rows._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
             .fromString("formatted"))
    # Shuffle-specific pattern for FORMATTED explain output, where a
    # shuffle node renders as "(N) Exchange" (its hashpartitioning
    # detail sits on a separate Arguments: line) and broadcasts as
    # "(N) BroadcastExchange" — a plain /Exchange/ would false-fail
    # on broadcasts, and an /Exchange hashpartitioning/ pattern never
    # matches formatted mode at all (vacuous check).
    if re.search(r"\(\d+\) Exchange\b", plan):
        failures.append("run_pipeline: unexpected shuffle Exchange in the "
                        "per-document path")
    n_kernel = len(re.findall(r"\(\d+\) MapInPandas\b", plan))
    if n_kernel != 1:
        failures.append(f"run_pipeline: {n_kernel} MapInPandas nodes in the "
                        "per-document path (want exactly 1)")
    sections.append(("run_pipeline (per-document fused path)", plan))

    # Per-DM partitioned sink: a single-DM read must be pruned to its
    # one dm= partition at the scan.
    from dragnet_spark.io import write_timeseries_partitioned
    perdm = "/tmp/dragnet_plan_audit_perdm.parquet"
    try:
        write_timeseries_partitioned(rows, perdm)
        rd = spark.read.parquet(perdm).where(F.col("dm") == "25.000")
        plan = rd._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
                 .fromString("formatted"))
    finally:
        shutil.rmtree(perdm, ignore_errors=True)
    if not re.search(r"PartitionFilters: \[[^\]]*dm", plan):
        failures.append("perdm sink: partition filter did not reach the scan")
    sections.append(("write_timeseries_partitioned (single-DM read)", plan))

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("# PLANS.md — audited physical plans\n\n"
                "Generated by `scripts/plan_audit.py` (sf0.01 inputs; "
                "plans are scale-invariant).  Invariants checked:\n"
                "broadcast joins for dims, partial aggregation before "
                "exchanges, pushdown/pruning at the scan, and a "
                "shuffle-free per-document pipeline with one kernel "
                "stage.\n\n")
        if failures:
            f.write("## FAILURES\n\n" +
                    "\n".join(f"- {x}" for x in failures) + "\n\n")
        else:
            f.write("All invariants hold.\n\n")
        for name, plan in sections:
            f.write(f"## {name}\n\n```\n{plan.strip()}\n```\n\n")
    if failures:
        print("\n".join(failures))
        return 1
    print(f"plan audit OK ({len(sections)} plans) -> PLANS.md")
    return 0


if __name__ == "__main__":
    sys.exit(audit())
