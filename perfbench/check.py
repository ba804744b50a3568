"""Correctness checks on the pipeline's output, kept free of Spark so
they can be tested on planted faults."""

from __future__ import annotations

from dragnet_spark.oracle import run_document
from dragnet_spark.params import MaskSpec, RunConfig
from dragnet_spark.spans import span_sequence_hash


def expected_totals(expected: dict[str, list[int]]) -> tuple[int, int]:
    """(span rows, total text length) over a corpus, metrics rows
    excluded."""
    return (sum(v[0] for v in expected.values()),
            sum(v[1] for v in expected.values()))


def per_doc_failures(actual: dict[str, tuple[int, int]],
                     expected: dict[str, list[int]]) -> list[str]:
    """Documents whose (rows, text length) is missing or differs from
    the plan-derived expectation; output for unknown documents counts
    against nothing but is reported under its own id."""
    bad = [d for d, exp in expected.items()
           if tuple(actual.get(d, (0, 0))) != tuple(exp)]
    return sorted(bad + [d for d in actual if d not in expected])


def hash_failures(pipeline_spans: dict[str, list[dict]], samples: list[dict],
                  cfg: RunConfig, mask: MaskSpec | None) -> list[str]:
    """Sample documents whose pipeline span sequence hash differs from
    the oracle's (``oracle.run_document``), or that have no output."""
    bad = []
    for doc in samples:
        want = span_sequence_hash(run_document(doc, cfg, mask)["spans"])
        got = pipeline_spans.get(doc["doc_id"])
        if got is None or span_sequence_hash(got) != want:
            bad.append(doc["doc_id"])
    return bad
