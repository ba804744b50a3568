"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import dataclasses
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import check  # noqa: E402
import corpus  # noqa: E402
import eventlog  # noqa: E402
import host  # noqa: E402
from dragnet_spark.oracle import run_document  # noqa: E402


@pytest.fixture
def small_cleaning(monkeypatch):
    """cleaning_s5 cut to 8 docs in 2 variants, so a corpus builds fast."""
    sh = corpus.SHAPES["cleaning_s5"]
    monkeypatch.setitem(corpus.SHAPES, "cleaning_s5",
                        dataclasses.replace(sh, ndocs=8, variants=2))


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, small_cleaning):
    a = corpus.ensure("cleaning_s5", 5, cache_dir=str(tmp_path / "a"))
    b = corpus.ensure("cleaning_s5", 5, cache_dir=str(tmp_path / "b"))
    c = corpus.ensure("cleaning_s5", 6, cache_dir=str(tmp_path / "a"))
    assert a.digest == b.digest == corpus.corpus_digest(b.paths)
    assert a.expected == b.expected and a.headers == b.headers
    assert c.digest != a.digest
    # A second call serves the cached tables rather than regenerating them.
    again = corpus.ensure("cleaning_s5", 5, cache_dir=str(tmp_path / "a"))
    assert again.paths == a.paths and again.digest == a.digest


def test_variants_share_data_not_headers(tmp_path, small_cleaning):
    c = corpus.ensure("cleaning_s5", 5, cache_dir=str(tmp_path))
    assert len(c.paths) == len(c.expected) == len(c.headers) == 2
    assert not set(c.headers[0]) & set(c.headers[1])
    assert len(set(c.headers[0])) == 8
    d0, d1 = (corpus.make_document("cleaning_s5", 5, 3, v) for v in (0, 1))
    samples = lambda d: [s for s in d["spans"] if s["kind"] == "sample"]  # noqa: E731
    assert samples(d0) == samples(d1)
    assert d0["spans"][0] != d1["spans"][0]


def test_cache_evicts_and_sweeps_orphans(tmp_path, small_cleaning):
    cache = tmp_path / "c"
    (cache / f"stale.{2**22 + 7}.tmp").mkdir(parents=True)
    for seed in range(corpus.CACHE_KEEP + 1):
        corpus.ensure("cleaning_s5", seed, cache_dir=str(cache))
    names = sorted(os.listdir(cache))
    assert len(names) == corpus.CACHE_KEEP
    assert not any(n.endswith(".tmp") for n in names)


@pytest.mark.parametrize("workload", list(corpus.SHAPES))
def test_expected_output_matches_oracle(workload):
    cfg, mask = corpus.run_config(workload)
    doc = corpus.make_document(workload, 3, 1)
    spans = run_document(doc, cfg, mask)["spans"]
    assert corpus.expected_output(doc, cfg, mask) == (
        len(spans), sum(len(s["text"]) for s in spans))


def test_shared_plan_gives_the_oracle_output_on_every_variant():
    # generate() builds one plan per plan_key and reuses it for every
    # header variant; the expected shape must still be the oracle's.
    cfg, mask = corpus.run_config("cleaning_s5")
    d0, d1 = (corpus.make_document("cleaning_s5", 4, 2, v) for v in (0, 3))
    key = corpus.plan_key(d0["spans"][0]["text"])
    assert key == corpus.plan_key(d1["spans"][0]["text"])
    plan = corpus.build_plan(corpus.Header.from_json(key), cfg, mask)
    spans = run_document(d1, cfg, mask)["spans"]
    assert corpus.expected_output(d1, cfg, mask, plan) == (
        len(spans), sum(len(s["text"]) for s in spans))


def test_per_doc_headers_only_where_asked():
    hdr = lambda w, i: corpus.make_document(w, 1, i)["spans"][0]["text"]  # noqa: E731
    assert hdr("flagship_s3", 0) == hdr("flagship_s3", 1)
    assert hdr("cleaning_s5", 0) != hdr("cleaning_s5", 1)


def test_hash_check_catches_planted_corrupt_span():
    cfg, mask = corpus.run_config("cleaning_s5")
    docs = [corpus.make_document("cleaning_s5", 2, i) for i in range(2)]
    out = {d["doc_id"]: [dict(s) for s in run_document(d, cfg, mask)["spans"]]
           for d in docs}
    assert check.hash_failures(out, docs, cfg, mask) == []
    bad = out[docs[1]["doc_id"]]
    ts = next(s for s in bad if s["kind"] == "timeseries")
    ts["text"] = ("B" if ts["text"][0] != "B" else "C") + ts["text"][1:]
    assert check.hash_failures(out, docs, cfg, mask) == [docs[1]["doc_id"]]
    del out[docs[0]["doc_id"]]
    assert check.hash_failures(out, docs, cfg, mask) == [
        docs[0]["doc_id"], docs[1]["doc_id"]]


def test_per_doc_failures():
    expected = {"a": [3, 10], "b": [5, 20]}
    assert check.per_doc_failures({"a": (3, 10), "b": (5, 20)}, expected) == []
    assert check.per_doc_failures({"a": (3, 11), "b": (5, 20)}, expected) == ["a"]
    assert check.per_doc_failures({"b": (5, 20), "x": (1, 1)}, expected) == ["a", "x"]
    assert check.expected_totals(expected) == (8, 30)


def test_eventlog_fixture():
    ev = eventlog.parse_file(os.path.join(HERE, "fixtures", "eventlog_small.jsonl"))
    assert set(ev) == {"full", "resume"}
    full = ev["full"]
    assert full["jobs"] == 1
    assert full["exec_run_s"] == pytest.approx(1.55)
    assert full["exec_cpu_s"] == pytest.approx(1.15)
    assert full["gc_s"] == pytest.approx(0.03)
    assert full["ser_s"] == pytest.approx(0.010)
    assert full["shuffle_mb"] == pytest.approx(3.0)
    assert full["input_records"] == 72
    assert full["task_skew"] == pytest.approx(2.0)
    assert ev["resume"]["jobs"] == 2
    assert ev["resume"]["input_records"] == 100


def test_eventlog_rolling_dir(tmp_path):
    src = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")
    with open(src) as fh:
        lines = fh.readlines()
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    # Numeric, not lexical, order: events_10 comes after events_2.
    (d / "events_2_local-1").write_text("".join(lines[:5]))
    (d / "events_10_local-1").write_text("".join(lines[5:]))
    (d / "appstatus_local-1").write_text("")
    assert eventlog.parse_file(str(d)) == eventlog.parse_file(src)


def test_spark_jvm_guard_matches_absolute_and_bare_java():
    spark = b"\0-cp\0spark/jars/*\0org.apache.spark.deploy.SparkSubmit\0"
    assert host.is_spark_jvm(b"/usr/lib/jvm/bin/java" + spark)
    assert host.is_spark_jvm(b"java" + spark)
    assert not host.is_spark_jvm(b"java\0-jar\0other.jar\0")
    assert not host.is_spark_jvm(b"python3" + spark)
