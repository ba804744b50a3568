"""One pass of each kind the benchmark times, from the documents table
to complete output, each calling only the program's public functions.
Every pass returns its wall seconds first."""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import functions as F

from dragnet_spark.pipeline import prepare_documents, run_job, run_pipeline


def not_metrics():
    return F.col("kind") != "metrics"


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def forced(spark, path, cfg, mask) -> tuple[float, tuple[int, int]]:
    """``run_pipeline`` forced the way ``bench.py:run_flagship`` forces
    it: row count and total text length of the non-metrics rows."""
    def go():
        rows = run_pipeline(spark.read.parquet(path), cfg, mask)
        r = rows.where(not_metrics()).agg(
            F.count(F.lit(1)), F.sum(F.length("text"))).collect()[0]
        return int(r[0]), int(r[1] or 0)
    return _timed(go)


def forced_with_kernel(spark, path, cfg, mask):
    """As :func:`forced`, also collecting every document's kernel
    ``wall_ms`` from the metrics rows the pipeline already emits."""
    def go():
        rows = run_pipeline(spark.read.parquet(path), cfg, mask)
        r = rows.agg(
            F.count(F.when(not_metrics(), 1)),
            F.sum(F.when(not_metrics(), F.length("text"))),
            F.collect_list(F.when(~not_metrics(), F.get_json_object(
                "text", "$.wall_ms").cast("double")))).collect()[0]
        return (int(r[0]), int(r[1] or 0)), list(r[2])
    return _timed(go)


def per_doc(spark, path, cfg, mask) -> dict[str, tuple[int, int]]:
    """Untimed per-document (rows, text length), used to name the
    documents behind a failed aggregate."""
    rows = run_pipeline(spark.read.parquet(path), cfg, mask)
    got = (rows.where(not_metrics()).groupBy("doc_id")
           .agg(F.count(F.lit(1)), F.sum(F.length("text"))).collect())
    return {r[0]: (int(r[1]), int(r[2])) for r in got}


def job(spark, path, cfg, mask, out_dir) -> tuple[float, dict]:
    """``run_job(resume=True)``: over a fresh ``out_dir`` this is the
    full write (span parquet plus checkpoint); over a completed one it
    is the resume path, which must skip every document."""
    return _timed(lambda: run_job(spark, spark.read.parquet(path), cfg, mask,
                                  out_dir, resume=True))


def written_totals(spark, out_dir) -> tuple[int, int]:
    r = (spark.read.parquet(f"{out_dir}/spans").where(not_metrics())
         .agg(F.count(F.lit(1)), F.sum(F.length("text"))).collect()[0])
    return int(r[0]), int(r[1] or 0)


def written_spans(spark, out_dir, doc_ids) -> dict[str, list[dict]]:
    """Written span sequences of a few documents, in ``seq`` order, for
    the oracle hash check."""
    rows = (spark.read.parquet(f"{out_dir}/spans")
            .where(F.col("doc_id").isin(list(doc_ids)) & not_metrics())
            .orderBy("doc_id", "seq").collect())
    out: dict[str, list[dict]] = {}
    for r in rows:
        out.setdefault(r["doc_id"], []).append(
            {"kind": r["kind"], "text": r["text"],
             "media_ref": r["media_ref"], "offset": r["offset"]})
    return out


def plan_cache_keys(spark, slots: int) -> set[str]:
    """``header_key`` of every plan held in the Python workers' plan
    caches.  Read-only: one task per slot, each held long enough that
    all slots run at once, so each takes a different idle worker from
    the pool."""
    def probe(batches):
        import hashlib
        import time as time_
        from dragnet_spark import pipeline
        for _ in batches:
            pass
        time_.sleep(1.0)
        # Keyed (header_json, cfg_json, mask_json); a program without
        # this cache reports none held.
        cache = getattr(pipeline, "_PLAN_CACHE", {})
        keys = [hashlib.md5(k[0].encode()).hexdigest()[:12]
                for k in list(cache)]
        keys = keys or [""]             # one row even from an empty cache
        yield pd.DataFrame({"key": keys})

    rows = (spark.range(slots, numPartitions=slots)
            .mapInPandas(probe, "key string").collect())
    return {r["key"] for r in rows if r["key"]}


def dir_stats(path: str) -> tuple[float, int]:
    """(MB on disk, parquet files) under ``path``."""
    size, files = 0, 0
    for base, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(base, n))
            files += n.endswith(".parquet")
    return size / 1e6, files


# --------------------------------------------------------------------------
# Layer ladder: the full pass cut after one more layer per rung
# --------------------------------------------------------------------------

def rung_scan(spark, path):
    """Parquet scan of every span field the pipeline reads; octet
    lengths are O(1) per string, so nothing but the scan costs."""
    def go():
        df = spark.read.parquet(path)
        return df.agg(F.sum(F.aggregate(
            "spans", F.lit(0).cast("long"),
            lambda acc, s: acc + F.octet_length(s.kind) + F.octet_length(s.text)
            + F.octet_length(s.media_ref) + F.coalesce(s.offset, F.lit(0)))
        )).collect()[0][0]
    return _timed(go)


def rung_prepare(spark, path):
    """Scan + ``prepare_documents``, every projected column consumed.
    Returns the computed ``sample_bins`` bytes (what crosses into
    Python)."""
    def go():
        p = prepare_documents(spark.read.parquet(path))
        r = p.agg(
            F.sum(F.aggregate("sample_bins", F.lit(0).cast("long"),
                              lambda a, b: a + F.octet_length(b))),
            F.sum(F.size("sample_offsets")),
            F.sum(F.octet_length("header")),
            F.sum(F.octet_length("media"))).collect()[0]
        return int(r[0])
    return _timed(go)


def rung_arrow(spark, path):
    """Scan + ``prepare_documents`` + a no-op ``mapInPandas``: the Arrow
    hand-off into Python and back, with no kernel."""
    def noop(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    def go():
        p = prepare_documents(spark.read.parquet(path))
        return p.mapInPandas(noop, "n long").agg(F.sum("n")).collect()[0][0]
    return _timed(go)


def rung_count_only(spark, path, cfg, mask):
    """The full pass counting rows only: the ``text`` projection, and
    with it the JVM-side base64 of every series, is pruned."""
    return _timed(lambda: run_pipeline(spark.read.parquet(path), cfg, mask)
                  .where(not_metrics()).count())
