"""Deterministic synthetic corpus generator (FIXTURES.md).

Everything is seeded (NumPy ``default_rng``, seed tuples rooted at 42)
— no external data.  A fake dispersed pulse at a known DM and two known
RFI artefacts make results human-checkable: the dedispersed series
should peak near DM_TRUE, the broadband burst exercises the zero-DM
clipper (``mask.c:556-677``), the hot channel exercises SK zapping
(``skz.c:451-562``).
"""

from __future__ import annotations

import numpy as np

from .params import Header, MaskSpec, RunConfig
from .plan import KDM
from .spans import encode_document

DM_TRUE = 25.0
PULSE_AMP = 60

# corpus -> (ndocs, nchan, nsamp, tsamp).  tsamp per corpus is chosen so
# the default DM ranges keep max_delay < blocksize (dragnet.cu:194).
CORPORA: dict[str, tuple[int, int, int, float]] = {
    "tiny":  (4,    16,  512,   0.002),
    "small": (64,   64,  4096,  0.0015),
    "bench": (1024, 128, 8192,  0.00049152),
    "scale": (4096, 128, 8192,  0.00049152),  # scaling-efficiency runs
    "skew":  (8,    64,  2048,  0.0015),   # doc 0 overridden to T=65536
}

SKEW_GIANT_T = 65536


def corpus_header(corpus: str, nsamp: int | None = None) -> Header:
    ndocs, nchan, t, tsamp = CORPORA[corpus]
    return Header(nchan=nchan, nsamp=nsamp if nsamp is not None else t,
                  tsamp=tsamp)


def make_document(corpus: str, idx: int) -> dict:
    """One synthetic document (rng seeded by (42, corpus-ordinal, idx))."""
    names = list(CORPORA)
    cidx = names.index(corpus)
    _, nchan, t, tsamp = CORPORA[corpus]
    if corpus == "skew" and idx == 0:
        t = SKEW_GIANT_T
    header = corpus_header(corpus, nsamp=t)
    rng = np.random.default_rng([42, cidx, idx])

    # Baseline: iid Poisson(30) clipped to uint8
    data = np.minimum(rng.poisson(30.0, size=(t, nchan)), 255).astype(np.uint8)

    # Injected dispersed pulse at DM_TRUE
    t_pulse = t // 3
    freqs = header.fch1 + np.arange(nchan) * header.foff
    delays = np.round(KDM * DM_TRUE * (freqs ** -2.0 - header.fch1 ** -2.0)
                      / tsamp).astype(np.int64)
    for c in range(nchan):
        tt = t_pulse + int(delays[c])
        if 0 <= tt < t:
            data[tt, c] = min(int(data[tt, c]) + PULSE_AMP, 255)

    # Injected RFI: broadband burst (zero-DM clipper target)
    data[t // 2:t // 2 + 4, :] = 200
    # Injected RFI: persistent hot channel (SK target)
    c_bad = nchan // 4
    data[:, c_bad] = np.minimum(rng.poisson(120.0, size=t), 255).astype(np.uint8)

    # 0-3 interleaved media spans
    doc_id = f"doc-{corpus}-{idx:06d}"
    n_media = int(rng.integers(0, 4))
    positions = sorted(int(p) for p in rng.integers(0, t, size=n_media))
    media = [{"media_ref": f"img://{doc_id}/{j}", "text": f"caption {j}",
              "offset": p} for j, p in enumerate(positions)]

    return encode_document(doc_id, header, data, media)


def make_corpus(corpus: str) -> list[dict]:
    ndocs = CORPORA[corpus][0]
    return [make_document(corpus, i) for i in range(ndocs)]


def make_mask(corpus: str) -> MaskSpec:
    """rfifind-mask fixture (FIXTURES.md §2); channel indices in the
    rfifind low-first convention, padvals low-first too."""
    names = list(CORPORA)
    cidx = names.index(corpus)
    _, nchan, t, tsamp = CORPORA[corpus]
    rng = np.random.default_rng([42, 999, cidx])
    ptsperint = t // 8
    chans_per_int: list[list[int]] = [[] for _ in range(8)]
    chans_per_int[2] = [1, nchan // 2]
    return MaskSpec(
        mask_id=f"mask-{corpus}", timesigma=10.0, freqsigma=4.0,
        mjd=Header().tstart, dtint=ptsperint * tsamp,
        lofreq=Header().fch1 - (nchan - 1) * abs(Header().foff),
        dfreq=abs(Header().foff), numchan=nchan, numint=8,
        ptsperint=ptsperint, zap_chans=[nchan // 4], zap_ints=[6],
        chans_per_int=chans_per_int,
        padvals=[float(v) for v in rng.uniform(25.0, 35.0, size=nchan)],
    )


def scenario_configs(corpus: str) -> dict[str, RunConfig]:
    """Canonical test scenarios (FIXTURES.md §3).  DM ranges/block sizes
    sized per corpus so blocksize/ndec > max_delay holds."""
    base = dict(prefix="test", dm_start=0.0, dm_end=50.0, dm_step=5.0)
    mskz = 64 if corpus == "tiny" else 1024
    # Multi-block sizes (s4/s5/s6).  The skew corpus's giant document
    # splits into ~6 halo-extended chunks at 4096; each block advances
    # blocksize - max_delay samples, so with max_delay 1124 a 4096
    # block recomputes 27% of its samples where 1536 recomputes 73%.
    bs = {"small": 1536, "skew": 4096}.get(corpus, 0)
    cfgs = {
        "s0": RunConfig(config_id="s0", **base),
        "s1": RunConfig(config_id="s1", zapchan="0,3:5", **base),
        "s2": RunConfig(config_id="s2", use_mask=True, clip_sigma=6.0, **base),
        "s3": RunConfig(config_id="s3", use_skz=True, mskz=mskz, **base),
        "s4": RunConfig(config_id="s4", ndec=2, blocksize=bs, **base),
        "s5": RunConfig(config_id="s5", zapchan="0,3:5", use_mask=True,
                        clip_sigma=6.0, use_skz=True, mskz=mskz, ndec=2,
                        blocksize=bs, **base),
        # multi-block, single-decimation variant
        "s6": RunConfig(config_id="s6", blocksize=bs, **base),
        # adaptive time scrunch (D5): wide DM range so high-DM trials
        # get dt factors > 1; whole-document block by default (chunked
        # runs scrunch after reassembly, pipeline.run_pipeline_chunked)
        "s7": RunConfig(config_id="s7", use_dt=True, prefix="test",
                        dm_start=0.0, dm_end=120.0, dm_step=20.0),
    }
    if corpus in ("bench", "scale"):
        for c in cfgs.values():
            c.dm_end = 30.0
            c.dm_step = 2.5
    return cfgs


def write_corpus_parquet_spark(spark, corpus: str, path: str,
                               partitions: int | None = None) -> int:
    """Materialize a corpus as parquet with generation ON THE EXECUTORS
    (driver-side generation of the ``bench`` corpus would be ~1 GB of
    single-threaded rng).  Deterministic: same (corpus, idx) seeds as
    :func:`make_document` regardless of partitioning."""
    import pandas as pd
    from pyspark.sql import functions as F

    from .pipeline import DOCS_SCHEMA as schema

    ndocs = CORPORA[corpus][0]
    # Bound DOCS PER WRITER TASK, not task count: each writer buffers a
    # full parquet row group of MB-wide rows, so 128 docs/task (the
    # 4096-doc corpus at defaultParallelism=32) OOMs a 16 GB heap.
    # 32 docs/task is the shape the 1024-doc corpus has always used;
    # the extra output files also give downstream scans enough splits
    # to fill every core at high parallelism.
    nparts = partitions or max(spark.sparkContext.defaultParallelism,
                               -(-ndocs // 32))

    def gen(batches):
        for pdf in batches:
            for idx in pdf["idx"]:
                d = make_document(corpus, int(idx))
                yield pd.DataFrame({
                    "doc_id": [d["doc_id"]],
                    "spans": [[(s["kind"], s["text"], s["media_ref"],
                                int(s["offset"])) for s in d["spans"]]],
                })

    idx_df = spark.range(ndocs).select(F.col("id").alias("idx")) \
        .repartition(nparts)
    idx_df.mapInPandas(gen, schema).write.mode("overwrite").parquet(path)
    return ndocs


def generator_fingerprint() -> str:
    """Content hash of the modules that determine corpus bytes.  Every
    corpus/sample cache path embeds it, so editing the generator (or
    the span codec) invalidates stale /tmp fixtures automatically —
    a name-only cache once served an OLD corpus to the pipeline while
    the oracle rebuilt from the NEW generator."""
    import hashlib
    import os

    h = hashlib.md5()
    base = os.path.dirname(__file__)
    for mod in ("generate.py", "spans.py"):
        with open(os.path.join(base, mod), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:8]


def corpus_df(spark, corpus: str, cache_dir: str = "/tmp"):
    """Materialized corpus as a DataFrame: executor-side generation
    cached as parquet (``/tmp/dragnet_corpus_{corpus}_{fp}.parquet``,
    fp = :func:`generator_fingerprint`).  Driver-side
    ``createDataFrame(make_corpus(...))`` ships every payload through
    a LocalRelation — for the giant skew document that is ~360 MB
    through the driver, the opposite of the engine's scale story; a
    parquet scan distributes the read.

    Concurrency-safe: the corpus is written to a pid-scoped temp dir
    and renamed into place (a second session racing the same cache
    either wins the rename or discards its copy), so a reader can
    never observe a half-written cache."""
    import os
    import shutil
    from pathlib import Path

    path = f"{cache_dir}/dragnet_corpus_{corpus}_{generator_fingerprint()}.parquet"
    if not (Path(path) / "_SUCCESS").exists():
        tmp = f"{path}.{os.getpid()}.tmp"
        write_corpus_parquet_spark(spark, corpus, tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # Destination appeared while we generated.  Discard ours
            # ONLY if the winner is complete — an incomplete/corrupt
            # leftover (no _SUCCESS) would otherwise be served forever
            # while every rebuild discards its fresh copy.
            if (Path(path) / "_SUCCESS").exists():
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                shutil.rmtree(path, ignore_errors=True)
                os.rename(tmp, path)
    return spark.read.parquet(path)


def write_corpus_parquet(corpus: str, path: str) -> None:
    """Materialize a corpus as parquet via pyarrow (Spark-independent)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = make_corpus(corpus)
    span_type = pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))
    table = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
        "spans": pa.array([d["spans"] for d in docs], span_type),
    })
    pq.write_table(table, path)
