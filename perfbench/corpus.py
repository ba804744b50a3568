"""Seeded benchmark corpora.

Documents are built through ``spans.encode_document`` with the signal
model of ``generate.make_document`` (Poisson baseline, a dispersed pulse
at DM 25, a broadband burst, a hot channel, 0-3 media spans), but every
random draw is rooted at the benchmark's ``--seed``.  A corpus is
written once as parquet under ``perfbench/.cache`` keyed by (workload,
seed, generator fingerprint) and the pipeline only ever reads those
tables.  The expected output shape of every document (row count and
total ``text`` length) is computed from the plan at generation time and
cached beside the tables, so every pass can be checked exactly.

A workload with per-document headers is written as several variants:
the same sample data under fresh ``tstart``/``source_name`` draws, one
parquet table each.  Successive passes read successive variants, so a
pass meets headers the Python workers' plan caches (128 entries each)
no longer hold, as a long job over distinct observations does.
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
import os
import shutil
from dataclasses import dataclass

import numpy as np

from dragnet_spark import params, spans
from dragnet_spark.generate import make_mask, scenario_configs
from dragnet_spark.params import Header, MaskSpec, RunConfig
from dragnet_spark.plan import KDM, build_plan

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache")
CACHE_KEEP = 2          # corpora kept on disk; older ones are evicted

DM_TRUE = 25.0
PULSE_AMP = 60


@dataclass(frozen=True)
class Shape:
    """One workload's input and call: document shape, config, mask."""
    ndocs: int
    nchan: int
    nsamp: int
    tsamp: float
    scenario: str           # generate.scenario_configs key (corpus, config)
    config_id: str
    use_mask: bool          # pass generate.make_mask(scenario)
    shared_header: bool     # one header for all docs, else per-doc
    variants: int = 1       # header variants, read in rotation


# Sizes are chosen so one timed pass takes ~1-3 s on a 4-core host: long
# enough that per-job scheduling is a small share, short enough that a
# 10-second run holds several passes to take the median of.
SHAPES: dict[str, Shape] = {
    "flagship_s3": Shape(96, 128, 8192, 0.00049152, "bench", "s3",
                         use_mask=False, shared_header=True),
    # 8 variants x 128 headers: over one rotation each of the 4 workers
    # meets ~256 distinct headers, twice what its plan cache holds, so
    # a header is evicted before its variant comes round again.
    "cleaning_s5": Shape(128, 64, 4096, 0.0015, "small", "s5",
                         use_mask=True, shared_header=False, variants=8),
}


def run_config(workload: str) -> tuple[RunConfig, MaskSpec | None]:
    sh = SHAPES[workload]
    cfg = scenario_configs(sh.scenario)[sh.config_id]
    return cfg, (make_mask(sh.scenario) if sh.use_mask else None)


def fingerprint() -> str:
    """Hash of everything that determines corpus bytes: this module, the
    span codec and the header encoding, plus the dispersion constant."""
    h = hashlib.md5(repr(KDM).encode())
    for path in (__file__, spans.__file__, params.__file__):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:10]


@functools.lru_cache(maxsize=None)
def _poisson_table(lam: float) -> np.ndarray:
    """Inverse CDF of Poisson(lam) clipped to 255, over 2^16 uniform
    levels (read-only)."""
    k = np.arange(256)
    logpmf = -lam + k * math.log(lam) - np.array([math.lgamma(i + 1) for i in k])
    cdf = np.cumsum(np.exp(logpmf))
    u = (np.arange(65536) + 0.5) / 65536
    table = np.minimum(np.searchsorted(cdf, u), 255).astype(np.uint8)
    table.setflags(write=False)
    return table


def poisson_u8(rng: np.random.Generator, lam: float, shape) -> np.ndarray:
    """Poisson(lam) samples clipped to uint8, drawn by table lookup: a
    tenth of the cost of ``rng.poisson`` on the megasample documents."""
    return _poisson_table(lam)[rng.integers(0, 65536, size=shape,
                                            dtype=np.uint16)]


def make_document(workload: str, seed: int, idx: int,
                  variant: int = 0) -> dict:
    """Document ``idx`` of a workload's corpus variant; depends only on
    (workload, seed, idx, variant), so generation order and process
    count do not change the bytes.  Variants share the sample data."""
    sh = SHAPES[workload]
    widx = list(SHAPES).index(workload)
    rng = np.random.default_rng([seed, widx, idx])
    t, nchan = sh.nsamp, sh.nchan
    header = Header(nchan=nchan, nsamp=t, tsamp=sh.tsamp)
    if not sh.shared_header:
        # Real observations differ in start time and source.
        hrng = np.random.default_rng([seed, widx, idx, variant])
        header.tstart = round(56000.0 + float(hrng.uniform(0.0, 3000.0)), 9)
        header.source_name = f"J{int(hrng.integers(0, 2400)):04d}+{idx:04d}"

    data = poisson_u8(rng, 30.0, (t, nchan))
    freqs = header.fch1 + np.arange(nchan) * header.foff
    delays = np.round(KDM * DM_TRUE * (freqs ** -2.0 - header.fch1 ** -2.0)
                      / header.tsamp).astype(np.int64)
    t_pulse = int(rng.integers(t // 8, t // 2))
    rows = t_pulse + delays
    ok = rows < t
    cols = np.arange(nchan)[ok]
    data[rows[ok], cols] = np.minimum(
        data[rows[ok], cols].astype(np.int32) + PULSE_AMP, 255)
    t_burst = int(rng.integers(0, t - 4))
    data[t_burst:t_burst + 4, :] = 200
    c_bad = int(rng.integers(0, nchan))
    data[:, c_bad] = poisson_u8(rng, 120.0, (t,))

    doc_id = f"{workload}-{seed}-v{variant}-{idx:06d}"
    n_media = int(rng.integers(0, 4))
    positions = sorted(int(p) for p in rng.integers(0, t, size=n_media))
    media = [{"media_ref": f"img://{doc_id}/{j}", "text": f"caption {j}",
              "offset": p} for j, p in enumerate(positions)]
    return spans.encode_document(doc_id, header, data, media)


def expected_output(doc: dict, cfg: RunConfig,
                    mask: MaskSpec | None, plan=None) -> tuple[int, int]:
    """(span rows, total text length) the pipeline must emit for one
    document, excluding its metrics row: ndm timeseries + ndm inf +
    media, computed from the plan without running the kernel."""
    header = Header.from_json(doc["spans"][0]["text"])
    if plan is None:
        plan = build_plan(header, cfg, mask)
    ndm = len(plan.dmlist)
    series_b64 = 4 * -(-(plan.nsamp_computed * 4) // 3)
    inf_len = sum(len(spans.writeinf_text(
        header, cfg.prefix, float(dm), nsamp_dec=plan.nsamp_dec,
        tsamp_dec=plan.tsamp_dec, shift_back=plan.max_delay))
        for dm in plan.dmlist)
    media = [s for s in doc["spans"] if s["kind"] == "media"]
    return (2 * ndm + len(media),
            ndm * series_b64 + inf_len + sum(len(m["text"]) for m in media))


def header_key(doc: dict) -> str:
    """Short digest of a document's header span, the plan cache's key."""
    return hashlib.md5(doc["spans"][0]["text"].encode()).hexdigest()[:12]


def plan_key(header_json: str) -> str:
    """A header without ``tstart``/``source_name``, which ``build_plan``
    does not read: documents that differ only there share one plan."""
    h = Header.from_json(header_json)
    h.tstart, h.source_name = 0.0, ""
    return h.to_json()


def generate(workload: str, seed: int, variant: int = 0,
             plans: dict | None = None) -> list[dict]:
    """All documents of a corpus variant with their expected output
    shapes, in index order: ``[{"doc", "rows", "text_len"}]``.  ``plans``
    (``plan_key`` -> plan) may be shared across variants."""
    cfg, mask = run_config(workload)
    plans = {} if plans is None else plans
    out = []
    for i in range(SHAPES[workload].ndocs):
        d = make_document(workload, seed, i, variant)
        key = plan_key(d["spans"][0]["text"])
        if key not in plans:
            plans[key] = build_plan(Header.from_json(key), cfg, mask)
        n, ln = expected_output(d, cfg, mask, plans[key])
        out.append({"doc": d, "rows": n, "text_len": ln})
    return out


def write_parquet(docs: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    span_type = pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))
    table = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
        "spans": pa.array([d["spans"] for d in docs], span_type),
    })
    # Several files so the scan splits across every core.
    os.makedirs(path)
    nfiles = 8
    step = -(-len(docs) // nfiles)
    for k, lo in enumerate(range(0, len(docs), step)):
        pq.write_table(table.slice(lo, step),
                       os.path.join(path, f"part-{k:03d}.parquet"),
                       row_group_size=8)


def corpus_digest(paths: list[str]) -> str:
    """sha256 over the parquet files of every variant, in order."""
    h = hashlib.sha256()
    for path in paths:
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                with open(os.path.join(path, name), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


@dataclass
class Corpus:
    paths: list[str]                # parquet directory per variant
    expected: list[dict[str, list[int]]]  # per variant: doc_id -> [rows, text_len]
    headers: list[list[str]]        # per variant: header_key of every doc
    samples: list[dict]             # seeded sample docs of variant 0
    digest: str


def ensure(workload: str, seed: int, *, nsamples: int = 4,
           cache_dir: str = CACHE_DIR) -> Corpus:
    """The cached corpus for (workload, seed), generated if absent.
    Written to a pid-scoped temp name and renamed into place, so an
    interrupted write never serves a partial corpus."""
    key = f"{workload}-s{seed}-{fingerprint()}"
    path = os.path.join(cache_dir, key)
    meta_path = os.path.join(path, "expected.json")
    variants = [f"v{k}" for k in range(SHAPES[workload].variants)]
    os.makedirs(cache_dir, exist_ok=True)
    _sweep(cache_dir)
    if not os.path.exists(meta_path):
        tmp = f"{path}.{os.getpid()}.tmp"
        try:
            meta, plans = {"expected": [], "headers": []}, {}
            for k, v in enumerate(variants):
                docs = generate(workload, seed, k, plans)
                write_parquet([d["doc"] for d in docs], os.path.join(tmp, v))
                meta["expected"].append(
                    {d["doc"]["doc_id"]: [d["rows"], d["text_len"]]
                     for d in docs})
                meta["headers"].append([header_key(d["doc"]) for d in docs])
            meta["digest"] = corpus_digest(
                [os.path.join(tmp, v) for v in variants])
            with open(os.path.join(tmp, "expected.json"), "w") as fh:
                json.dump(meta, fh)
            shutil.rmtree(path, ignore_errors=True)
            os.rename(tmp, path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    os.utime(path)
    _evict(cache_dir, keep=CACHE_KEEP)
    with open(meta_path) as fh:
        meta = json.load(fh)
    n = SHAPES[workload].ndocs
    pick = np.random.default_rng([seed, 7]).choice(
        n, size=min(nsamples, n), replace=False)
    samples = [make_document(workload, seed, int(i)) for i in sorted(pick)]
    return Corpus([os.path.join(path, v) for v in variants],
                  meta["expected"], meta["headers"], samples, meta["digest"])


def _sweep(cache_dir: str) -> None:
    """Remove temp corpora left by a killed run (their pid is gone)."""
    for name in os.listdir(cache_dir):
        if name.endswith(".tmp"):
            pid = name.rsplit(".", 2)[-2]
            if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
                shutil.rmtree(os.path.join(cache_dir, name), ignore_errors=True)


def _evict(cache_dir: str, keep: int) -> None:
    entries = [os.path.join(cache_dir, n) for n in os.listdir(cache_dir)
               if not n.endswith(".tmp")]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)
