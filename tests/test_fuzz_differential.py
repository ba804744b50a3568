"""Randomized-config differential fuzz: the Spark pipeline vs an
independently-generated DuckDB oracle on RANDOM (but deterministic)
zap / decimation / DM-grid / blocksize configs.

The fixed flagship oracles pin seven hand-picked scenarios; this file
draws configs from the SQL-expressible subspace (no mask / SK / clip —
those need per-config mask content and are pinned by the fixed
oracles) and checks cell-exact equality end to end.  Config draws are
restricted to the space where both engines are provably exact:

- ``dm_start``/``dm_step`` dyadic (multiples of 0.25), so the
  pipeline's float32 ``linear_dm_list`` equals DuckDB's DOUBLE
  ``start + step*i`` bit-for-bit;
- ``ndec in {1, 2, 4}``, so decimated means are 1/ndec-ths of
  integers (exact in float32 and DOUBLE);
- configs whose (dm x channel-delay) products land within 1e-6 of a
  .5 rounding boundary are skipped (np.rint is half-even, SQL ROUND
  is half-away — the same guard ``_assert_round_safe`` applies to the
  fixed grids), as are grids whose max delay leaves no output window;
- ``blocksize`` is drawn from {whole-doc, 256, 512} filtered by the
  chunk-validity rule (multiple of ndec, blocksize//ndec > max_delay)
  — the block loop with halo must be invisible in the output.

Reference semantics under test: P2 zap (dragnet.cu:249-261), A8
decimation (skz.c:420-438), D2b linear DM list (dragnet.cu:130-143),
D3 dedispersion + D4 overlap trim (dragnet.cu:301-307).
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pytest

from dragnet_spark import pipeline
from dragnet_spark.flagship_oracle import (_samples_path, export_samples,
                                           fuzz_oracle_sql, _decode_series,
                                           masked_oracle_sql,
                                           sk_full_oracle_sql)
from dragnet_spark.generate import CORPORA, corpus_df, scenario_configs
from dragnet_spark.params import Header, MaskSpec, RunConfig, ranges_to_ivect
from dragnet_spark.pipeline import run_pipeline, run_pipeline_chunked
from dragnet_spark.plan import delay_samples, delay_table, linear_dm_list

CORPUS = "tiny"
N_SEEDS = int(os.environ.get("DRAGNET_FUZZ_CONFIG_SEEDS", "12"))
# Sweep entropy shift (same contract as test_fuzz_text_ops): seeds
# [BASE, BASE+N) so successive sweeps draw FRESH configs.
SEED_BASE = int(os.environ.get("DRAGNET_FUZZ_CONFIG_BASE", "0"))
# The skip guards must not hollow the test out; scales with N_SEEDS
# (the guards historically skip ~1/4 of draws).
MIN_EXECUTED = max(1, (N_SEEDS * 7) // 12)


def _draw(seed: int):
    """One deterministic config draw; returns None when the draw lands
    outside the provably-exact space (rounding margin, empty output
    window)."""
    _ndocs, nchan, t, tsamp = CORPORA[CORPUS]
    rng = np.random.default_rng([4242, seed])
    dm_start = float(rng.choice([0.0, 1.25, 2.5, 7.5]))
    dm_step = float(rng.choice([1.25, 2.5, 5.0, 7.5, 10.0]))
    ndm = int(rng.integers(3, 13))
    dm_end = dm_start + dm_step * (ndm - 1)
    ndec = int(rng.choice([1, 2, 4]))

    dml = linear_dm_list(dm_start, dm_end, dm_step)
    # Dyadic draws make (end-start)/step an exact integer: the f32
    # list must have exactly ndm entries or the oracle's range(ndm)
    # checks a different grid.
    if len(dml) != ndm:
        raise AssertionError(
            f"seed {seed}: linear_dm_list gave {len(dml)} != {ndm} trials")
    h = Header()
    dt = delay_table(nchan, tsamp * ndec, h.fch1, h.foff)
    prod = dml.astype(np.float64)[:, None] * dt[None, :]
    margin = float(np.abs(prod - np.floor(prod) - 0.5).min())
    if margin <= 1e-6:
        return None                       # half-even vs half-away hazard
    max_delay = int(delay_samples(dml, dt).max())
    if (t // ndec) - max_delay < 2:
        return None                       # no output window left

    mode = int(rng.integers(0, 3))
    if mode == 0:
        zap = ""
    elif mode == 1:
        picks = sorted(int(p) for p in
                       rng.choice(nchan, size=2, replace=False))
        zap = ",".join(str(p) for p in picks)
    else:
        a = int(rng.integers(0, nchan - 2))
        b = int(rng.integers(a + 1, nchan - 1))
        zap = f"{a}:{b}"

    bs_valid = [b for b in (0, 256, 512)
                if b == 0 or (b % ndec == 0 and b // ndec > max_delay)]
    blocksize = int(bs_valid[int(rng.integers(0, len(bs_valid)))])

    # D5 adaptive scrunch rides on top of a third of the draws, with
    # the pulse-width/tolerance knobs varied so the factor profile
    # isn't one shape (ti=4000us forces f>=2 even at DM 0; the large
    # tiny-band a gives f up to 32 at the high-DM end).  Factors are
    # powers of two, so the dyadic-exactness argument is unchanged.
    use_dt = bool(rng.integers(0, 3) == 0)
    pulse_width = float(rng.choice([4.0, 1000.0, 4000.0]))
    dm_tol = float(rng.choice([1.25, 2.0]))
    cfg = RunConfig(config_id=f"fz{seed}", prefix="test",
                    dm_start=dm_start, dm_end=dm_end, dm_step=dm_step,
                    zapchan=zap, ndec=ndec, blocksize=blocksize,
                    use_dt=use_dt, pulse_width=pulse_width, dm_tol=dm_tol)
    zap_cols = sorted({nchan - 1 - z        # P2 flips grammar indices
                       for z in ranges_to_ivect(zap, 0, nchan - 1)}
                      ) if zap else []
    return cfg, dict(dm_start=dm_start, dm_step=dm_step, ndm=ndm,
                     zap_cols=zap_cols, ndec=ndec, use_dt=use_dt,
                     pulse_width=pulse_width, dm_tol=dm_tol)


def _compare(got, want, label: str, nan_equal: bool = False) -> None:
    assert len(got) == len(want), \
        f"{label}: rows {len(got)} != {len(want)}"
    key = ["doc_id", "dm_index", "t_out"]
    for df in (got, want):
        df["dm_index"] = df["dm_index"].astype(np.int64)
        df["t_out"] = df["t_out"].astype(np.int64)
        df["value"] = df["value"].astype(np.float64)
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    for col in ("doc_id", "dm_index", "t_out", "value"):
        neq = (g[col] != w[col]).to_numpy()
        if nan_equal and col == "value":
            both_nan = (g[col].isna() & w[col].isna()).to_numpy()
            neq &= ~both_nan
        if neq.any():
            i = int(np.argmax(neq))
            raise AssertionError(
                f"{label}: first mismatch col={col} row={i}: "
                f"spark={g[col].iloc[i]!r} duckdb={w[col].iloc[i]!r} "
                f"(key={g.loc[i, key].tolist()})")


def test_random_configs_match_duckdb(spark, monkeypatch):
    export_samples(CORPUS)
    con = duckdb.connect()
    docs = corpus_df(spark, CORPUS)
    executed = 0
    for seed in range(SEED_BASE, SEED_BASE + N_SEEDS):
        drawn = _draw(seed)
        if drawn is None:
            continue
        cfg, oargs = drawn
        got = (_decode_series(run_pipeline(docs, cfg, None))
               .toPandas())
        want = con.sql(fuzz_oracle_sql(CORPUS, **oargs)).df()
        label = (f"seed {seed} cfg(dm={oargs['dm_start']}+"
                 f"{oargs['dm_step']}x{oargs['ndm']}, ndec={oargs['ndec']}, "
                 f"zap={cfg.zapchan!r}, bs={cfg.blocksize}, "
                 f"dt={'%g/%g' % (cfg.pulse_width, cfg.dm_tol) if cfg.use_dt else 'off'})")
        _compare(got, want, label)
        if cfg.blocksize:
            # The skew/chunked path must be invisible in the output at
            # every drawn geometry, not just the fixed s6 scenario —
            # same oracle, halo-extended chunk split + reassembly.
            bpc = 1 + seed % 3
            monkeypatch.setattr(pipeline, "BLOCKS_PER_CHUNK", bpc)
            got_c = (_decode_series(run_pipeline_chunked(
                docs, cfg, None)).toPandas())
            _compare(got_c, want, f"{label} CHUNKED bpc={bpc}")
        executed += 1
    assert executed >= MIN_EXECUTED, \
        f"only {executed} of {N_SEEDS} drawn configs executed — " \
        "the skip guards hollowed the fuzz out; widen the draw space"


# ---------------------------------------------------------------------------
# Mask fuzz: random rfifind masks through the full J1/J4/J5 subsystem
# ---------------------------------------------------------------------------

N_MASK_SEEDS = 8
MIN_MASK_EXECUTED = 5


def _draw_mask(seed: int):
    """Random mask + block/DM geometry inside the provably-exact
    space: integer padvals, dyadic DM grid with a rounding-margin
    guard, blocksize > max_delay (pipeline validity)."""
    _ndocs, nchan, t, tsamp = CORPORA[CORPUS]
    rng = np.random.default_rng([777, seed])
    h = Header()

    dm_start = float(rng.choice([0.0, 2.5]))
    dm_step = float(rng.choice([2.5, 5.0]))
    ndm = int(rng.integers(2, 6))
    ndec = int(rng.choice([1, 2, 4]))
    dm_end = dm_start + dm_step * (ndm - 1)
    dml = linear_dm_list(dm_start, dm_end, dm_step)
    dt = delay_table(nchan, tsamp * ndec, h.fch1, h.foff)
    prod = dml.astype(np.float64)[:, None] * dt[None, :]
    if float(np.abs(prod - np.floor(prod) - 0.5).min()) <= 1e-6:
        return None
    max_delay = int(delay_samples(dml, dt).max())
    bs_valid = [b for b in (48, 64, 96, 128)
                if b % ndec == 0 and b // ndec > max_delay]
    if not bs_valid:
        return None
    blocksize = int(bs_valid[int(rng.integers(0, len(bs_valid)))])

    ptsperint = int(rng.choice([32, 64, 128]))
    numint = t // ptsperint
    zap_chans = sorted(int(c) for c in rng.choice(
        nchan, size=int(rng.integers(0, 4)), replace=False))
    zap_ints = sorted(int(i) for i in rng.choice(
        numint, size=int(rng.integers(0, 3)), replace=False))
    chans_per_int = []
    for _ in range(numint):
        if rng.random() < 0.5:
            chans_per_int.append([])
        elif rng.random() < 0.1:
            chans_per_int.append(list(range(nchan)))
        else:
            chans_per_int.append(sorted(int(c) for c in rng.choice(
                nchan, size=int(rng.integers(1, 5)), replace=False)))
    padvals = [float(int(rng.integers(0, 256))) for _ in range(nchan)]

    mask = MaskSpec(
        mask_id=f"mask-fuzz-{seed}", timesigma=10.0, freqsigma=4.0,
        mjd=h.tstart, dtint=ptsperint * tsamp,
        lofreq=h.fch1 - (nchan - 1) * abs(h.foff), dfreq=abs(h.foff),
        numchan=nchan, numint=numint, ptsperint=ptsperint,
        zap_chans=zap_chans, zap_ints=zap_ints,
        chans_per_int=chans_per_int, padvals=padvals)
    # D5 on top of the mask path too (scrunch of the assembled padded
    # series) — same dyadic argument, factors are powers of two.
    use_dt = bool(rng.integers(0, 3) == 0)
    pulse_width = float(rng.choice([4.0, 1000.0, 4000.0]))
    dm_tol = float(rng.choice([1.25, 2.0]))
    base = scenario_configs(CORPUS)["s0"]
    cfg = RunConfig(**{**base.__dict__, "config_id": f"fzm{seed}",
                       "blocksize": blocksize, "use_mask": True,
                       "ndec": ndec,
                       "dm_start": dm_start, "dm_end": dm_end,
                       "dm_step": dm_step, "use_dt": use_dt,
                       "pulse_width": pulse_width, "dm_tol": dm_tol})
    return cfg, mask, dict(blocksize=blocksize, ndm=ndm,
                           dm_start=dm_start, dm_step=dm_step,
                           ndec=ndec, use_dt=use_dt,
                           pulse_width=pulse_width, dm_tol=dm_tol)


def test_random_masks_match_duckdb(spark, monkeypatch):
    export_samples(CORPUS)
    con = duckdb.connect()
    docs = corpus_df(spark, CORPUS)
    executed = 0
    for seed in range(N_MASK_SEEDS):
        drawn = _draw_mask(seed)
        if drawn is None:
            continue
        cfg, mask, oargs = drawn
        got = (_decode_series(run_pipeline(docs, cfg, mask))
               .toPandas())
        want = con.sql(masked_oracle_sql(mask=mask, **oargs)).df()
        label = (f"mask seed {seed} (ppi={mask.ptsperint}, "
                 f"zc={mask.zap_chans}, zi={mask.zap_ints}, "
                 f"bs={oargs['blocksize']}, ndec={oargs['ndec']}, "
                 f"dm={oargs['dm_start']}+{oargs['dm_step']}"
                 f"x{oargs['ndm']}, dt={'on' if oargs['use_dt'] else 'off'})")
        _compare(got, want, label)
        # Chunked path under a random MASK too (clip off, so the
        # chunked contract holds): chunk halos must re-mask exactly
        # like block halos.
        bpc = 1 + seed % 3
        monkeypatch.setattr(pipeline, "BLOCKS_PER_CHUNK", bpc)
        got_c = (_decode_series(run_pipeline_chunked(
            docs, cfg, mask)).toPandas())
        _compare(got_c, want, f"{label} CHUNKED bpc={bpc}")
        executed += 1
    assert executed >= MIN_MASK_EXECUTED, \
        f"only {executed} of {N_MASK_SEEDS} mask draws executed — " \
        "widen the draw space"


# ---------------------------------------------------------------------------
# SK fuzz: random estimator/threshold/fill geometry through A6 + W2
# ---------------------------------------------------------------------------

N_SK_SEEDS = 8
MIN_SK_EXECUTED = 6


def _draw_sk(seed: int):
    """Random SK config inside the provably-exact space: mskz a
    divisor of nsamp (no partial tail intervals), dyadic DM grid with
    the rounding-margin guard, optional user zap (the zapped channels'
    s1 == 0 rides the NaN->masked branch and gets neighbour-FILLED —
    the zap x SK composition)."""
    from dragnet_spark.plan import sk_threshold3

    _ndocs, nchan, t, tsamp = CORPORA[CORPUS]
    rng = np.random.default_rng([7777, seed])
    h = Header()

    mskz = int(rng.choice([32, 64, 128]))        # all divide t = 512
    sskz = float(rng.choice([1.5, 2.0, 3.0, 4.0]))
    nskz = int(rng.choice([6, 12, 24]))
    _lo, _hi, status = sk_threshold3(mskz, sskz, float(nskz))
    if status != 0:
        return None                              # no Pearson solution

    dm_start = float(rng.choice([0.0, 2.5]))
    dm_step = float(rng.choice([2.5, 5.0]))
    ndm = int(rng.integers(2, 8))
    dm_end = dm_start + dm_step * (ndm - 1)
    dml = linear_dm_list(dm_start, dm_end, dm_step)
    dt = delay_table(nchan, tsamp, h.fch1, h.foff)
    prod = dml.astype(np.float64)[:, None] * dt[None, :]
    if float(np.abs(prod - np.floor(prod) - 0.5).min()) <= 1e-6:
        return None                              # half-even hazard
    if t - int(delay_samples(dml, dt).max()) < 2:
        return None                              # no output window

    mode = int(rng.integers(0, 3))
    if mode == 0:
        zap = ""
    elif mode == 1:
        picks = sorted(int(p) for p in
                       rng.choice(nchan, size=2, replace=False))
        zap = ",".join(str(p) for p in picks)
    else:
        a = int(rng.integers(0, nchan - 2))
        zap = f"{a}:{int(rng.integers(a + 1, nchan - 1))}"

    base = scenario_configs(CORPUS)["s0"]
    cfg = RunConfig(**{**base.__dict__, "config_id": f"fzsk{seed}",
                       "use_skz": True, "mskz": mskz, "sskz": sskz,
                       "nskz": nskz, "zapchan": zap,
                       "dm_start": dm_start, "dm_end": dm_end,
                       "dm_step": dm_step})
    zap_cols = sorted({nchan - 1 - z
                       for z in ranges_to_ivect(zap, 0, nchan - 1)}
                      ) if zap else []
    return cfg, dict(mskz=mskz, sskz=sskz, nskz=nskz, ndm=ndm,
                     dm_start=dm_start, dm_step=dm_step,
                     zap_cols=zap_cols)


def test_random_sk_configs_match_duckdb(spark):
    """Differential fuzz of the full SK subsystem (A6 estimator + F3
    thresholds + W2 neighbour fill + D3): random interval length / SK
    sigma / averaged-spectra count / zap / DM grid, each run through
    the REAL pipeline and compared cell-exact against the DuckDB
    evaluation with that config's own Pearson limits inlined.  The
    fixed dedisperse_sk_full gate query pins ONE geometry (s3); this
    sweeps the masked-pattern space the fill logic depends on.  NaNs
    (a 0/0 fill propagated into the fold) compare as equal, mirroring
    the gate query's NaN->NULL mapping."""
    from dragnet_spark.generate import make_document
    from dragnet_spark.kernels import process_document
    from dragnet_spark.plan import build_plan
    from dragnet_spark.spans import decode_document

    export_samples(CORPUS)
    con = duckdb.connect()
    docs = corpus_df(spark, CORPUS)
    executed = 0
    total_sk_masked = 0
    for seed in range(N_SK_SEEDS):
        drawn = _draw_sk(seed)
        if drawn is None:
            continue
        cfg, oargs = drawn
        got = (_decode_series(run_pipeline(docs, cfg, None)).toPandas())
        want = con.sql(sk_full_oracle_sql(**oargs)).df()
        label = (f"sk seed {seed} (mskz={oargs['mskz']}, "
                 f"sskz={oargs['sskz']}, nskz={oargs['nskz']}, "
                 f"zap={cfg.zapchan!r}, dm={oargs['dm_start']}+"
                 f"{oargs['dm_step']}x{oargs['ndm']})")
        _compare(got, want, label, nan_equal=True)
        executed += 1
        # Diagnostic only (same kernels, not the truth): count masked
        # intervals so the sweep-level guard below can prove the fill
        # path actually ran.
        doc = make_document(CORPUS, 0)
        header, data, _ = decode_document(doc["spans"])
        _, metrics = process_document(data, build_plan(header, cfg, None))
        total_sk_masked += metrics["n_sk_masked_intervals"]
    assert executed >= MIN_SK_EXECUTED, \
        f"only {executed} of {N_SK_SEEDS} SK draws executed — " \
        "widen the draw space"
    assert total_sk_masked > 0, \
        "no draw ever masked an interval — the fill path went unfuzzed"


# ---------------------------------------------------------------------------
# Clipper fuzz: random EWMA-chain geometry through W1
# ---------------------------------------------------------------------------

N_CLIP_SEEDS = 8
MIN_CLIP_EXECUTED = 6


def _draw_clip(seed: int):
    """Random clipper config: block count (EWMA chain length), trigger
    sigma (down to a heavy-clipping 1.0) and DM grid all drawn; the
    oracle's exactness is op-for-op float32 emulation, so no extra
    guards beyond the shared delay-margin/validity ones are needed."""
    _ndocs, nchan, t, tsamp = CORPORA[CORPUS]
    rng = np.random.default_rng([77777, seed])
    h = Header()

    dm_start = float(rng.choice([0.0, 2.5]))
    dm_step = float(rng.choice([2.5, 5.0]))
    ndm = int(rng.integers(2, 7))
    dm_end = dm_start + dm_step * (ndm - 1)
    dml = linear_dm_list(dm_start, dm_end, dm_step)
    dt = delay_table(nchan, tsamp, h.fch1, h.foff)
    prod = dml.astype(np.float64)[:, None] * dt[None, :]
    if float(np.abs(prod - np.floor(prod) - 0.5).min()) <= 1e-6:
        return None                              # half-even hazard
    max_delay = int(delay_samples(dml, dt).max())
    bs_valid = [b for b in (96, 128, 192, 256) if b > max_delay]
    if not bs_valid:
        return None
    blocksize = int(bs_valid[int(rng.integers(0, len(bs_valid)))])
    clip_sigma = float(rng.choice([1.0, 2.0, 4.0, 6.0]))

    base = scenario_configs(CORPUS)["s0"]
    cfg = RunConfig(**{**base.__dict__, "config_id": f"fzc{seed}",
                       "use_mask": True, "clip_sigma": clip_sigma,
                       "blocksize": blocksize,
                       "dm_start": dm_start, "dm_end": dm_end,
                       "dm_step": dm_step})
    return cfg, dict(blocksize=blocksize, clip_sigma=clip_sigma,
                     ndm=ndm, dm_start=dm_start, dm_step=dm_step)


def test_random_clip_configs_match_duckdb(spark):
    """Differential fuzz of the time-domain clipper (W1): random block
    geometry (the EWMA chain length varies with blocksize), trigger
    sigma and DM grid, each run through the REAL pipeline (trivial
    clip-only mask, so apply_mask runs just the clipper) and compared
    cell-exact against the block-unrolled DuckDB recurrence.  The
    fixed dedisperse_clipped gate query pins ONE 6-block geometry;
    this sweeps the chain length and the trigger threshold (sigma=1
    clips heavily, so replacement values flow through most blocks)."""
    from dragnet_spark.flagship_oracle import (_clip_mask,
                                               clip_full_oracle_sql)
    from dragnet_spark.generate import make_document
    from dragnet_spark.kernels import process_document
    from dragnet_spark.plan import build_plan
    from dragnet_spark.spans import decode_document

    export_samples(CORPUS)
    con = duckdb.connect()
    docs = corpus_df(spark, CORPUS)
    mask = _clip_mask()
    executed = 0
    total_clipped = 0
    for seed in range(N_CLIP_SEEDS):
        drawn = _draw_clip(seed)
        if drawn is None:
            continue
        cfg, oargs = drawn
        got = (_decode_series(run_pipeline(docs, cfg, mask)).toPandas())
        want = con.sql(clip_full_oracle_sql(**oargs)).df()
        label = (f"clip seed {seed} (bs={oargs['blocksize']}, "
                 f"sigma={oargs['clip_sigma']}, dm={oargs['dm_start']}+"
                 f"{oargs['dm_step']}x{oargs['ndm']})")
        _compare(got, want, label)
        executed += 1
        # Diagnostic (same kernels, not the truth): prove the trigger
        # actually fired somewhere in the sweep.
        doc = make_document(CORPUS, 0)
        header, data, _ = decode_document(doc["spans"])
        _, metrics = process_document(data, build_plan(header, cfg, mask))
        total_clipped += metrics["n_clipped_samples"]
    assert executed >= MIN_CLIP_EXECUTED, \
        f"only {executed} of {N_CLIP_SEEDS} clip draws executed — " \
        "widen the draw space"
    assert total_clipped > 0, \
        "no draw ever clipped a sample — the replacement path went unfuzzed"


# ---------------------------------------------------------------------------
# Chunked-path composition fuzz: chunked == plain at random FULL stage mixes
# ---------------------------------------------------------------------------

N_COMPO_SEEDS = int(os.environ.get("DRAGNET_FUZZ_COMPO_SEEDS", "10"))
COMPO_BASE = int(os.environ.get("DRAGNET_FUZZ_COMPO_BASE", "0"))
MIN_COMPO_EXECUTED = max(1, (N_COMPO_SEEDS * 7) // 12)


def _draw_composition(seed: int):
    """Random FULL stage mix for the chunked-vs-plain parity fuzz:
    zap x rfifind mask (random ptsperint / per-interval channel lists /
    float padvals) x SK x ndec x D5 adaptive scrunch x DM-list kind
    (incl. the Levin optimal list, dm_step=0) x blocksize x
    BLOCKS_PER_CHUNK, all drawn together.

    Truth is the plain ``run_pipeline`` path — itself
    differential-tested against DuckDB above and against the NumPy
    oracle in test_extractor — so the draw space is UNRESTRICTED (no
    dyadic-exactness guards needed; both paths run the same float32
    kernels and must agree bit-for-bit).  The one
    contractual exclusion is a RUNNING clipper (EWMA is sequential per
    document, so the chunked path refuses ``clip_sigma > 0`` WITH a
    mask); a clip-enabled cfg WITHOUT a mask never clips and is drawn
    on purpose to keep that acceptance edge exercised."""
    from dragnet_spark.generate import make_document
    from dragnet_spark.plan import build_plan
    from dragnet_spark.spans import decode_document

    _ndocs, nchan, t, tsamp = CORPORA[CORPUS]
    rng = np.random.default_rng([424242, seed])
    header, _, _ = decode_document(make_document(CORPUS, 0)["spans"])

    ndec = int(rng.choice([1, 2, 4]))
    use_mask = bool(rng.integers(0, 2))
    mask = None
    if use_mask:
        ppi = int(rng.choice([32, 64, 128]))
        numint = -(-t // ppi)
        mask = MaskSpec(
            mask_id=f"fzcompo{seed}", timesigma=10.0, freqsigma=4.0,
            mjd=Header().tstart, dtint=ppi * tsamp,
            lofreq=Header().fch1 - (nchan - 1) * abs(Header().foff),
            dfreq=abs(Header().foff), numchan=nchan, numint=numint,
            ptsperint=ppi,
            zap_chans=sorted(int(c) for c in rng.choice(
                nchan, size=int(rng.integers(0, 3)), replace=False)),
            zap_ints=sorted(int(i) for i in rng.choice(
                numint, size=int(rng.integers(0, 2)), replace=False)),
            chans_per_int=[
                sorted(int(c) for c in rng.choice(
                    nchan, size=int(rng.integers(0, 4)), replace=False))
                for _ in range(numint)],
            padvals=[float(v) for v in rng.uniform(20.0, 40.0, size=nchan)],
        )
    base = dict(
        config_id=f"fzcompo{seed}", prefix="test",
        zapchan=str(rng.choice(["", "0", "2:4", "0,3:5,9"])),
        use_mask=use_mask,
        # Chunked refuses a RUNNING clipper (clip>0 AND a mask); a
        # clip-enabled maskless cfg never clips and must be accepted.
        clip_sigma=(0.0 if use_mask else float(rng.choice([0.0, 4.0]))),
        use_skz=bool(rng.integers(0, 2)), mskz=int(rng.choice([32, 64])),
        ndec=ndec, use_dt=bool(rng.integers(0, 3) == 0),
        dm_start=float(rng.choice([0.0, 2.5])),
        dm_end=float(rng.choice([30.0, 50.0])),
        dm_step=float(rng.choice([0.0, 2.5, 5.0])),   # 0 => Levin list
    )
    cfg = None
    for bs in rng.permutation([96, 128, 192, 256]):   # nonzero: real
        try:                                          # multi-chunk split
            cand = RunConfig(blocksize=int(bs), **base)
            build_plan(header, cand, mask)
            cfg = cand
            break
        except ValueError:            # blocksize//ndec <= max_delay
            continue
    if cfg is None:
        return None
    return cfg, mask, 1 + seed % 3


def test_random_compositions_chunked_parity(spark, monkeypatch):
    """Differential fuzz of the CHUNKED pipeline plumbing (the
    production giant-document path: JVM strip slicing, halo-extended
    chunks, per-chunk block loops, JVM reassembly, metrics
    aggregation) at random FULL stage mixes: every drawn config's
    chunked output span sequence must equal the plain path's
    bit-for-bit.  The fixed chunked tests pin single stages (mask,
    SK-short-final-chunk, use_dt, decimation) at one geometry each and
    the mask/config fuzzes above run chunked replicas inside the
    SQL-expressible subspace; this sweep crosses ALL the stages —
    including SK + mask + Levin DM lists + scrunch TOGETHER — where no
    SQL oracle exists, with the plain pipeline as truth."""
    docs = corpus_df(spark, CORPUS)
    executed = 0
    stages_seen = set()
    for seed in range(COMPO_BASE, COMPO_BASE + N_COMPO_SEEDS):
        drawn = _draw_composition(seed)
        if drawn is None:
            continue
        cfg, mask, bpc = drawn
        label = (f"compo seed {seed} (cfg={cfg.to_json()}, "
                 f"mask={'yes' if mask else 'no'}, bpc={bpc})")

        def seqs(rows_df):
            out: dict = {}
            for r in (rows_df.where("kind <> 'metrics'")
                      .orderBy("doc_id", "seq").collect()):
                out.setdefault(r.doc_id, []).append(
                    (r.kind, r.text, r.media_ref))
            return out

        want = seqs(run_pipeline(docs, cfg, mask))
        monkeypatch.setattr(pipeline, "BLOCKS_PER_CHUNK", bpc)
        got = seqs(run_pipeline_chunked(docs, cfg, mask))
        assert got.keys() == want.keys(), label
        for doc_id in want:
            assert got[doc_id] == want[doc_id], \
                f"{label}: span sequence diverged for {doc_id}"
        executed += 1
        stages_seen |= {s for s, on in [
            ("mask", mask is not None), ("skz", cfg.use_skz),
            ("dt", cfg.use_dt), ("dec", cfg.ndec > 1),
            ("zap", bool(cfg.zapchan)),
            ("levin", cfg.dm_step == 0.0)] if on}
    assert executed >= MIN_COMPO_EXECUTED, \
        f"only {executed} of {N_COMPO_SEEDS} composition draws executed — " \
        "widen the draw space"
    # Stage-coverage guard pinned to the DEFAULT sweep only (the
    # default seeds are known to hit every stage); a fresh-entropy
    # sweep (different COMPO_BASE) may legitimately miss a 1-in-3
    # stage and must not fail spuriously.
    if COMPO_BASE == 0 and N_COMPO_SEEDS == 10:
        need = {"mask", "skz", "dt", "dec", "zap", "levin"}
        assert need <= stages_seen, \
            f"default sweep never drew stages {sorted(need - stages_seen)}"


# ---------------------------------------------------------------------------
# Resume-state fuzz: random pre-committed chunk ledgers must resume exactly
# ---------------------------------------------------------------------------

N_RESUME_SEEDS = int(os.environ.get("DRAGNET_FUZZ_RESUME_SEEDS", "5"))
RESUME_BASE = int(os.environ.get("DRAGNET_FUZZ_RESUME_BASE", "0"))


def test_random_resume_states_chunked(spark, tmp_path, monkeypatch):
    """Resume-contract fuzz (north rule: 'resumable from checkpoint'):
    for random full-stage compositions, a RANDOM subset of the chunk
    ledger is pre-committed — simulating a driver kill after an
    arbitrary set of task commits — and the resumed job must (a) skip
    exactly the committed chunks, (b) recompute exactly the missing
    ones with no duplicate ledger rows, and (c) write final span
    sequences bit-identical to an uninterrupted plain-path run.  The
    first seed of every sweep pins the extreme state the fixed tests
    never reach: ALL chunks committed but the spans write lost (a kill
    DURING reassembly) — resume must recompute zero chunks and still
    produce the full spans.  The fixed-state coverage lives in
    test_extractor (chunk_id < 2 at one geometry); this sweep
    randomizes the composition, the chunk geometry AND the committed
    set together.  Knobs: DRAGNET_FUZZ_RESUME_SEEDS / _BASE."""
    from dragnet_spark.pipeline import (build_chunk_rows, prepare_documents,
                                        process_chunk_rows, run_job)
    docs = corpus_df(spark, CORPUS)
    ndocs = CORPORA[CORPUS][0]
    executed = 0
    for seed in range(RESUME_BASE, RESUME_BASE + N_RESUME_SEEDS):
        # 10_000+ keeps these draws disjoint from the compo sweep's.
        drawn = _draw_composition(10_000 + seed)
        if drawn is None:
            continue
        cfg, mask, bpc = drawn
        label = f"resume seed {seed} (cfg={cfg.to_json()}, bpc={bpc})"
        cfg_json = cfg.to_json()
        mask_json = mask.to_json() if mask else None
        out = str(tmp_path / f"out{seed}")
        chunks_path = f"{out}/chunks/rz/{cfg.config_id}"

        monkeypatch.setattr(pipeline, "BLOCKS_PER_CHUNK", bpc)
        chunk_rows = build_chunk_rows(prepare_documents(docs), cfg_json,
                                      mask_json)
        keys = sorted((r.doc_id, r.chunk_id) for r in
                      chunk_rows.select("doc_id", "chunk_id").collect())
        n_total = len(keys)
        rng = np.random.default_rng([20260819, seed])
        if seed == RESUME_BASE:     # kill DURING reassembly: all committed
            n_pre = n_total
        else:                       # kill mid-run: any committed subset
            n_pre = int(rng.integers(0, n_total + 1))
        pre_keys = [keys[i] for i in
                    rng.choice(n_total, size=n_pre, replace=False)]
        if pre_keys:
            pre_df = spark.createDataFrame(
                pre_keys, "doc_id string, chunk_id int")
            pre = (chunk_rows
                   .join(pre_df, ["doc_id", "chunk_id"], "left_semi"))
            process_chunk_rows(pre, cfg_json, mask_json, run_id="rz") \
                .write.mode("append").parquet(chunks_path)

        r = run_job(spark, docs, cfg, mask, out, run_id="rz",
                    chunked=True)
        if pre_keys:
            assert r["n_chunks_skipped"] == n_pre, label
            assert r["n_chunks_processed"] == n_total - n_pre, label
        else:
            # no ledger existed, so the resume read fails and the whole
            # set recomputes uncounted (n_chunks_processed is None)
            assert r["n_chunks_skipped"] == 0, label
            assert r["n_chunks_processed"] is None, label
        dup = (spark.read.parquet(chunks_path).where("kind = 'metrics'")
               .groupBy("doc_id", "chunk_id").count()
               .where("count > 1").count())
        assert dup == 0, f"{label}: duplicate ledger rows"

        def seqs(rows_df):
            by_doc: dict = {}
            for row in (rows_df.where("kind <> 'metrics'")
                        .orderBy("doc_id", "seq").collect()):
                by_doc.setdefault(row.doc_id, []).append(
                    (row.kind, row.text, row.media_ref))
            return by_doc

        want = seqs(run_pipeline(docs, cfg, mask))
        got = seqs(spark.read.parquet(f"{out}/spans"))
        assert got.keys() == want.keys(), label
        for doc_id in want:
            assert got[doc_id] == want[doc_id], \
                f"{label}: resumed spans diverged for {doc_id}"
        # idempotent: a further resume skips every doc
        r2 = run_job(spark, docs, cfg, mask, out, run_id="rz",
                     chunked=True)
        assert r2["n_processed"] == 0 and r2["n_skipped"] == ndocs, label
        executed += 1
    assert executed >= max(1, (N_RESUME_SEEDS * 7) // 12), \
        f"only {executed} of {N_RESUME_SEEDS} resume draws executed — " \
        "widen the draw space"
