"""Vectorized NumPy kernels — the engine's numeric core.

One implementation, two harnesses: the in-process oracle
(:mod:`dragnet_spark.oracle`) and the Spark ``mapInPandas`` pipeline
(:mod:`dragnet_spark.pipeline`) both call these functions, so
span-sequence equality between them holds by construction.  Each kernel
transcribes a reference C routine (cited file:line); deliberate,
documented deviations:

* Floating-point reduction order: where the C code accumulates
  sequentially (``avg_var`` AS-52 updating form, ``mask.c:81-112``;
  per-sample channel sums), we PIN vectorized float64 two-pass
  statistics and NumPy reduction order instead.  The reference binary
  cannot run here (CUDA/GSL), so the pinned arithmetic *is* the ground
  truth, applied identically in oracle and pipeline.
* ``ndec>1`` raw/decimated unit mixing in the reference block loop is
  undefined behaviour (see :func:`dragnet_spark.plan.build_plan`); we
  use raw-sample units throughout.
* SK filtering on 8-bit input reinterprets the byte buffer as floats in
  the reference (``dragnet.cu:279`` passes ``(float*) input``) — UB for
  SIGPROC data; we run SK on the widened float32 buffer (the intended
  semantics for 32-bit LOFAR input, ``lofarhdf5.cxx:220``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .params import MaskSpec

# --------------------------------------------------------------------------
# Statistics primitives (A2, A3, A4)
# --------------------------------------------------------------------------


def avg_var(x: np.ndarray) -> tuple[float, float]:
    """Mean and *sample* variance (ddof=1) in float64.

    Transcribes ``avg_var`` (``mask.c:81-112``, ALGORITHM AS-52 updating
    form; ``var /= (n-1)`` at ``mask.c:109`` => sample variance).
    PINNED: vectorized two-pass float64 instead of the sequential
    update recurrence (equal in exact arithmetic).
    """
    x = np.asarray(x, dtype=np.float64)
    n = x.size
    if n < 1:
        raise ValueError("Vector length must be > 0 in avg_var()")
    mean = float(x.mean())
    var = float(x.var(ddof=1)) if n > 1 else 0.0
    return mean, var


def median_lower(x: np.ndarray) -> float:
    """Quickselect median of ``mask.c:22-79``: element at index
    ``(n-1)//2`` of the ascending order — for even n this is the LOWER
    middle element, NOT the average (so not ``np.median``)."""
    x = np.asarray(x)
    k = (x.size - 1) // 2
    return float(np.partition(x, k)[k])


def calc_avgmedstd(arr: np.ndarray, numarr: int, fraction: float,
                   step: int) -> tuple[float, float, float]:
    """Trimmed (mid-``fraction``) average/median/std — transcribes
    ``calc_avgmedstd`` (``mask.c:300-325``): strided gather, ascending
    sort, stats over the middle ``int(numarr*fraction + 0.5)`` elements;
    ``med = sorted[numarr//2]``."""
    length = int(numarr * fraction + 0.5)
    if length > numarr or length < 0:
        raise ValueError(f"fraction ({fraction}) out-of-bounds")
    start = (numarr - length) // 2
    flat = np.asarray(arr).ravel()
    tmparr = np.sort(flat[: numarr * step : step].astype(np.float32))
    avg, var = avg_var(tmparr[start:start + length])
    return float(np.float32(avg)), float(tmparr[numarr // 2]), float(np.sqrt(var))


def determine_padvals(stats_avgs: np.ndarray) -> np.ndarray:
    """Padding value per channel = mid-80% trimmed mean of that
    channel's per-interval averages — transcribes ``determine_padvals``
    (``mask.c:328-381``, the stats-file branch at ``mask.c:363-366``).

    ``stats_avgs``: float32 matrix (numint, numchan), rfifind ``.stats``
    *averages* section, channel order low-first.
    """
    numint, numchan = stats_avgs.shape
    flat = np.ascontiguousarray(stats_avgs, dtype=np.float32).ravel()
    pad = np.zeros(numchan, dtype=np.float32)
    for ii in range(numchan):
        avg, _med, _std = calc_avgmedstd(flat[ii:], numint, 0.8, numchan)
        pad[ii] = np.float32(avg)
    return pad


# --------------------------------------------------------------------------
# Mask machinery (J1-J5, S12)
# --------------------------------------------------------------------------


def merge_no_dupes(arr1, arr2) -> list[int]:
    """Literal transcription of ``merge_no_dupes`` (``mask.c:528-553``):
    two-pointer merge dropping pairwise-equal heads.  (The reference
    feeds it channel lists that are *descending* after ``inverse_mask``
    without re-sorting; the merged output is then order-scrambled but,
    used as a scatter index set, equals the set union — we keep the
    literal behaviour.)"""
    out: list[int] = []
    p1 = p2 = 0
    l1, l2 = len(arr1), len(arr2)
    while True:
        if p1 == l1:
            out.extend(int(v) for v in arr2[p2:])
            break
        if p2 == l2:
            out.extend(int(v) for v in arr1[p1:])
            break
        a, b = int(arr1[p1]), int(arr2[p2])
        if a < b:
            out.append(a)
            p1 += 1
        elif a > b:
            out.append(b)
            p2 += 1
        else:
            out.append(a)
            p1 += 1
            p2 += 1
    return out


def find_num(num: int, arr) -> bool:
    """Membership probe (``mask.c:516-525``)."""
    return any(int(v) == num for v in arr)


def inverse_mask(mask: MaskSpec) -> tuple[np.ndarray, list[np.ndarray], np.ndarray]:
    """Transcribes ``inverse_mask`` (``mask.c:720-728``): flip channel
    indices from rfifind low-first to filterbank high-first order.

    Returns (zap_chans, chans_per_int, padvals).  NOTE: the reference's
    padvals swap loop (``mask.c:727``) runs ``ii`` over ALL channels,
    swapping each (ii, numchan-1-ii) pair twice — a no-op.  padvals are
    therefore returned UNCHANGED (still low-first indexed), faithfully
    reproducing the reference, and all downstream ``padvals[channum]``
    lookups use this same array."""
    n = mask.numchan
    zap = np.asarray([n - 1 - c for c in mask.zap_chans], dtype=np.int64)
    cpi = [np.asarray([n - 1 - c for c in chans], dtype=np.int64)
           for chans in mask.chans_per_int]
    padvals = np.asarray(mask.padvals, dtype=np.float32).copy()
    return zap, cpi, padvals


def check_mask(starttime: float, duration: float, *, dtint: float,
               numint: int, zap_ints: np.ndarray, zap_chans: np.ndarray,
               chans_per_int: list[np.ndarray]) -> tuple[int, list[int]]:
    """Block x mask-interval range join — transcribes ``check_mask``
    (``mask.c:418-513``) minus the static memoization (pure function).

    Returns (nummasked, maskchans); nummasked == -1 => mask everything.
    """
    endtime = starttime + duration
    loint = int(starttime / dtint)
    hiint = int(endtime / dtint)
    if loint >= numint:                      # mask.c:451-455
        loint = numint - 1
    if hiint >= numint:
        hiint = loint

    if loint == hiint:
        if len(zap_ints) and find_num(loint, zap_ints):
            return -1, []
        merged = merge_no_dupes(zap_chans, chans_per_int[loint])
        return len(merged), merged

    # Straddling an rfifind interval boundary (mask.c:477-511)
    if len(zap_ints) and (find_num(loint, zap_ints) or find_num(hiint, zap_ints)):
        return -1, []
    if len(zap_chans):
        tmp = merge_no_dupes(zap_chans, chans_per_int[loint])
    else:
        tmp = [int(v) for v in zap_chans]
    merged = merge_no_dupes(tmp, chans_per_int[hiint])
    return len(merged), merged


# --------------------------------------------------------------------------
# Projection: user channel zap (P2) + widen (P3)
# --------------------------------------------------------------------------


def zap_channels(data_u8: np.ndarray, zapchan: np.ndarray,
                 padvals: np.ndarray | None) -> None:
    """In-place user channel zap on the uint8 buffer —
    transcribes ``dragnet.cu:249-261``.  Channel indices are flipped
    high-first (``nchan-1-zapchan``); with a mask, the float padvals are
    written through a float->uint8 C conversion (truncation toward
    zero, ``dedisp_byte`` assignment at ``dragnet.cu:255``); without a
    mask, zeros."""
    if zapchan.size == 0:
        return
    nchan = data_u8.shape[1]
    cols = nchan - 1 - zapchan
    if padvals is not None and padvals.size:
        data_u8[:, cols] = padvals[cols].astype(np.uint8)   # C float->uchar
    else:
        data_u8[:, cols] = 0


# --------------------------------------------------------------------------
# Time-domain clipper (W1) — stateful across blocks within one document
# --------------------------------------------------------------------------


@dataclass
class ClipState:
    """The ``clip_times`` static state (``mask.c:564-566``), scoped per
    document (per input file in the reference)."""
    running_avg: np.float32 = np.float32(0.0)
    running_std: np.float32 = np.float32(0.0)
    chan_running_avg: np.ndarray = field(
        default_factory=lambda: np.array([], dtype=np.float32))
    blocksread: int = 0


def clip_times(rawdata: np.ndarray, clip_sigma: float,
               good_chan_levels: np.ndarray, state: ClipState) -> int:
    """Time-domain clipper — transcribes ``clip_times``
    (``mask.c:556-677``).  ``rawdata``: float32 (ptsperblk, numchan),
    modified in place.  ``good_chan_levels`` (= the caller's padvals
    array, see ``mask.c:700``) is OVERWRITTEN with the running channel
    averages, exactly as in the reference.  Returns #clipped samples.
    """
    ptsperblk, numchan = rawdata.shape
    if state.chan_running_avg.size != numchan:
        state.chan_running_avg = np.zeros(numchan, dtype=np.float32)

    # Zero-DM series: THE module's A1 reduction (one definition — the
    # oracle/pipeline bit-parity argument rests on a single shared
    # implementation of the mask.c:582-588 sum).
    zdm = zero_dm(rawdata)
    current_avg, var = avg_var(zdm)
    current_std = float(np.sqrt(var))
    current_med = median_lower(zdm)

    # Robust re-estimate over points within median +/- 3*std (mask.c:597-627)
    lo_cutoff = np.float32(current_med - 3.0 * current_std)
    hi_cutoff = np.float32(current_med + 3.0 * current_std)
    good = (zdm > lo_cutoff) & (zdm < hi_cutoff)
    numgoodpts = int(good.sum())
    if numgoodpts < 1:                              # mask.c:617-621
        current_avg = float(state.running_avg)
        current_std = float(state.running_std)
        chan_avg_temp = state.chan_running_avg.astype(np.float64)
    else:
        current_avg, var = avg_var(zdm[good])
        current_std = float(np.sqrt(var))
        chan_avg_temp = (rawdata[good].sum(axis=0, dtype=np.float64)
                         / numgoodpts)

    # EWMA across blocks (mask.c:630-643); running_* are C floats.
    if state.blocksread:
        state.running_avg = np.float32(0.9 * float(state.running_avg)
                                       + 0.1 * current_avg)
        state.running_std = np.float32(0.9 * float(state.running_std)
                                       + 0.1 * current_std)
        state.chan_running_avg = (
            0.9 * state.chan_running_avg.astype(np.float64)
            + 0.1 * chan_avg_temp).astype(np.float32)
    else:
        state.running_avg = np.float32(current_avg)
        state.running_std = np.float32(current_std)
        state.chan_running_avg = chan_avg_temp.astype(np.float32)

    # Clip (mask.c:645-669)
    trigger = np.float32(clip_sigma) * state.running_std
    good_chan_levels[:] = state.chan_running_avg       # mask.c:654-656
    bad = np.abs(zdm - state.running_avg) > trigger
    clipped = int(bad.sum())
    if clipped:
        rawdata[bad] = good_chan_levels                 # whole-row replace
    state.blocksread += 1
    return clipped


def apply_mask(data: np.ndarray, *, tsamp: float, nsamples: int,
               offset: int, clip_sigma: float, padvals: np.ndarray,
               mask_args: dict, clip_state: ClipState) -> int:
    """Mask application (J4) — transcribes ``apply_mask``
    (``mask.c:679-714``).  ``data``: float32 (nsamples, nchan) in place.
    ``mask_args``: kwargs for :func:`check_mask`.  Returns #clipped.

    ``starttime = offset * tsamp`` with the header's (decimated) tsamp
    and the raw-sample offset, faithfully reproducing ``mask.c:690``.
    """
    starttime = offset * tsamp
    duration = nsamples * tsamp
    nummasked, maskchans = check_mask(starttime, duration, **mask_args)

    clipped = 0
    if clip_sigma > 0.0 and nummasked != -1:           # mask.c:698-700
        clipped = clip_times(data, clip_sigma, padvals, clip_state)

    if nummasked == -1:                                # mask.c:702-704
        data[:, :] = padvals[None, :]
    elif nummasked > 0:                                # mask.c:705-713
        cols = np.asarray(maskchans, dtype=np.int64)
        data[:, cols] = padvals[cols]
    return clipped


# --------------------------------------------------------------------------
# Spectral kurtosis (A6 + W2)
# --------------------------------------------------------------------------


def compute_sk_mask(z: np.ndarray, my: int, m: int, nd: float,
                    skmin: float, skmax: float) -> tuple[int, np.ndarray]:
    """SK estimator + masked-interval neighbour fill — transcribes
    ``compute_sk_mask`` (``skz/skz.c:451-562``).

    ``z``: float32 (ny, nx) = (time, channel) in place.  ``my``
    intervals of ``m`` samples each (``my`` may overrun ny: intervals
    wholly past the end have mact=0 => sk=NaN => masked, no fill —
    exactly the C guard behaviour ``skz.c:464-466``).  Returns
    (nmask, mask) with mask shape (my, nx), 1 = masked.
    """
    ny, nx = z.shape
    navg = 5

    # --- Estimator (skz.c:460-480): s1, s2, mact per (interval, channel).
    # Per-interval float64 scratch instead of a whole-block float64
    # copy: the old zpad + (zb*zb) pair tripled the hot path's peak
    # memory (a 256 MB float32 block allocated >1 GB of transients per
    # concurrent task).  Reducing each (m, nx) interval separately
    # performs the IDENTICAL pairwise float64 sum over the identical
    # element order (axis-1 reduction of the (my, m, nx) view is
    # per-interval already), so s1/s2 are bit-equal to the old form.
    s1 = np.empty((my, nx), dtype=np.float64)
    s2 = np.empty((my, nx), dtype=np.float64)
    blk = np.zeros((m, nx), dtype=np.float64)
    mact = np.zeros((my, 1), dtype=np.float64)
    for j in range(my):
        n_act = max(0, min(ny - j * m, m))
        mact[j, 0] = n_act
        if n_act < m:
            blk[:] = 0.0                   # zero-pad the tail interval
        blk[:n_act] = z[j * m:j * m + n_act].astype(np.float64)
        s1[j] = blk.sum(axis=0)
        s2[j] = (blk * blk).sum(axis=0)
    with np.errstate(divide="ignore", invalid="ignore"):
        sk = (mact * nd + 1.0) / (mact - 1.0) * (mact * s2 / (s1 * s1) - 1.0)
    masked = (sk < skmin) | (sk > skmax) | np.isnan(sk)
    nmask = int(masked.sum())

    # --- Neighbour fill (skz.c:483-558).  For a masked (chan i, int j),
    # the chosen side channels depend only on the mask row (first navg
    # unmasked channels each side); per time sample the side max
    # (>= 0.0, zmax init) is subtracted and the count decremented.
    # Reads touch only unmasked cells => fill order irrelevant.
    if nmask:
        mrow = masked  # (my, nx)
        for j in range(my):
            mact_j = int(mact[j, 0])
            row = mrow[j]
            cells = np.nonzero(row)[0]
            if cells.size == 0:
                continue
            unmasked = ~row
            if cells.size == nx and mact_j > 0:
                # Fully-masked interval fast path: every cell has empty
                # side lists, so each gets the identical fill
                # s1/s2 = 0.0 / (-2*mact) = -0.0 (skz.c:521-547 with
                # both sides empty) — one vectorized write instead of
                # nx * mact Python-loop iterations.  The degenerate
                # mostly-masked corpus is exactly where the per-cell
                # loop below would blow up (O(nmask * nx)).
                z[j * m:j * m + mact_j, :] = np.float32(
                    0.0 / (-2.0 * mact_j))
                continue
            for i in cells:
                if mact_j == 0:
                    continue                      # tail interval: no fill
                right = [i0 for i0 in range(i + 1, nx) if unmasked[i0]][:navg]
                left = [i0 for i0 in range(i - 1, -1, -1) if unmasked[i0]][:navg]
                ks = slice(j * m, j * m + mact_j)
                s1v = 0.0
                s2v = 0.0
                for side in (right, left):
                    if side:
                        vals = z[ks][:, side].astype(np.float64)
                        s1v += float(vals.sum())
                        mx = np.maximum(vals.max(axis=1), 0.0)  # zmax init 0.0
                        s1v -= float(mx.sum())
                        s2v += mact_j * (len(side) - 1)
                    else:
                        s2v -= mact_j                 # s2 -= 1.0 per k, zmax=0
                with np.errstate(divide="ignore", invalid="ignore"):
                    fill = np.float32(s1v / s2v) if s2v != 0.0 else np.float32(
                        np.float64(s1v) / np.float64(s2v))
                z[ks, i] = fill
    return nmask, masked.astype(np.int64)


# --------------------------------------------------------------------------
# Time decimation (A8)
# --------------------------------------------------------------------------


def decimate_timeseries(z: np.ndarray, mx: int) -> np.ndarray:
    """Tumbling-window mean over ``mx`` consecutive samples per channel
    — transcribes ``decimate_timeseries`` (``skz/skz.c:420-438``):
    float32 sequential accumulation then ``/mx`` in float32.

    The C loop writes a partial tail group by reading past the array
    when ``ny % mx != 0`` (undefined behaviour); we require exact
    divisibility (the reference's gulp choices guarantee it in
    practice)."""
    ny, nx = z.shape
    if ny % mx != 0:
        raise ValueError(f"decimation: ny={ny} not a multiple of mx={mx}")
    my = ny // mx
    acc = np.zeros((my, nx), dtype=np.float32)
    zb = z.reshape(my, mx, nx)
    for k in range(mx):                         # sequential f32, like ztmp+=
        acc += zb[:, k, :]
    return acc / np.float32(mx)


# --------------------------------------------------------------------------
# Incoherent dedispersion (D3) — the flagship operator
# --------------------------------------------------------------------------


def dedisperse(z: np.ndarray, delays: np.ndarray, max_delay: int) -> np.ndarray:
    """``out[d][t] = sum_c z[t + delay(d,c)][c]`` over all channels —
    the dedisp library kernel the reference invokes at
    ``dragnet.cu:301-302`` (Barsdell et al. 2012).  float32
    accumulation PINNED in channel order 0..nchan-1; output length
    ``nsamps - max_delay``; out_nbits=32 => plain sum, no scaling."""
    nsamps, nchan = z.shape
    t_out = nsamps - max_delay
    ndm = delays.shape[0]
    out = np.zeros((ndm, t_out), dtype=np.float32)
    zf = z if z.dtype == np.float32 else z.astype(np.float32)
    for d in range(ndm):
        acc = out[d]
        drow = delays[d]
        for c in range(nchan):
            off = int(drow[c])
            acc += zf[off:off + t_out, c]
    return out


def scrunch_series(out: np.ndarray, dt_factors: np.ndarray) -> list[np.ndarray]:
    """D5 adaptive time scrunch: per-DM tumbling mean of ``factor``
    consecutive output samples, tail remainder dropped (PINNED; the
    reference's own use_dt path is off by default, ``dragnet.cu:56``).
    Arithmetic matches :func:`decimate_timeseries`: float32 sum of the
    group then division by the factor."""
    series = []
    for d in range(out.shape[0]):
        f = int(dt_factors[d]) if d < len(dt_factors) else 1
        x = out[d]
        if f <= 1:
            series.append(x)
            continue
        n = (x.shape[0] // f) * f
        g = x[:n].reshape(-1, f)
        series.append((g.sum(axis=1, dtype=np.float32)
                       / np.float32(f)).astype(np.float32))
    return series


def zero_dm(z: np.ndarray) -> np.ndarray:
    """Zero-DM series (A1, ``mask.c:582-588``): float32 channel sum."""
    return z.sum(axis=1, dtype=np.float32)


# --------------------------------------------------------------------------
# Fused per-document block loop (W3 + whole pipeline)
# --------------------------------------------------------------------------


def process_block(block_u8: np.ndarray, plan, offset_abs: int,
                  padvals: np.ndarray, mask_args: dict | None,
                  clip_state: ClipState,
                  use_mask: bool) -> tuple[np.ndarray, int, int]:
    """ONE iteration of the reference block-loop body
    (``dragnet.cu:241-302``): zap -> widen -> mask/clip -> SK ->
    decimate -> dedisperse, driven by :func:`process_document`.
    ``block_u8`` is copied internally (the reference re-reads the
    overlapping tail from disk, ``sigproc.cxx:146``, so in-place edits
    must not leak into the next block's view).
    Returns (out_block, n_clipped_delta, n_sk_masked_delta)."""
    cfg = plan.cfg
    # P2: user channel zap on the byte buffer (dragnet.cu:249-261).
    # The zap is the ONLY in-place edit of the uint8 buffer, so the
    # defensive copy is paid only when a zap list exists — with no
    # zap (the common config) the astype below is the first copy.
    if plan.zap_channels.size:
        buf = np.array(block_u8, dtype=np.uint8, copy=True)
        zap_channels(buf, plan.zap_channels, padvals if use_mask else None)
    else:
        buf = block_u8

    # P3: widen to float32 (dragnet.cu:266-271)
    fbuf = buf.astype(np.float32)

    # J4/W1: rfifind mask + optional clipping (dragnet.cu:264-273)
    n_clipped = 0
    if use_mask:
        n_clipped = apply_mask(
            fbuf, tsamp=plan.tsamp_dec, nsamples=buf.shape[0],
            offset=offset_abs, clip_sigma=cfg.clip_sigma,
            padvals=padvals, mask_args=mask_args, clip_state=clip_state)

    # A6/W2: SK filter (dragnet.cu:276-282)
    n_sk = 0
    if cfg.use_skz:
        n_sk, _ = compute_sk_mask(fbuf, plan.sk_mint, cfg.mskz,
                                  float(cfg.nskz),
                                  plan.sk_lims[0], plan.sk_lims[1])

    # A8: decimation (dragnet.cu:285-289)
    if cfg.ndec > 1:
        fbuf = decimate_timeseries(fbuf, cfg.ndec)

    # D3: dedisperse (dragnet.cu:301-302)
    return dedisperse(fbuf, plan.delays, plan.max_delay), n_clipped, n_sk


def process_document(data: np.ndarray, plan,
                     offset0: int = 0) -> tuple[np.ndarray, dict]:
    """Run the full cleaning+dedispersion block loop on one document's
    dynamic spectrum — transcribes the main loop ``dragnet.cu:237-330``
    (raw-sample units; see module docstring for the ndec>1 deviation).

    ``data``: uint8 (nsamp_raw, nchan), SIGPROC channel order (0 = top).
    ``offset0``: absolute raw-sample offset of ``data[0]`` within its
    parent document — nonzero only on the chunked (giant-document)
    path, where the rfifind-mask interval lookup must still see
    absolute document time (``mask.c:690``).
    Returns (out float32 (ndm, nsamp_computed), metrics dict).
    """
    header, cfg = plan.header, plan.cfg
    nsamp_raw, nchan = data.shape
    if nchan != header.nchan:
        raise ValueError(f"nchan mismatch: data {nchan} vs header {header.nchan}")
    if nsamp_raw != header.nsamp:
        raise ValueError(f"nsamp mismatch: data {nsamp_raw} vs header {header.nsamp}")
    ndec = cfg.ndec
    if nsamp_raw % ndec != 0:
        raise ValueError(f"nsamp {nsamp_raw} not a multiple of ndec {ndec}")

    use_mask = cfg.use_mask and plan.mask is not None
    shift_back_raw = plan.max_delay * ndec
    padvals = (plan.padvals.copy() if use_mask and plan.padvals.size
               else np.zeros(nchan, dtype=np.float32))
    mask_args = dict(dtint=plan.mask.dtint, numint=plan.mask.numint,
                     zap_ints=plan.mask_zap_ints,
                     zap_chans=plan.mask_zap_chans,
                     chans_per_int=plan.mask_chans_per_int) \
        if use_mask else None
    clip_state = ClipState()

    ndm = plan.dmlist.shape[0]
    out = np.empty((ndm, plan.nsamp_computed), dtype=np.float32)
    opos = 0
    isamp = 0
    n_blocks = n_clipped = n_sk_masked = 0

    while True:
        to_read = min(plan.blocksize, nsamp_raw - isamp)   # dragnet.cu:241
        ob, ncl, nsk = process_block(
            data[isamp:isamp + to_read], plan, offset0 + isamp,
            padvals, mask_args, clip_state, use_mask)
        n_clipped += ncl
        n_sk_masked += nsk
        out[:, opos:opos + ob.shape[1]] = ob
        opos += ob.shape[1]

        isamp += to_read - shift_back_raw                  # dragnet.cu:328
        n_blocks += 1
        if not isamp < nsamp_raw - shift_back_raw:         # dragnet.cu:330
            break

    if opos != plan.nsamp_computed:
        raise AssertionError(f"block loop emitted {opos} != {plan.nsamp_computed}")
    return out, {"n_blocks": n_blocks, "n_clipped_samples": n_clipped,
                 "n_sk_masked_intervals": n_sk_masked}
