"""Parameter/metadata types and the channel-range grammar.

Transcribes the reference's fixed C structs and option parsing:

- ``Header``   <- ``header``  struct, reference ``dragnet.h:14-21``
- ``RunConfig``<- ``cmdline`` struct, reference ``dragnet.h:28-36`` with
  the defaults set in ``dragnet.cu:38-57``
- ``MaskSpec`` <- PRESTO rfifind ``mask`` struct, ``mask/mask.h:13-29``
- ``ranges_to_ivect`` <- ``mask/range_parse.c:119-329``
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field, asdict


@dataclass
class Header:
    """Observation metadata (reference ``dragnet.h:14-21``).

    ``nsamp`` is the *raw* (pre-decimation) sample count as stored in the
    document; the reference rewrites ``tsamp *= ndec; nsamp /= ndec``
    before planning (``dragnet.cu:72-74``) — we apply the same rewrite in
    :func:`dragnet_spark.plan.build_plan`, keeping this struct raw.
    """

    nchan: int = 16
    nsamp: int = 512
    nbit: int = 8
    nif: int = 1
    machine_id: int = 11
    telescope_id: int = 11
    nbeam: int = 1
    ibeam: int = 0
    tstart: float = 56000.123456789   # MJD
    tsamp: float = 0.00049152         # seconds
    fch1: float = 151.0               # MHz, highest channel (SIGPROC order)
    foff: float = -0.1953125          # MHz, negative: channel 0 = top of band
    src_raj: float = 123456.78        # packed sexagesimal hhmmss.ss
    src_dej: float = 543210.9         # packed sexagesimal ddmmss.s
    az_start: float = 0.0
    za_start: float = 0.0
    source_name: str = "FAKE_PSR"
    # Channel layout of the encoded sample strips: 'high' = channel 0 is
    # the highest frequency (SIGPROC canon); 'low' = lowest-first as
    # LOFAR HDF5 stores it — the reader reverses to high-first exactly
    # like the reference (lofarhdf5.cxx:325-335).
    chan_order: str = "high"

    def to_json(self) -> str:
        """Canonical sorted-keys JSON used for the ``kind='header'`` span.
        ``chan_order`` is omitted for the canonical high-first (SIGPROC)
        layout so pre-existing fixtures keep their byte-exact header."""
        d = asdict(self)
        if d.get("chan_order") == "high":
            d.pop("chan_order")
        return json.dumps(d, sort_keys=True)

    @classmethod
    def from_json(cls, text: str) -> "Header":
        return cls(**json.loads(text))


@dataclass
class RunConfig:
    """Run configuration (reference ``cmdline`` struct, defaults
    ``dragnet.cu:38-57``)."""

    config_id: str = "default"
    prefix: str = "test"              # dragnet.cu:42
    blocksize: int = 0                # 0 => whole document (dragnet.cu:104)
    zapchan: str = ""                 # range grammar, '' = off
    use_mask: bool = False
    clip_sigma: float = 0.0           # 0 = no clipping (dragnet.cu:50)
    use_skz: bool = False
    mskz: int = 1024                  # SK interval length  (dragnet.cu:52)
    nskz: int = 12                    # SK averaged spectra (dragnet.cu:53)
    sskz: float = 4.0                 # SK sigma            (dragnet.cu:54)
    ndec: int = 1                     # time decimation     (dragnet.cu:57)
    use_dt: bool = False              # adaptive time scrunch (dragnet.cu:56)
    dm_start: float = 0.0             # dragnet.cu:45
    dm_end: float = 50.0              # dragnet.cu:46
    dm_step: float = 0.0              # 0 => optimal (Levin) list (dragnet.cu:123)
    pulse_width: float = 4.0          # microseconds        (dragnet.cu:48)
    dm_tol: float = 1.25              # dragnet.cu:49

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, text: str) -> "RunConfig":
        return cls(**json.loads(text))


@dataclass
class MaskSpec:
    """Relational encoding of the PRESTO rfifind mask
    (binary layout ``mask.c:254-297``, struct ``mask/mask.h:13-29``).

    Channel indices (``zap_chans``, ``chans_per_int``) use the rfifind
    *lowest-frequency-first* convention; the pipeline applies
    ``inverse_mask`` (``mask.c:720-728``) once at plan time to flip them
    into SIGPROC highest-first order.  ``padvals`` is per-channel in
    low-first order; NOTE the reference's padvals "inversion" loop
    (``mask.c:727``) swaps every pair twice and is therefore a no-op —
    padvals effectively stay in their original order.  We transcribe
    that behaviour exactly (see :func:`dragnet_spark.kernels.inverse_mask`).
    """

    mask_id: str = "mask-default"
    timesigma: float = 10.0
    freqsigma: float = 4.0
    mjd: float = 56000.123456789
    dtint: float = 0.0                # seconds per interval = ptsperint*tsamp
    lofreq: float = 0.0
    dfreq: float = 0.0
    numchan: int = 0
    numint: int = 0
    ptsperint: int = 0
    zap_chans: list[int] = field(default_factory=list)
    zap_ints: list[int] = field(default_factory=list)
    chans_per_int: list[list[int]] = field(default_factory=list)
    padvals: list[float] = field(default_factory=list)

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, text: str) -> "MaskSpec":
        return cls(**json.loads(text))


def _parse_c_int(tok: str) -> int:
    """sscanf %i semantics (``range_parse.c:112``): base prefixes
    honoured, and — like C — the LONGEST VALID PREFIX is parsed rather
    than the whole token ('08' -> 0 via the octal prefix, '0x' -> 0)."""
    tok = tok.strip()
    m = re.match(r"([+-]?)(0[xX][0-9a-fA-F]+|0[0-7]*|[1-9][0-9]*)", tok)
    if not m:
        raise ValueError(f"no integer prefix in {tok!r}")
    sign, body = m.group(1), m.group(2)
    if body[:2].lower() == "0x":
        val = int(body, 16)
    elif body.startswith("0") and len(body) > 1:
        val = int(body, 8)                   # C legacy octal
    else:
        val = int(body, 10)
    return -val if sign == "-" else val


def parse_ranges(s: str, defmin: int, defmax: int,
                 defmult: int = 1) -> list[tuple[int, int, int]]:
    """Transcription of ``parse_ranges`` (``mask/range_parse.c:119-226``).

    Grammar per comma-separated token: ``num`` | ``min:max[:mult]``;
    any field may be blank and falls back to the supplied default;
    bare ``num`` means ``num:num``.
    """
    out: list[tuple[int, int, int]] = []
    # strtok skips empty tokens (",," collapses) — match that.
    for tok in (t for t in s.split(",") if t != ""):
        mn, mx, mult = defmin, defmax, defmult
        parts = tok.split(":", 2)
        if len(parts) == 1:
            if parts[0]:
                mn = _parse_c_int(parts[0])
            mx = mn                              # range_parse.c:186-187
        else:
            if parts[0]:
                mn = _parse_c_int(parts[0])
            if parts[1]:
                mx = _parse_c_int(parts[1])
            if len(parts) == 3 and parts[2]:
                mult = _parse_c_int(parts[2])
        out.append((mn, mx, mult))
    return out


def ranges_to_ivect(s: str, minval: int, maxval: int) -> list[int]:
    """Transcription of ``ranges_to_ivect`` (``mask/range_parse.c:257-329``):
    expand ranges to an explicit int list, clamped to ``[minval, maxval]``;
    out-of-window ranges are dropped.  Duplicates are preserved, matching
    the C code (it does not dedupe)."""
    vals: list[int] = []
    for mn, mx, mult in parse_ranges(s, minval, maxval, 1):
        if mn < minval:
            mn = minval
        if mn > maxval:
            continue
        if mx > maxval:
            mx = maxval
        if mx < minval:
            continue
        vals.extend(range(mn, mx + 1, mult))
    return vals
