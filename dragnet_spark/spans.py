"""Span codec: the interleaved-document encoding of dynamic spectra,
and the output span builder (timeseries + .inf + media pass-through).

Input table shape (exactly the mandated ``input_hint``):
``doc_id: string, spans: array<struct<kind:string, text:string,
media_ref:string, offset:int>>``.  Span semantics are pinned in
FIXTURES.md §1; the ``.inf`` text transcribes ``writeinf``
(``inf.cxx:107-159``) byte-for-byte.
"""

from __future__ import annotations

import base64
import hashlib
import math

import numpy as np

from .params import Header

STRIP_LEN = 64   # samples per 'sample' span (FIXTURES.md §1)


# --------------------------------------------------------------------------
# Encode (generator side)
# --------------------------------------------------------------------------

def encode_samples(data: np.ndarray, strip_len: int = STRIP_LEN) -> list[dict]:
    """uint8 (T, C) -> list of 'sample' spans: base64 of S*C row-major
    bytes, ``offset`` = first sample index, highest-frequency channel
    first (SIGPROC order, ``lofarhdf5.cxx:325-335``)."""
    t_total = data.shape[0]
    spans = []
    for t0 in range(0, t_total, strip_len):
        chunk = np.ascontiguousarray(data[t0:t0 + strip_len], dtype=np.uint8)
        spans.append({
            "kind": "sample",
            "text": base64.b64encode(chunk.tobytes()).decode("ascii"),
            "media_ref": "",
            "offset": t0,
        })
    return spans


def encode_document(doc_id: str, header: Header, data: np.ndarray,
                    media: list[dict] | None = None) -> dict:
    """Build one document row: header span first, then sample strips and
    media spans interleaved in ascending offset (samples before media at
    equal offset)."""
    body = encode_samples(data)
    for m in (media or []):
        body.append({"kind": "media", "text": m.get("text", ""),
                     "media_ref": m["media_ref"], "offset": int(m["offset"])})
    body.sort(key=lambda s: (s["offset"], 0 if s["kind"] == "sample" else 1))
    spans = [{"kind": "header", "text": header.to_json(),
              "media_ref": "", "offset": -1}] + body
    return {"doc_id": doc_id, "spans": spans}


# --------------------------------------------------------------------------
# Decode (pipeline/oracle side)
# --------------------------------------------------------------------------

def decode_document(spans: list[dict]) -> tuple[Header, np.ndarray, list[dict]]:
    """Inverse of :func:`encode_document`.  Returns (header,
    uint8 (T, C) matrix, media spans in original relative order)."""
    header = None
    strips: list[tuple[int, bytes]] = []
    media: list[dict] = []
    for s in spans:
        kind = s["kind"]
        if kind == "header":
            if header is None:          # first header wins (= pipeline's
                header = Header.from_json(s["text"])  # element_at(..., 1))
        elif kind == "sample":
            strips.append((int(s["offset"]), base64.b64decode(s["text"])))
        elif kind == "media":
            media.append(dict(s))
        else:
            raise ValueError(f"unknown span kind {kind!r}")
    if header is None:
        raise ValueError("document has no header span")
    strips.sort(key=lambda x: x[0])
    raw = b"".join(b for _, b in strips)
    data = np.frombuffer(raw, dtype=np.uint8).reshape(-1, header.nchan)
    if header.chan_order == "low":
        # LOFAR layout: reverse to SIGPROC high-first exactly as the
        # reference reader does (lofarhdf5.cxx:325-335).
        data = data[:, ::-1]
    if data.shape[0] != header.nsamp:
        raise ValueError(
            f"sample strips cover {data.shape[0]} != header nsamp {header.nsamp}")
    return header, data, media


# --------------------------------------------------------------------------
# PRESTO .inf text (S10/S11) — transcribes inf.cxx
# --------------------------------------------------------------------------

_TELESCOPES = {0: "Fake", 1: "Arecibo", 2: "Ooty", 3: "Nancay", 4: "Parkes",
               5: "Jodrell", 6: "GBT", 7: "GMRT", 8: "Effelsberg", 9: "ATA",
               10: "UTR-2", 11: "LOFAR", 12: "FR606", 13: "DE601",
               14: "UK608"}
_BACKENDS = {0: "FAKE", 1: "PSPM", 2: "WAPP", 3: "AOFTM", 4: "BPP",
             5: "OOTY", 6: "SCAMP", 7: "SPIGOT", 10: "ARTEMIS", 11: "Cobalt"}


def telescope_name(telescope_id: int) -> str:
    """``inf.cxx:4-60``."""
    return _TELESCOPES.get(telescope_id, "???????")


def backend_name(machine_id: int) -> str:
    """``inf.cxx:63-104``."""
    return _BACKENDS.get(machine_id, "????")


def writeinf_text(header: Header, outstem: str, dm: float, *,
                  nsamp_dec: int, tsamp_dec: float, shift_back: int) -> str:
    """Byte-exact transcription of ``writeinf`` (``inf.cxx:107-159``).

    The reference calls it with the ndec-rewritten header
    (``dragnet.cu:72-74``), so ``nsamp_dec``/``tsamp_dec`` are the
    decimated values; ``shift_back`` = plan max_delay
    (``dragnet.cu:325``).  ``dm`` is a ``dedisp_float`` (float32).
    """
    dmv = float(np.float32(dm))
    ra_h = int(math.floor(header.src_raj / 10000.0))
    ra_m = int(math.floor((header.src_raj - ra_h * 10000) / 100.0))
    ra_s = header.src_raj - ra_h * 10000 - ra_m * 100
    dec_d = int(math.floor(abs(header.src_dej) / 10000.0))
    dec_m = int(math.floor((abs(header.src_dej) - dec_d * 10000) / 100.0))
    dec_s = abs(header.src_dej) - dec_d * 10000 - dec_m * 100
    if header.src_dej < 0.0:
        dec_d = -dec_d
    # MJD integer/fraction split via string round-trip (inf.cxx:141-143)
    tmp1 = "%.15f" % (header.tstart - math.floor(header.tstart))
    frac_digits = tmp1.split(".", 1)[1]

    lines = [
        " Data file name without suffix          =  %s_DM%.3f\n" % (outstem, dmv),
        " Telescope used                         =  %s\n"
        % telescope_name(header.telescope_id),
        " Instrument used                        =  %s\n"
        % backend_name(header.machine_id),
        " Object being observed                  =  %s\n" % header.source_name,
        " J2000 Right Ascension (hh:mm:ss.ssss)  =  %02d:%02d:%02f\n"
        % (ra_h, ra_m, ra_s),
        " J2000 Declination     (dd:mm:ss.ssss)  =  %02d:%02d:%s%f\n"
        % (dec_d, dec_m, "0" if dec_s < 10 else "", dec_s),
        " Data observed by                       =  Unknown\n",
        " Epoch of observation (MJD)             =  %d.%s\n"
        % (int(math.floor(header.tstart)), frac_digits),
        " Barycentered?           (1=yes, 0=no)  =  0\n",
        " Number of bins in the time series      =  %d\n"
        % (nsamp_dec - shift_back),
        " Width of each time series bin (sec)    =  %.15g\n" % tsamp_dec,
        " Any breaks in the data? (1=yes, 0=no)  =  0\n",
        " Type of observation (EM band)          =  Radio\n",
        " Beam diameter (arcsec)                 =  3600\n",
        " Dispersion measure (cm-3 pc)           =  %.12g\n" % dmv,
        " Central freq of low channel (Mhz)      =  %.12g\n"
        % (header.fch1 - (header.nchan - 1) * abs(header.foff)),
        " Total bandwidth (Mhz)                  =  %.12g\n"
        % (abs(header.foff) * header.nchan),
        " Number of channels                     =  %d\n" % header.nchan,
        " Channel bandwidth (Mhz)                =  %.12g\n" % abs(header.foff),
        " Data analyzed by                       =  Unknown\n",
        " Any additional notes:\n    Input filterbank samples have %d bits.\n"
        % header.nbit,
    ]
    return "".join(lines)


# --------------------------------------------------------------------------
# Output spans (S9 + S10 + media pass-through)
# --------------------------------------------------------------------------

def build_output_spans(out, dmlist: np.ndarray, header: Header,
                       *, nsamp_dec: int, tsamp_dec: float, max_delay: int,
                       prefix: str, media: list[dict],
                       dt_factors: np.ndarray | None = None) -> list[dict]:
    """Per FIXTURES.md §4: per DM ascending a ``timeseries`` span
    (base64 float32-LE of the full concatenated series — the
    per-DM ``.dat`` file content, ``dragnet.cu:310-323``), then per DM
    an ``inf`` span (``dragnet.cu:325``), then the pass-through media
    spans in original relative order.

    ``out`` is a rectangular (ndm, n) array, or — on the adaptive-dt
    path (D5) — a list of per-DM series of differing lengths, with
    ``dt_factors`` giving each DM's scrunch factor (the per-DM ``.inf``
    then carries the scrunched bin count and width)."""
    spans: list[dict] = []
    for d, dm in enumerate(dmlist):
        raw = np.ascontiguousarray(out[d], dtype="<f4").tobytes()
        spans.append({
            "kind": "timeseries",
            "text": base64.b64encode(raw).decode("ascii"),
            "media_ref": "dm://%.3f" % float(np.float32(dm)),
            "offset": d,
        })
    return spans + inf_media_spans(
        dmlist, header, nsamp_dec=nsamp_dec, tsamp_dec=tsamp_dec,
        max_delay=max_delay, prefix=prefix, media=media,
        dt_factors=dt_factors)


def inf_media_spans(dmlist: np.ndarray, header: Header, *, nsamp_dec: int,
                    tsamp_dec: float, max_delay: int, prefix: str,
                    media: list[dict],
                    dt_factors: np.ndarray | None = None) -> list[dict]:
    """The document-level tail of :func:`build_output_spans`: per DM an
    ``inf`` span (``dragnet.cu:325``), then the pass-through media
    spans.  The pipeline's kernel stage emits it on chunk 0.
    A DM whose ``dt_factors`` entry f > 1 carries the bin count and
    width of its scrunched series: ``(nsamp_dec - max_delay) // f``
    bins (the length :func:`kernels.scrunch_series` leaves) of
    ``tsamp_dec * f``."""
    spans: list[dict] = []
    for d, dm in enumerate(dmlist):
        dmv = float(np.float32(dm))
        if dt_factors is not None and int(dt_factors[d]) > 1:
            f = int(dt_factors[d])
            inf_text = writeinf_text(
                header, prefix, dmv, nsamp_dec=(nsamp_dec - max_delay) // f,
                tsamp_dec=tsamp_dec * f, shift_back=0)
        else:
            inf_text = writeinf_text(header, prefix, dmv,
                                     nsamp_dec=nsamp_dec,
                                     tsamp_dec=tsamp_dec,
                                     shift_back=max_delay)
        spans.append({
            "kind": "inf",
            "text": inf_text,
            "media_ref": "inf://%s_DM%.3f.inf" % (prefix, dmv),
            "offset": d,
        })
    for m in media:
        spans.append({"kind": "media", "text": m.get("text", ""),
                      "media_ref": m["media_ref"], "offset": int(m["offset"])})
    return spans


def span_sequence_hash(spans: list[dict]) -> str:
    """SHA-256 of the canonicalized (kind, text, media_ref, order)
    sequence — the golden-pin / equality invariant (FIXTURES.md §4)."""
    h = hashlib.sha256()
    for s in spans:
        for fieldval in (s["kind"], s["text"], s["media_ref"]):
            b = fieldval.encode("utf-8")
            # Length-prefixed: a bare separator byte would let two
            # different sequences collide when a field itself contains
            # the separator (('a', '\x00b') vs ('a\x00', 'b')) —
            # precisely the false-equal a golden-pin hash must never
            # report.
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
        h.update(b"\x01")
    return h.hexdigest()
