"""SIGPROC filterbank binary ingest (S3/S4/S5/S6) + writer.

The reference's primary input format, absent from round 1 (VERDICT.md
"What's missing" #1): a user with a real ``.fil`` file had no way into
the documents table.  This module transcribes the reference reader in
pure Python over ``bytes``:

* header state machine — ``sigproc.cxx:61-131``: a stream of
  ``{int32 len}{len chars}`` records until ``HEADER_END``; length
  outside (1, 80) skips the record exactly like the C loop's
  ``continue``; known keys read a little-endian payload value.
* nsamp inference — ``sigproc.cxx:120-124``:
  ``nsamp = (filesize - headersize) / (nchan * nif * nbit/8)``,
  ALWAYS overriding any ``nsamples`` header key (the C code reads the
  key into ``h->nsamp`` and then overwrites it).
* validation — ``sigproc.cxx:49-56``: reject ``nif != 1`` and
  ``nbit != 8``.
* blocked read with overlap — ``sigproc.cxx:134-148``:
  ``read(nsamples, shift_back)`` returns ``read_samples - shift_back``
  and seeks back so the next block re-reads the tail
  (:class:`SigprocReader`).

Faithfully-transcribed reference quirks (documented, test-pinned):

* ``source_name``/``rawdatafile`` — ``sigproc.cxx:103-104`` does
  ``strcpy(h->source_name, string)``, i.e. stores the KEYWORD ITSELF,
  never reading the value string that follows (the value record is
  then consumed by the next loop iteration as an unknown keyword and
  ignored).  An ingested file therefore always has
  ``source_name == 'source_name'``, exactly as the reference binary
  would produce.
* ``FREQUENCY_START``/``fchannel`` table — ``sigproc.cxx:105-117``:
  the first ``fchannel`` value becomes ``fch1``, the second sets
  ``foff = value - fch1``, all later ones are discarded.

The writer emits standard SIGPROC records (including the real
source_name value and ``HEADER_START``, which the reference reader
skips as an unknown keyword), so files written here are readable by
stock SIGPROC/PRESTO tooling AND exercise the quirks above.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

import numpy as np

from .params import Header

_INT_KEYS = {"nchans": "nchan", "nifs": "nif", "nbits": "nbit",
             "nsamples": "nsamp", "telescope_id": "telescope_id",
             "machine_id": "machine_id", "nbeams": "nbeam",
             "ibeam": "ibeam"}
_DBL_KEYS = {"tsamp": "tsamp", "tstart": "tstart", "fch1": "fch1",
             "foff": "foff", "az_start": "az_start",
             "za_start": "za_start", "src_raj": "src_raj",
             "src_dej": "src_dej"}


# --------------------------------------------------------------------------
# Writer (round-trip harness + producing PRESTO-consumable files)
# --------------------------------------------------------------------------

def _rec(s: str) -> bytes:
    b = s.encode("ascii")
    return struct.pack("<i", len(b)) + b


def write_filterbank_bytes(header: Header, data: np.ndarray) -> bytes:
    """Serialize (header, uint8 (T, C) matrix) as a SIGPROC filterbank
    file: keyword records then the raw row-major payload."""
    if data.dtype != np.uint8:
        raise ValueError("SIGPROC payload must be uint8 (nbit=8)")
    parts = [_rec("HEADER_START")]
    parts += [_rec("source_name"), _rec(header.source_name)]
    parts += [_rec("rawdatafile"), _rec("synthetic.fil")]
    for key, attr in _INT_KEYS.items():
        parts.append(_rec(key) + struct.pack("<i", int(getattr(header, attr))))
    for key, attr in _DBL_KEYS.items():
        parts.append(_rec(key) + struct.pack("<d", float(getattr(header, attr))))
    parts.append(_rec("HEADER_END"))
    parts.append(np.ascontiguousarray(data).tobytes())
    return b"".join(parts)


def write_filterbank(path: str, header: Header, data: np.ndarray) -> None:
    with open(path, "wb") as fh:
        fh.write(write_filterbank_bytes(header, data))


# --------------------------------------------------------------------------
# Header parse (sigproc.cxx:61-131)
# --------------------------------------------------------------------------

def parse_sigproc_header(buf: bytes) -> tuple[Header, int]:
    """Parse the self-describing header record stream; returns
    (Header, headersize).  ``nsamp`` is inferred from the payload size
    (``sigproc.cxx:120-124``), overriding any ``nsamples`` key."""
    h = Header()
    pos = 0
    expecting_fchannel = 0
    n = len(buf)

    def take(fmt: str, size: int):
        nonlocal pos
        if pos + size > n:
            raise ValueError("truncated SIGPROC header")
        v = struct.unpack_from(fmt, buf, pos)[0]
        pos += size
        return v

    while True:
        nchar = take("<i", 4)
        if not (1 < nchar < 80):        # skip wrong strings (sigproc.cxx:76)
            continue
        if pos + nchar > n:
            raise ValueError("truncated SIGPROC header")
        key = buf[pos:pos + nchar].decode("latin-1")
        pos += nchar
        if key == "HEADER_END":
            break
        if key in _DBL_KEYS:
            setattr(h, _DBL_KEYS[key], take("<d", 8))
        elif key in _INT_KEYS:
            setattr(h, _INT_KEYS[key], take("<i", 4))
        elif key == "source_name":
            # Reference bug transcribed (sigproc.cxx:103): the keyword
            # itself is stored; the value record is consumed by the
            # next iteration as an unknown keyword.
            h.source_name = key
        elif key == "rawdatafile":
            pass                        # same strcpy(keyword) pattern
        elif key == "FREQUENCY_START":
            expecting_fchannel = 1
        elif key == "FREQUENCY_END":
            expecting_fchannel = 0
        elif key == "fchannel" and expecting_fchannel:
            val = take("<d", 8)
            if expecting_fchannel == 1:        # sigproc.cxx:113-116
                h.fch1 = val
                expecting_fchannel = 2
            elif expecting_fchannel == 2:      # sigproc.cxx:108-112
                h.foff = val - h.fch1
                expecting_fchannel = 3
            # expecting_fchannel == 3: value discarded (sigproc.cxx:107)
        # unknown keywords: ignored (their value bytes, if any, are
        # re-scanned as length records — exactly the C behaviour)

    headersize = pos
    # Validate BEFORE the nsamp inference (sigproc.cxx:49-56): the C
    # code rejects nif!=1 / nbit!=8 explicitly; without this, nbit<8
    # would change the division semantics (C's nchan*nif*(nbit/8) is a
    # divide-by-zero; Python's grouped (nchan*nif*nbit)//8 silently
    # returns a nonzero count) and nchan==0 would surface as a
    # ZeroDivisionError instead of the reference's error message.
    if h.nif != 1:
        raise ValueError(f"Wrong number of polarizations ({h.nif}, not 1)")
    if h.nbit != 8:
        raise ValueError(f"Wrong bit depth ({h.nbit}, not 8)")
    if h.nchan <= 0:
        raise ValueError(f"Invalid number of channels ({h.nchan})")
    h.nsamp = (n - headersize) // (h.nchan * h.nif * h.nbit // 8)
    return h, headersize


def read_filterbank(src: str | bytes) -> tuple[Header, np.ndarray]:
    """Read a whole ``.fil`` (path or bytes) -> (Header, uint8 (T, C)).
    Validation per ``sigproc.cxx:49-56``."""
    if isinstance(src, bytes):
        buf = src
    else:
        with open(src, "rb") as fh:
            buf = fh.read()
    # nif/nbit/nchan validation happens INSIDE parse_sigproc_header
    # (it must precede the nsamp inference) — no second copy here that
    # could silently diverge from it.
    h, headersize = parse_sigproc_header(buf)
    payload = buf[headersize:headersize + h.nsamp * h.nchan]
    data = np.frombuffer(payload, dtype=np.uint8).reshape(h.nsamp, h.nchan)
    return h, data


class SigprocReader:
    """Blocked read with overlap — ``Sigproc::read``
    (``sigproc.cxx:134-148``): each call returns up to ``nsamples``
    rows; the stream position then rewinds ``shift_back`` samples so
    the next block re-reads the tail (the block loop's halo, W3)."""

    def __init__(self, src: str | bytes):
        self.header, self._data = read_filterbank(src)
        self.current_sample = 0

    def read(self, nsamples: int,
             shift_back: int) -> tuple[np.ndarray, int]:
        """Returns (block uint8 (read_samples, nchan), advanced) where
        ``advanced == read_samples - shift_back`` exactly as the C
        return value; the block itself has the full overlap tail."""
        h = self.header
        read_samples = (h.nsamp - self.current_sample
                        if self.current_sample + nsamples > h.nsamp
                        else nsamples)
        block = self._data[self.current_sample:
                           self.current_sample + read_samples]
        self.current_sample += read_samples - shift_back
        return block, read_samples - shift_back


# --------------------------------------------------------------------------
# Distributed ingest: .fil files -> documents table
# --------------------------------------------------------------------------

def ingest_filterbank(spark, path: str):
    """Read ``.fil`` files into the canonical documents table shape
    ``(doc_id, spans)`` — the real-user on-ramp the reference serves
    with ``raw_open`` (``input.cxx:7-21``).

    Scale shape: ``binaryFile`` gives one row per file, decoded
    per-file inside ``mapInPandas`` (Arrow-batched, no per-row Python);
    parsing is pure byte slicing, the payload is never copied more than
    once.  Observation files big enough to skew a partition should be
    ingested whole here and then split by the pipeline's halo-aware
    chunker (``run_pipeline_chunked``, ``job.py --chunked``), which is
    the engine's giant-doc story — the ingest itself stays
    one-file-one-task.  The chunker cuts ``pipeline.BLOCKS_PER_CHUNK``
    blocks per chunk, so only a config with a ``blocksize`` splits a
    file (whole-document blocks run as one chunk).
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from .pipeline import DOCS_SCHEMA
    from .spans import encode_document

    files = (spark.read.format("binaryFile")
             .load(path)
             .select("path", "content"))

    # doc_id = basename root, so same-named files in different
    # directories (data/*/beam0.fil) would silently collide into ONE
    # doc_id and merge two observations' spans into a corrupt
    # document.  One metadata-only pass over the listing (content
    # column pruned) fails loudly instead.
    dup = (files
           .select(F.regexp_replace(
               F.element_at(F.split("path", "/"), -1),
               r"\.[^.]*$", "").alias("doc_id"))
           .groupBy("doc_id").count()
           .where(F.col("count") > 1)
           .limit(1).collect())
    if dup:
        raise ValueError(
            f"multiple input files share the basename-derived doc_id "
            f"{dup[0]['doc_id']!r}; doc_ids must be unique — rename "
            "the files or ingest the directories separately")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                h, data = read_filterbank(bytes(content))
                doc_id = os.path.splitext(os.path.basename(fpath))[0]
                d = encode_document(doc_id, h, data)
                rows.append({
                    "doc_id": d["doc_id"],
                    "spans": [(s["kind"], s["text"], s["media_ref"],
                               int(s["offset"])) for s in d["spans"]],
                })
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return files.mapInPandas(decode, DOCS_SCHEMA)
