"""Gorilla-class block codecs — XOR float compression + delta-of-delta ints —
implemented as fully numpy-vectorized bitstream transforms (both encode AND
decode), with no per-element Python (north rule: "no per-row Python
anywhere"). The codecs are plain numpy, so they run wherever a block's rows
are: inside Arrow ``applyInPandas`` stages on the executors when a build
encodes a whole history, and on the driver when a refresh re-encodes the
few blocks its delta touches. Both venues call them through
``compression.encode_block``.

Relation to the classic Gorilla paper (Pelkonen et al., VLDB'15):
  * delta-of-delta timestamps: same idea; selector classes here are a fixed
    2-bit stream (0 bits / 16 / 32 / 64-bit zigzag payloads) instead of the
    paper's variable-length prefixes, which makes offsets a cumsum —
    vectorizable in both directions;
  * XOR floats: same leading/trailing-zero windowing, but every non-zero
    XOR carries an explicit 12-bit (lz:6, mlen-1:6) window header in a
    side stream instead of the paper's sequential "reuse previous window"
    mode. Costs ~10 extra bits per *changed* value; removes the sequential
    dependency that would force per-element Python.

The reference repo's only compression precedent is the lag-1 diff
(dataset_analyzer.py:105 — SURVEY §2.5 W11); the codecs generalize it per
the north rule (Gorilla XOR + delta-of-delta at every retention tier).

Layout (little-endian):
  DOD:  [u32 n][i64 first][i64 first_delta][u32 sel_bytes][sel bits 2/el]
        [payload bits]
  XOR:  [u32 n][u64 first][u32 sel_bytes][sel bits 2/el][u32 hdr_bytes]
        [hdr bits 12/windowed-el][payload bits]
"""

from __future__ import annotations

import struct

import numpy as np

_U64 = np.uint64
_ONE = _U64(1)


# ---------------------------------------------------------------- bit utils
def _bitlen(x: np.ndarray) -> np.ndarray:
    """Vectorized bit length of uint64 values (0 → 0)."""
    n = np.zeros(x.shape, dtype=np.int64)
    y = x.copy()
    for s in (32, 16, 8, 4, 2, 1):
        mask = y >> _U64(s) != 0
        n[mask] += s
        y[mask] >>= _U64(s)
    return n + (y != 0)


def _pack_varbits(words: np.ndarray, lens: np.ndarray) -> bytes:
    """Concatenate per-element bit fields (``lens[i]`` low bits of
    ``words[i]``, MSB first) into a packed byte string. Vectorized via the
    repeat/cumsum segment trick."""
    total = int(lens.sum())
    if total == 0:
        return b""
    seg = np.repeat(np.arange(len(lens)), lens)
    local = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
    shift = (lens[seg] - 1 - local).astype(np.uint64)
    bits = ((words[seg] >> shift) & _ONE).astype(np.uint8)
    return np.packbits(bits).tobytes()


def _unpack_varbits(buf: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Inverse of _pack_varbits: extract len[i]-bit fields as uint64.
    ``buf`` is the np.unpackbits bool/uint8 array of the payload bytes."""
    out = np.zeros(len(lens), dtype=np.uint64)
    total = int(lens.sum())
    if total == 0:
        return out
    seg = np.repeat(np.arange(len(lens)), lens)
    starts = np.cumsum(lens) - lens
    local = np.arange(total) - np.repeat(starts, lens)
    shift = (lens[seg] - 1 - local).astype(np.uint64)
    contrib = buf[:total].astype(np.uint64) << shift
    nz = lens > 0
    out[nz] = np.add.reduceat(contrib, starts[nz])
    return out


def _zigzag(v: np.ndarray) -> np.ndarray:
    return ((v << 1) ^ (v >> 63)).astype(np.int64).view(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    return ((u >> _ONE).view(np.int64)) ^ -(u & _ONE).view(np.int64)


def _pack_fixed(vals: np.ndarray, width: int) -> bytes:
    return _pack_varbits(vals.astype(np.uint64), np.full(len(vals), width, np.int64))


def _unpack_fixed(buf: np.ndarray, n: int, width: int) -> np.ndarray:
    return _unpack_varbits(buf, np.full(n, width, np.int64))


# ------------------------------------------------------- delta-of-delta ints
def dod_encode(values) -> bytes:
    """Delta-of-delta encode int64 values (timestamps in any epoch unit, or
    integer stats). Selector classes: 0→dod==0, 1→16-bit, 2→32-bit,
    3→64-bit zigzag payload."""
    v = np.asarray(values, dtype=np.int64)
    n = len(v)
    if n == 0:
        return struct.pack("<I", 0)
    if n == 1:
        return struct.pack("<Iqq", 1, int(v[0]), 0) + struct.pack("<I", 0)
    delta = np.diff(v)
    dod = delta[1:] - delta[:-1]
    zz = _zigzag(dod)
    sel = np.zeros(len(dod), dtype=np.uint64)
    sel[zz > 0] = 1
    sel[zz >= (1 << 16)] = 2
    sel[zz >= (1 << 32)] = 3
    lens = np.choose(sel.astype(np.int64), [0, 16, 32, 64])
    sel_bytes = _pack_fixed(sel, 2)
    payload = _pack_varbits(zz, lens)
    return (
        struct.pack("<Iqq", n, int(v[0]), int(delta[0]))
        + struct.pack("<I", len(sel_bytes))
        + sel_bytes
        + payload
    )


def dod_decode(blob: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<I", blob, 0)
    if n == 0:
        return np.array([], dtype=np.int64)
    first, first_delta = struct.unpack_from("<qq", blob, 4)
    if n == 1:
        return np.array([first], dtype=np.int64)
    (sel_nbytes,) = struct.unpack_from("<I", blob, 20)
    off = 24
    selbuf = np.unpackbits(
        np.frombuffer(blob, np.uint8, count=sel_nbytes, offset=off)
    )
    sel = _unpack_fixed(selbuf, n - 2, 2).astype(np.int64)
    lens = np.choose(sel, [0, 16, 32, 64])
    payload = np.unpackbits(np.frombuffer(blob, np.uint8, offset=off + sel_nbytes))
    dod = _unzigzag(_unpack_varbits(payload, lens))
    deltas = np.concatenate([[first_delta], first_delta + np.cumsum(dod)])
    return first + np.concatenate([[0], np.cumsum(deltas)]).astype(np.int64)


# ------------------------------------------------------------- XOR float64
def xor_encode(values) -> bytes:
    """Gorilla-style XOR encode float64 values (NaNs allowed — NaN has a
    stable bit pattern via np.float64('nan')). Selector: 0→xor==0,
    2→windowed (12-bit header + meaningful bits), 3→raw 64."""
    v = np.ascontiguousarray(np.asarray(values, dtype=np.float64)).view(np.uint64)
    n = len(v)
    if n == 0:
        return struct.pack("<I", 0)
    x = v[1:] ^ v[:-1]
    nz = x != 0
    lz = np.zeros(len(x), np.int64)
    tz = np.zeros(len(x), np.int64)
    bl = _bitlen(x)
    lz[nz] = 64 - bl[nz]
    low = x & (~x + _ONE)
    tz[nz] = _bitlen(low[nz]) - 1
    mlen = np.where(nz, 64 - lz - tz, 0)
    sel = np.where(nz, np.where(mlen == 64, 3, 2), 0).astype(np.uint64)
    win = sel == 2
    # header: lz(6) | mlen-1(6)
    hdr = (lz[win].astype(np.uint64) << _U64(6)) | (mlen[win] - 1).astype(np.uint64)
    hdr_bytes = _pack_fixed(hdr, 12)
    pay_words = np.where(win, x >> tz.astype(np.uint64), x)
    pay_lens = np.where(sel == 3, 64, np.where(win, mlen, 0)).astype(np.int64)
    payload = _pack_varbits(pay_words, pay_lens)
    sel_bytes = _pack_fixed(sel, 2)
    return (
        struct.pack("<IQ", n, int(v[0]))
        + struct.pack("<I", len(sel_bytes))
        + sel_bytes
        + struct.pack("<I", len(hdr_bytes))
        + hdr_bytes
        + payload
    )


def xor_decode(blob: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<I", blob, 0)
    if n == 0:
        return np.array([], dtype=np.float64)
    (first,) = struct.unpack_from("<Q", blob, 4)
    if n == 1:
        return np.array([first], dtype=np.uint64).view(np.float64)
    (sel_nbytes,) = struct.unpack_from("<I", blob, 12)
    off = 16
    selbuf = np.unpackbits(np.frombuffer(blob, np.uint8, count=sel_nbytes, offset=off))
    sel = _unpack_fixed(selbuf, n - 1, 2).astype(np.int64)
    off += sel_nbytes
    (hdr_nbytes,) = struct.unpack_from("<I", blob, off)
    off += 4
    win = sel == 2
    hdrbuf = np.unpackbits(np.frombuffer(blob, np.uint8, count=hdr_nbytes, offset=off))
    hdr = _unpack_fixed(hdrbuf, int(win.sum()), 12)
    off += hdr_nbytes
    lz = np.zeros(n - 1, np.int64)
    mlen = np.zeros(n - 1, np.int64)
    lz[win] = (hdr >> _U64(6)).astype(np.int64)
    mlen[win] = (hdr & _U64(0x3F)).astype(np.int64) + 1
    pay_lens = np.where(sel == 3, 64, np.where(win, mlen, 0)).astype(np.int64)
    payload = np.unpackbits(np.frombuffer(blob, np.uint8, offset=off))
    words = _unpack_varbits(payload, pay_lens)
    tz = np.where(win, 64 - lz - mlen, 0).astype(np.uint64)
    x = np.where(sel == 0, _U64(0), words << tz)
    out = np.empty(n, dtype=np.uint64)
    out[0] = first
    out[1:] = np.bitwise_xor.accumulate(x) ^ _U64(first)
    return out.view(np.float64)


def compression_ratio(blob: bytes, n: int, width: int = 8) -> float:
    return (n * width) / max(len(blob), 1)
