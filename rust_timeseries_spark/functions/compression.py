"""Time-series block codecs: delta-of-delta (int64) and Gorilla XOR
(float64).

Pure-numpy/stdlib implementations of the public Gorilla bitstream
(Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory Time Series
Database", VLDB 2015 — the reference library has no compression; this is
an engine-required operator, SURVEY.md §4.3.2):

* **delta-of-delta** for integer counters (Gorilla's timestamp scheme):
  header = count + first value (64-bit) + first delta (zigzag varint);
  then per value the dod is bucketed into
  ``0 | 10+7b | 110+9b | 1110+12b | 1111+64b`` ranges.
* **Gorilla XOR** for float64 series: first value raw 64-bit; then per
  value XOR with predecessor — ``0`` if identical, else ``10`` + reuse
  of the previous (leading, meaningful) window when the new meaningful
  bits fit inside it, else ``11`` + 5-bit leading-zero count + 6-bit
  meaningful length + the bits.

Round-trips are exact (bit-for-bit) for all finite and non-finite
values; NaN payloads survive because everything goes through the raw
bit pattern.

Compression runs over *bucketed tier rows* (one block per
(key, coarse window)), never over raw sequences — at 10^12 input rows
the blocks table is minute-resolution, i.e. orders of magnitude
smaller, and each block encode is a short numpy-prepped loop inside an
Arrow-batched UDF.
"""

from __future__ import annotations

import numpy as np


class BitWriter:
    """Append-only MSB-first bit buffer (int accumulator, byte flush)."""

    __slots__ = ("_bytes", "_acc", "_nbits")

    def __init__(self) -> None:
        self._bytes = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._nbits += nbits
        while self._nbits >= 8:
            self._nbits -= 8
            self._bytes.append((self._acc >> self._nbits) & 0xFF)
        self._acc &= (1 << self._nbits) - 1

    def getvalue(self) -> bytes:
        out = bytearray(self._bytes)
        if self._nbits:
            out.append((self._acc << (8 - self._nbits)) & 0xFF)
        return bytes(out)


class BitReader:
    """MSB-first bit cursor over bytes."""

    __slots__ = ("_data", "_pos")

    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0

    def read(self, nbits: int) -> int:
        out = 0
        pos = self._pos
        data = self._data
        remaining = nbits
        while remaining > 0:
            byte_idx, bit_idx = divmod(pos, 8)
            avail = 8 - bit_idx
            take = avail if avail < remaining else remaining
            chunk = (data[byte_idx] >> (avail - take)) & ((1 << take) - 1)
            out = (out << take) | chunk
            pos += take
            remaining -= take
        self._pos = pos
        return out


def zigzag_encode(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def zigzag_decode(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _write_varint(w: BitWriter, u: int) -> None:
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            w.write(0x80 | b, 8)
        else:
            w.write(b, 8)
            return


def _read_varint(r: BitReader) -> int:
    shift = 0
    out = 0
    while True:
        b = r.read(8)
        out |= (b & 0x7F) << shift
        if not (b & 0x80):
            return out
        shift += 7


_U64 = (1 << 64) - 1

# (control-bit pattern, control-bit count, payload bits, half-range) —
# the Gorilla timestamp dod buckets
_DOD_BUCKETS = (
    (0b10, 2, 7, 64),
    (0b110, 3, 9, 256),
    (0b1110, 4, 12, 2048),
)


def encode_dod_int64_py(values: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 array. Layout:
    varint(count) | raw 64-bit first value | zigzag-varint first delta |
    dod stream."""
    v = np.asarray(values, dtype=np.int64)
    n = len(v)
    w = BitWriter()
    _write_varint(w, n)
    if n == 0:
        return w.getvalue()
    w.write(int(v[0]) & _U64, 64)
    if n == 1:
        return w.getvalue()
    deltas = np.diff(v)
    _write_varint(w, zigzag_encode(int(deltas[0])))
    if n == 2:
        return w.getvalue()
    dods = np.diff(deltas)
    for dod in dods.tolist():
        if dod == 0:
            w.write(0, 1)
            continue
        for ctrl, ctrl_bits, payload, half in _DOD_BUCKETS:
            if -half <= dod < half:
                w.write(ctrl, ctrl_bits)
                w.write(dod + half, payload)  # biased, avoids sign handling
                break
        else:
            w.write(0b1111, 4)
            w.write(dod & _U64, 64)
    return w.getvalue()


def _wrap64(x: int) -> int:
    """Wrap a python int to signed-int64 two's-complement semantics —
    matches numpy's mod-2^64 arithmetic used on the encode side."""
    return ((x + (1 << 63)) & _U64) - (1 << 63)


def decode_dod_int64_py(blob: bytes) -> np.ndarray:
    r = BitReader(blob)
    n = _read_varint(r)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.int64)
    cur = r.read(64)
    out[0] = cur
    if n == 1:
        return out.view(np.int64)
    delta = zigzag_decode(_read_varint(r))
    cur = (cur + delta) & _U64
    out[1] = cur
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        else:
            if r.read(1) == 0:
                dod = r.read(7) - 64
            elif r.read(1) == 0:
                dod = r.read(9) - 256
            elif r.read(1) == 0:
                dod = r.read(12) - 2048
            else:
                raw = r.read(64)
                dod = raw - (1 << 64) if raw >= (1 << 63) else raw
        delta = _wrap64(delta + dod)
        cur = (cur + delta) & _U64
        out[i] = cur
    return out.view(np.int64)


def encode_gorilla_f64_py(values: np.ndarray) -> bytes:
    """Gorilla XOR encode a float64 array. Layout:
    varint(count) | raw 64-bit first value | XOR stream."""
    bits = np.asarray(values, dtype=np.float64).view(np.uint64)
    n = len(bits)
    w = BitWriter()
    _write_varint(w, n)
    if n == 0:
        return w.getvalue()
    w.write(int(bits[0]), 64)
    if n == 1:
        return w.getvalue()
    xors = (bits[1:] ^ bits[:-1]).tolist()
    prev_lead, prev_mean = 65, 0  # invalid window → first nonzero xor opens one
    for x in xors:
        if x == 0:
            w.write(0, 1)
            continue
        lead = 64 - int(x).bit_length()
        if lead > 31:
            lead = 31  # 5-bit field cap (per the paper's layout)
        trail = (x & -x).bit_length() - 1
        mean = 64 - lead - trail
        if lead >= prev_lead and prev_lead + prev_mean + trail >= 64 and prev_lead != 65:
            # fits in the previous window: control '10'
            w.write(0b10, 2)
            w.write(x >> (64 - prev_lead - prev_mean), prev_mean)
        else:
            # new window: control '11' + 5b lead + 6b meaningful length
            w.write(0b11, 2)
            w.write(lead, 5)
            w.write(mean, 6)  # mean ≤ 64; 64 encodes as 0 → disambiguated below
            w.write(x >> trail, mean)
            prev_lead, prev_mean = lead, mean
    return w.getvalue()


def decode_gorilla_f64_py(blob: bytes) -> np.ndarray:
    r = BitReader(blob)
    n = _read_varint(r)
    out_bits = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out_bits.view(np.float64)
    prev = r.read(64)
    out_bits[0] = prev
    lead = mean = 0
    for i in range(1, n):
        if r.read(1) == 0:
            out_bits[i] = prev
            continue
        if r.read(1) == 1:
            lead = r.read(5)
            mean = r.read(6)
            if mean == 0:
                mean = 64
        x = r.read(mean) << (64 - lead - mean)
        prev ^= x
        out_bits[i] = prev
    return out_bits.view(np.float64)


# ---------------------------------------------------------------------------
# native dispatch: the compiled C kernels (rust_timeseries_spark/native)
# are byte-identical to the *_py paths above (asserted by
# tests/test_compression.py on every run where a C compiler exists) and
# 20-80x faster -- they lift the documented pure-Python BitWriter
# ceiling (BENCH/BASELINE.md §3a). No compiler -> the *_py paths serve.
# ---------------------------------------------------------------------------

try:  # pragma: no cover - trivially environment-dependent
    from .. import native as _native
    _HAVE_NATIVE = _native.HAVE_NATIVE
except Exception:  # noqa: BLE001
    _HAVE_NATIVE = False

if _HAVE_NATIVE:
    def encode_dod_int64(values: np.ndarray) -> bytes:
        return _native.encode_dod_int64(values)

    def decode_dod_int64(blob: bytes) -> np.ndarray:
        return _native.decode_dod_int64(blob)

    def encode_gorilla_f64(values: np.ndarray) -> bytes:
        return _native.encode_gorilla_f64(values)

    def decode_gorilla_f64(blob: bytes) -> np.ndarray:
        return _native.decode_gorilla_f64(blob)
else:
    encode_dod_int64 = encode_dod_int64_py
    decode_dod_int64 = decode_dod_int64_py
    encode_gorilla_f64 = encode_gorilla_f64_py
    decode_gorilla_f64 = decode_gorilla_f64_py
