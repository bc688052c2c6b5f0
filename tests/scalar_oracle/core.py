"""Vectorized NumPy StreamVByte codec (schemes 1234, 0124, delta, zigzag).

From-scratch reimplementation of the byte format specified in the reference
README (``/root/reference/README.md:207-244``): a compressed block is
``ceil(n/4)`` control bytes followed by little-endian data bytes; each control
byte holds four 2-bit codes packed LSB-first.  Per-value byte lengths:

* scheme 1234 (default): ``bytes = 1 + (v>0xFF) + (v>0xFFFF) + (v>0xFFFFFF)``
  (reference ``src/streamvbyte_encode.c:74``), code = bytes - 1.
* scheme 0124: ``bytes = (v>0) + (v>0xFF) + 2*(v>0xFFFF)``
  (``src/streamvbyte_encode.c:85``); code->bytes map is ``(1<<code)>>1``
  (``src/streamvbyte_0124_decode.c:211``).
* delta: encode ``d[i] = in[i] - in[i-1]`` with ``d[0] = in[0] - prev`` under
  wrap-around uint32 arithmetic, then scheme 1234
  (``src/streamvbytedelta_encode.c:54-55``); decode is the running prefix sum
  (``src/streamvbytedelta_decode.c:49-52``).
* zigzag: ``enc(v) = (v+v) ^ (v>>31)``, ``dec(u) = (u>>1) ^ -(u&1)``
  (``src/streamvbyte_zigzag.c:4-6,21-23``).

The reference executes these per 4/8-value SIMD group; here every step is a
whole-array NumPy expression (the batch *is* the vector), which is the
idiomatic shape for an Arrow-batched Spark UDF.  No code is copied from the
reference: the format rules above are re-derived from the public spec and the
kernels are ordinary gather/scatter array programs (SURVEY.md SS4.3).

All encoders take ``np.uint32`` arrays and return ``bytes``; all decoders take
``bytes``-like + out-of-band ``n`` (the stream is not self-describing,
``README.md:200-205``) and return ``np.uint32`` arrays.  No padding is ever
written (the reference excludes padding from ``streamvbyte_compressedbytes``,
``include/streamvbyte.h:44-47``).
"""

from __future__ import annotations

import sys

import numpy as np

# explicit raise, not assert: PYTHONOPTIMIZE strips asserts, and this is a
# correctness guard (byte-viewed uint32 wires) — mirrors session.py's check
if sys.byteorder != "little":
    raise RuntimeError("streamvbyte_spark requires a little-endian host")

_SHIFTS = np.array([0, 2, 4, 6], dtype=np.uint8)
_PLACE = np.array([1, 4, 16, 64], dtype=np.uint8)  # 2-bit codes packed LSB-first
_BYTE_SHIFT = (np.uint32(8) * np.arange(4, dtype=np.uint32))  # 0,8,16,24
# 0124 scheme: code -> data bytes = (1<<code)>>1 -> 0,1,2,4
_LEN_0124 = np.array([0, 1, 2, 4], dtype=np.int64)


def _as_u32(values) -> np.ndarray:
    v = np.asarray(values)
    if v.dtype == np.uint32:
        return np.ascontiguousarray(v)
    if v.dtype.kind in "iu":
        return np.ascontiguousarray(v.astype(np.int64).astype(np.uint32))
    raise TypeError(f"expected integer array, got dtype={v.dtype}")


def _lens_1234(v: np.ndarray) -> np.ndarray:
    """Per-value data-byte counts, scheme 1234 (1..4), as uint8.

    Bool arrays are uint8 under the hood, so .view(np.uint8) makes the whole
    classification allocation-light (no int64 upcasts); callers needing sums
    pass dtype=int64 to cumsum/sum."""
    return (
        np.uint8(1)
        + (v > np.uint32(0xFF)).view(np.uint8)
        + (v > np.uint32(0xFFFF)).view(np.uint8)
        + (v > np.uint32(0xFFFFFF)).view(np.uint8)
    )


def _lens_0124(v: np.ndarray) -> np.ndarray:
    """Per-value data-byte counts, scheme 0124 (0,1,2,4), as uint8."""
    return (
        (v > np.uint32(0)).view(np.uint8)
        + (v > np.uint32(0xFF)).view(np.uint8)
        + np.uint8(2) * (v > np.uint32(0xFFFF)).view(np.uint8)
    )


def _pack_controls(codes: np.ndarray, n: int) -> np.ndarray:
    """Pack per-value 2-bit codes into ceil(n/4) control bytes, LSB-first.

    Unused slots of a partial final group are zero (README.md:244).
    """
    key_len = (n + 3) // 4
    padded = np.zeros(key_len * 4, dtype=np.uint8)
    padded[:n] = codes
    return (padded.reshape(-1, 4).astype(np.uint16) * _PLACE).sum(axis=1).astype(np.uint8)


def _unpack_codes(ctrl: np.ndarray, n: int) -> np.ndarray:
    """Inverse of _pack_controls: first n 2-bit codes from the control bytes."""
    return ((ctrl[:, None] >> _SHIFTS) & np.uint8(3)).reshape(-1)[:n]


def _scatter_data(v: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Gather the low `lens[i]` little-endian bytes of each value, concatenated."""
    n = v.size
    ends = np.cumsum(lens, dtype=np.int64)
    total = int(ends[-1]) if n else 0
    starts = ends - lens
    val_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
    byte_idx = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
    le_bytes = v.view(np.uint8).reshape(n, 4)
    return le_bytes[val_idx, byte_idx]


def _gather_values(data: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Reassemble uint32 values from variable-length little-endian byte runs."""
    n = lens.size
    ends = np.cumsum(lens)
    starts = ends - lens
    idx = starts[:, None] + np.arange(4, dtype=np.int64)
    valid = np.arange(4, dtype=np.int64) < lens[:, None]
    np.clip(idx, 0, max(data.size - 1, 0), out=idx)
    if data.size == 0:
        return np.zeros(n, dtype=np.uint32)
    b = data[idx].astype(np.uint32)
    b[~valid] = 0
    return ((b << _BYTE_SHIFT[None, :]).sum(axis=1, dtype=np.uint64) & np.uint64(0xFFFFFFFF)).astype(np.uint32)


# ---------------------------------------------------------------- scheme 1234

def encode(values) -> bytes:
    """StreamVByte encode, default 1234 scheme. Mirrors streamvbyte_encode
    (include/streamvbyte.h:23); n=0 encodes to 0 bytes."""
    v = _as_u32(values)
    n = v.size
    if n == 0:
        return b""
    lens = _lens_1234(v)
    ctrl = _pack_controls((lens - 1).astype(np.uint8), n)
    data = _scatter_data(v, lens)
    return ctrl.tobytes() + data.tobytes()


def decode(buf, n: int) -> np.ndarray:
    """StreamVByte decode, default scheme. Mirrors streamvbyte_decode
    (include/streamvbyte.h:64): reads exactly the bytes encode() produced."""
    if n == 0:
        return np.zeros(0, dtype=np.uint32)
    raw = np.frombuffer(buf, dtype=np.uint8)
    key_len = (n + 3) // 4
    codes = _unpack_codes(raw[:key_len], n)
    lens = codes.astype(np.int64) + 1
    return _gather_values(raw[key_len:key_len + int(lens.sum())], lens)


def compressed_size(values) -> int:
    """Exact encoded size without encoding (streamvbyte_compressedbytes,
    src/streamvbyte_encode.c:91-101): ceil(n/4) + sum(per-value bytes)."""
    v = _as_u32(values)
    n = v.size
    if n == 0:
        return 0
    return (n + 3) // 4 + int(_lens_1234(v).sum(dtype=np.int64))


def max_compressed_size(n: int) -> int:
    """Worst-case bound incl. decode padding (include/streamvbyte.h:33-39)."""
    return (n + 3) // 4 + 4 * n + 16


def validate(buf, n: int) -> bool:
    """streamvbyte_validate_stream (src/streamvbyte_decode.c:89-136):
    stream of len(buf) bytes is safe to decode into n values."""
    return _validate(buf, n, scheme_0124=False)


# ---------------------------------------------------------------- scheme 0124

def encode_0124(values) -> bytes:
    """0124 scheme: zeros cost 0 data bytes; code 3 means 4 bytes
    (src/streamvbyte_0124_encode.c)."""
    v = _as_u32(values)
    n = v.size
    if n == 0:
        return b""
    lens = _lens_0124(v)
    codes = np.where(lens == 4, 3, lens).astype(np.uint8)
    ctrl = _pack_controls(codes, n)
    data = _scatter_data(v, lens)
    return ctrl.tobytes() + data.tobytes()


def decode_0124(buf, n: int) -> np.ndarray:
    """Inverse of encode_0124 (streamvbyte_decode_0124)."""
    if n == 0:
        return np.zeros(0, dtype=np.uint32)
    raw = np.frombuffer(buf, dtype=np.uint8)
    key_len = (n + 3) // 4
    codes = _unpack_codes(raw[:key_len], n)
    lens = _LEN_0124[codes]
    return _gather_values(raw[key_len:key_len + int(lens.sum())], lens)


def compressed_size_0124(values) -> int:
    """streamvbyte_compressedbytes_0124 (src/streamvbyte_encode.c:103-108)."""
    v = _as_u32(values)
    n = v.size
    if n == 0:
        return 0
    return (n + 3) // 4 + int(_lens_0124(v).sum(dtype=np.int64))


def validate_0124(buf, n: int) -> bool:
    """streamvbyte_validate_stream_0124 (src/streamvbyte_0124_decode.c:186-229)."""
    return _validate(buf, n, scheme_0124=True)


def _validate(buf, n: int, scheme_0124: bool) -> bool:
    in_len = len(buf)
    if in_len == 0 or n == 0:
        # reference: `return inCount == outCount` for the empty cases
        return in_len == n
    key_len = (n + 3) // 4
    if key_len > in_len:
        return False
    raw = np.frombuffer(buf, dtype=np.uint8, count=key_len)
    codes = _unpack_codes(raw, n).astype(np.int64)
    total = int((_LEN_0124[codes] if scheme_0124 else codes + 1).sum())
    return total == in_len - key_len


# --------------------------------------------------------------------- delta

def delta_encode(values, prev: int = 0) -> bytes:
    """streamvbyte_delta_encode (include/streamvbytedelta.h:19): wrap-around
    uint32 differences vs `prev`, then scheme 1234."""
    v = _as_u32(values)
    if v.size == 0:
        return b""
    shifted = np.empty_like(v)
    shifted[0] = np.uint32(prev & 0xFFFFFFFF)
    shifted[1:] = v[:-1]
    return encode(v - shifted)  # uint32 wraparound subtraction


def delta_decode(buf, n: int, prev: int = 0) -> np.ndarray:
    """streamvbyte_delta_decode: decode then running prefix sum from prev
    (src/streamvbytedelta_decode.c:49-52); np.cumsum is the vectorized analog
    of the SIMD prefix sum svb_write_sse41_d1."""
    d = decode(buf, n)
    if n == 0:
        return d
    out = np.cumsum(d, dtype=np.uint32)
    out += np.uint32(prev & 0xFFFFFFFF)
    return out


def delta_compressed_size(values, prev: int = 0) -> int:
    v = _as_u32(values)
    if v.size == 0:
        return 0
    shifted = np.empty_like(v)
    shifted[0] = np.uint32(prev & 0xFFFFFFFF)
    shifted[1:] = v[:-1]
    return compressed_size(v - shifted)


# -------------------------------------------------------------------- zigzag

def zigzag_encode(values) -> np.ndarray:
    """Signed->unsigned bijection (src/streamvbyte_zigzag.c:4-6):
    enc(v) = (v+v) ^ (v>>31) in wrap-around arithmetic."""
    v = np.ascontiguousarray(np.asarray(values, dtype=np.int32))
    u = v.view(np.uint32)
    sign = (v >> np.int32(31)).view(np.uint32)  # arithmetic shift: 0 or 0xFFFFFFFF
    return ((u << np.uint32(1)) ^ sign).astype(np.uint32)


def zigzag_decode(values) -> np.ndarray:
    """dec(u) = (u>>1) ^ -(u&1) (src/streamvbyte_zigzag.c:21-23)."""
    u = _as_u32(values)
    neg = (np.uint32(0) - (u & np.uint32(1)))
    return ((u >> np.uint32(1)) ^ neg).view(np.int32).copy()


def zigzag_delta_encode(values, prev: int = 0) -> np.ndarray:
    """Diff-then-zigzag composition (src/streamvbyte_zigzag.c:13-18)."""
    v = np.ascontiguousarray(np.asarray(values, dtype=np.int32))
    if v.size == 0:
        return np.zeros(0, dtype=np.uint32)
    u = v.view(np.uint32)
    shifted = np.empty_like(u)
    shifted[0] = np.uint32(prev & 0xFFFFFFFF)
    shifted[1:] = u[:-1]
    return zigzag_encode((u - shifted).view(np.int32))


def zigzag_delta_decode(values, prev: int = 0) -> np.ndarray:
    """Inverse: unzigzag then prefix-sum (src/streamvbyte_zigzag.c:32-38)."""
    d = zigzag_decode(_as_u32(values)).view(np.uint32)
    if d.size == 0:
        return d.view(np.int32)
    out = np.cumsum(d, dtype=np.uint32)
    out += np.uint32(prev & 0xFFFFFFFF)
    return out.view(np.int32).copy()


# ---------------------------------------------------- stream-level composites

def encode_zigzag_stream(values) -> bytes:
    """int32 array -> zigzag -> scheme 1234 stream (codec name 'svb_zigzag')."""
    v = np.ascontiguousarray(np.asarray(values, dtype=np.int32))
    return encode(zigzag_encode(v))


def decode_zigzag_stream(buf, n: int) -> np.ndarray:
    return zigzag_decode(decode(buf, n))


def encode_zzdelta_stream(values, prev: int = 0) -> bytes:
    """int32 array -> delta -> zigzag -> scheme 1234 ('svb_zz_delta')."""
    v = np.ascontiguousarray(np.asarray(values, dtype=np.int32))
    return encode(zigzag_delta_encode(v, prev))


def decode_zzdelta_stream(buf, n: int, prev: int = 0) -> np.ndarray:
    return zigzag_delta_decode(decode(buf, n), prev)
