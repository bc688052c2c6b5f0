"""Scalar JPEG and PNG decoders, one image at a time.

The package ships only the batch image kernels (the lockstep JPEG entropy
machine + one batched IDCT, and the row-lockstep PNG unfilter) behind
``streamvbyte_spark.operators.multimodal._decode_image_batch``.  These are
the independent second implementations the byte-identity and corruption
fuzz tests compare them against:

* JPEG: an MSB-first bit reader walks the Huffman codes one bit at a time
  (T.81 F.2.2.3 DECODE with MINCODE/MAXCODE/VALPTR), EXTENDs the magnitude
  bits (F.2.2.1) and runs a per-image IDCT.  Past the end of a segment the
  reader yields zero bytes.
* PNG: each row is reversed on its own (spec §6), Average/Paeth one pixel
  at a time.

Both share the package's header parsers (``_parse_jpeg``, ``_png_parse``),
scan geometry (``_scan_layout``) and JPEG plane assembly
(``_reconstruct``), so they accept and reject exactly the payloads the
package does; what they replace is the entropy decode, the IDCT and the
unfilter.
"""

from __future__ import annotations

import numpy as np

from streamvbyte_spark.operators.jpeg import (_DCT_M, _IDCT_PATH, ZIGZAG,
                                              _entropy_segments, _HuffTable,
                                              _parse_jpeg, _reconstruct,
                                              _scan_layout)
from streamvbyte_spark.operators.multimodal import _png_parse

# ------------------------------------------------------------------- JPEG


class _BitReader:
    """MSB-first bit reader over a DE-STUFFED entropy segment."""

    __slots__ = ("data", "pos", "acc", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            b = self.data[self.pos] if self.pos < len(self.data) else 0
            self.pos += 1
            self.acc = ((self.acc << 8) | b) & 0xFFFFFFFFFFFF
            self.n += 8
        self.n -= nbits
        return (self.acc >> self.n) & ((1 << nbits) - 1)

    def decode(self, table: _HuffTable) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read(1)
            if code <= table.maxcode[length]:
                return table.huffval[table.valptr[length]
                                     + code - table.mincode[length]]
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: s-bit magnitude v -> signed value."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(payload) -> np.ndarray:
    """Baseline JPEG -> (h, w, 3) uint8 RGB (grayscale replicated, matching
    PIL convert('RGB') for single-component images)."""
    data, frame, scan, qt, huff, ri, pos = _parse_jpeg(payload)
    return _decode_scan(data, pos, frame, scan, qt, huff, ri)


def _decode_scan(data, pos, frame, scan, qt, huff, ri):
    lay = _scan_layout(frame, scan)
    coefs = _entropy_decode(data, pos, scan, huff, ri, lay)
    pxs = [_idct_px(coefs[k], qt[c["tq"]]) for k, (c, _, _) in enumerate(scan)]
    return _reconstruct(frame, scan, lay, pxs)


def _entropy_decode(data, pos, scan, huff, ri, lay):
    """Per-symbol Huffman scan decode -> per-scan-component (N, 64)
    zigzag coefficient arrays in MCU-block order."""
    order, per_mcu = lay["order"], lay["per_mcu"]
    n_units = lay["n_units"]
    coefs = [np.zeros((sz, 64), np.int64) for sz in lay["sizes"]]

    segments = _entropy_segments(data, pos)

    def next_segment():
        # a truncated/corrupt restart-interval stream must raise a decode
        # error, not leak the generator's bare StopIteration
        try:
            return next(segments)
        except StopIteration:
            raise ValueError(
                "JPEG entropy stream truncated at restart interval") \
                from None

    reader = _BitReader(next_segment())
    pred = [0] * len(scan)
    unit = 0
    mcu_in_seg = 0
    blk_idx = [0] * len(scan)
    while unit < n_units:
        if ri and mcu_in_seg == ri * per_mcu:
            reader = _BitReader(next_segment())
            pred = [0] * len(scan)
            mcu_in_seg = 0
        k, td, ta = order[unit % per_mcu] if len(scan) > 1 else order[0]
        dct, act = huff[(0, td)], huff[(1, ta)]
        blk = coefs[k]
        i = blk_idx[k]
        s = reader.decode(dct)
        diff = _extend(reader.read(s), s) if s else 0
        pred[k] += diff
        blk[i, 0] = pred[k]
        j = 1
        while j < 64:
            rs = reader.decode(act)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    j += 16
                    continue
                break                # EOB
            j += r
            if j > 63:
                raise ValueError("JPEG AC coefficient index overflow")
            blk[i, j] = _extend(reader.read(s), s)
            j += 1
        blk_idx[k] += 1
        unit += 1
        mcu_in_seg += 1
    return coefs


def _idct_px(coefs_k: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Dequantize + dezigzag + IDCT + level shift/clamp for one (N, 64)
    zigzag coefficient matrix -> (N, 8, 8) pixel blocks."""
    dz = np.zeros((coefs_k.shape[0], 64), np.float64)
    dz[:, ZIGZAG] = coefs_k * q[None, :]
    blocks = dz.reshape(-1, 8, 8)
    px = np.einsum("ux,nuv,vy->nxy", _DCT_M, blocks, _DCT_M,
                   optimize=_IDCT_PATH)
    return np.clip(np.round(px) + 128, 0, 255)


# -------------------------------------------------------------------- PNG


def decode_png(payload) -> np.ndarray:
    """8-bit RGB/RGBA non-interlaced PNG -> HxWx3 uint8 (alpha dropped,
    matching PIL's ``convert("RGB")`` for fully-opaque images)."""
    raw, h, w, nch = _png_parse(payload)
    px = _png_unfilter(raw, h, w * nch, nch).reshape(h, w, nch)
    return px[:, :, :3].copy()


def _png_unfilter(raw: np.ndarray, h: int, stride: int,
                  bpp: int) -> np.ndarray:
    """Reverse PNG row filters (spec §6): raw is h*(1+stride) inflated
    bytes (leading filter-type byte per row); returns (h, stride) uint8.

    Filter math per byte with a = left recon (bpp back), b = up recon,
    c = up-left recon.  None/Up are fully vectorized; Sub is a per-lane
    cumulative sum; Average/Paeth carry a sequential left dependency, so
    they walk the row one PIXEL at a time with the bpp byte lanes
    vectorized (width iterations, not width*bpp)."""
    out = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    pos = 0
    for r in range(h):
        ft = int(raw[pos])
        row = raw[pos + 1:pos + 1 + stride].astype(np.int32)
        pos += 1 + stride
        if ft == 0:
            rec = row
        elif ft == 1:  # Sub: recon[i] = filt[i] + recon[i-bpp]
            rec = np.empty_like(row)
            for lane in range(bpp):
                rec[lane::bpp] = np.cumsum(row[lane::bpp]) % 256
        elif ft == 2:  # Up
            rec = (row + prev) % 256
        elif ft == 3:  # Average
            rec = np.empty_like(row)
            left = np.zeros(bpp, np.int32)
            for j in range(0, stride, bpp):
                rec[j:j + bpp] = (row[j:j + bpp]
                                  + ((left + prev[j:j + bpp]) >> 1)) % 256
                left = rec[j:j + bpp]
        elif ft == 4:  # Paeth
            rec = np.empty_like(row)
            left = np.zeros(bpp, np.int32)
            upleft = np.zeros(bpp, np.int32)
            for j in range(0, stride, bpp):
                b = prev[j:j + bpp]
                p = left + b - upleft
                pa = np.abs(p - left)
                pb = np.abs(p - b)
                pc = np.abs(p - upleft)
                pred = np.where((pa <= pb) & (pa <= pc), left,
                                np.where(pb <= pc, b, upleft))
                rec[j:j + bpp] = (row[j:j + bpp] + pred) % 256
                left, upleft = rec[j:j + bpp], b
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[r] = rec
        prev = rec
    return out
