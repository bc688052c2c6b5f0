"""Pure-NumPy/stdlib BASELINE JPEG codec (ITU-T T.81 sequential DCT).

No PIL, no C extension: `_parse_jpeg` walks the marker stream (DQT/DHT/
SOF0/DRI/SOS/RSTn) and rejects malformed headers with ValueError;
`_decode_jpeg_batch` then decodes MANY images at once.  Its entropy decode
runs in lockstep, one lane per (image, restart segment) and one Huffman
symbol per lane per NumPy step via a 2^16 peek-LUT (canonical codes,
T.81 §F.2.2); everything after the bitstream is whole-batch NumPy —
dequantize + dezigzag over an (N, 64) coefficient matrix, one einsum IDCT
over every block of every image (the 2-D DCT-III as two 8x8 matrix
products, T.81 §A.3.3), vectorized plane assembly, chroma upsample by
pixel replication, and the JFIF YCbCr->RGB transform.  Supported: 8-bit
baseline (SOF0), grayscale or 3-component color at any sampling factors
(4:4:4, 4:2:0, 4:2:2, ...), restart intervals.  Progressive/extended/
arithmetic/12-bit raise NotImplementedError so `decode_image` can fall
through to PIL where installed.  This is the package's only JPEG
decoder; the scalar decoder in tests/scalar_oracle/media.py is its
byte-identity reference.

`encode_baseline_jpeg` is the fixture twin: a standards-conforming writer
(Annex K default Huffman tables, arbitrary quant tables and sampling
factors) over ALREADY-QUANTIZED zigzag coefficient blocks.  The gate query
(queries.jpeg_decode_stats) feeds it DC-only constant blocks with an
all-ones quant table, for which baseline JPEG is LOSSLESS: a constant
block c has exactly DC = 8*(c-128) and zero AC, and the decoder's IDCT
returns c bit-exactly — so the DuckDB byte-math oracle can check the
whole marker+Huffman+IDCT pipeline value-for-value, the same
analytic-oracle pattern as the PPM/PNG/WAV gates (SURVEY.md §5).

Per the reference's scope (lemire/streamvbyte is a codec library), JPEG is
the engine's own multimodal roadmap — there is no reference parity target.
"""

from __future__ import annotations

import struct
from collections import OrderedDict

import numpy as np

# ---------------------------------------------------------------- constants

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# 8x8 DCT basis M[u, x] = C(u)/2 * cos((2x+1) u pi / 16); orthonormal, so
# FDCT = M f M^T and IDCT = M^T F M (T.81 A.3.3 normalization)
_X = np.arange(8)
_DCT_M = 0.5 * np.cos((2 * _X[None, :] + 1) * _X[:, None] * np.pi / 16)
_DCT_M[0] *= 1 / np.sqrt(2)
# einsum contraction path computed once: per-call greedy planning costs more
# than the 8x8 contraction itself for small images (profiled: ~45% of
# _reconstruct wall on 32x32 payloads)
_IDCT_PATH = np.einsum_path("ux,nuv,vy->nxy", _DCT_M,
                            np.zeros((1, 8, 8)), _DCT_M,
                            optimize="greedy")[0]

# Annex K.3 default Huffman tables as (bits[1..16], huffval) — the tables
# virtually every baseline encoder ships (public spec data, not code)
_STD_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
               list(range(12)))
_STD_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
               list(range(12)))
_STD_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_STD_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


# bytes.translate table mapping byte v -> v & 15 (an AC symbol's size)
_LOW_NIBBLE = bytes(range(16)) * 16

# ------------------------------------------------------- canonical huffman

class _HuffTable:
    """Canonical decode state per T.81 F.2.2.3: MINCODE/MAXCODE/VALPTR per
    code length, built from the DHT (bits, huffval) lists."""

    __slots__ = ("mincode", "maxcode", "valptr", "huffval")

    def __init__(self, bits, huffval):
        self.huffval = list(huffval)
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code, k = 0, 0
        for length in range(1, 17):
            n = bits[length - 1]
            if n:
                self.valptr[length] = k
                self.mincode[length] = code
                code += n
                k += n
                self.maxcode[length] = code - 1
                if code > 1 << length:
                    # over-subscribed lengths: codes no longer fit in
                    # `length` bits, so the code is not prefix-free
                    raise ValueError("over-subscribed JPEG Huffman table")
            code <<= 1

    def codes(self):
        """(symbol -> (code, length)) — the encoder side of the same
        canonical assignment."""
        out = {}
        code, k = 0, 0
        for length in range(1, 17):
            hi = self.maxcode[length]
            if hi >= 0:
                lo = self.mincode[length]
                for c in range(lo, hi + 1):
                    out[self.huffval[k]] = (c, length)
                    k += 1
            code <<= 1
        return out


class PayloadError(ValueError):
    """A decode error of one payload in a batch: ``index`` is that
    payload's position in the batch the kernel was given."""

    def __init__(self, index: int, message: str):
        super().__init__(message)
        self.index = index


# ----------------------------------------------------------------- decoder

def _parse_jpeg(payload):
    """Marker walk up to (and including) SOS -> (data bytes, frame, scan,
    quant tables, huffman tables, restart interval, entropy start pos).
    A malformed header, or a frame declaring more data units than its
    entropy bytes can hold, raises ValueError, an unsupported header
    NotImplementedError."""
    buf = np.asarray(payload, dtype=np.uint8) if not isinstance(
        payload, (bytes, bytearray)) else np.frombuffer(payload, np.uint8)
    data = buf.tobytes()
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}
    frame = None
    restart_interval = 0
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        body = data[pos + 4:pos + 2 + seglen]
        nxt = pos + 2 + seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                if pq == 0:
                    tab = np.frombuffer(body[i:i + 64], np.uint8)
                    i += 64
                else:
                    tab = np.frombuffer(body[i:i + 128], ">u2")
                    i += 128
                qt[tq] = tab.astype(np.int64)
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1:i + 17])
                n = sum(bits)
                huffval = body[i + 17:i + 17 + n]
                if len(bits) < 16 or len(huffval) < n:
                    raise ValueError("truncated JPEG DHT segment")
                # T.81 F.1.2: DC categories stop at 11 and AC sizes at 10,
                # so a code (<= 16 bits) plus its magnitude bits always fit
                # the lockstep decoder's 32-bit peek
                if (tc == 0 and max(huffval, default=0) > 11) or \
                        (tc == 1 and max(huffval.translate(_LOW_NIBBLE),
                                         default=0) > 10):
                    raise ValueError(
                        f"JPEG DHT symbol out of range for table class {tc}")
                huff[(tc, th)] = _HuffTable(bits, huffval)
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            if len(body) < 6:
                raise ValueError("truncated JPEG SOF0 segment")
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG decodes natively")
            if nc not in (1, 3):
                # 2- and 4-component baselines (e.g. Adobe CMYK/YCCK) are
                # legal per T.81 but this decoder's color path assumes
                # grayscale or YCbCr; raise the NotImplementedError that
                # decode_image catches so the PIL fallback engages instead
                # of dying on plane unpacking
                raise NotImplementedError(
                    f"only 1- or 3-component baseline JPEG decodes "
                    f"natively (SOF0 has {nc} components)")
            if len(body) < 6 + 3 * nc:
                raise ValueError("truncated JPEG SOF0 segment")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                              "tq": tq})
            hmax = max(x["h"] for x in comps)
            vmax = max(x["v"] for x in comps)
            for x in comps:
                if x["h"] < 1 or x["v"] < 1 or hmax % x["h"] or \
                        vmax % x["v"]:
                    # non-integer sampling ratios (hmax=3 with h=2, legal
                    # per T.81) would make the np.repeat upsample emit a
                    # wrong-sized plane and garbage pixels; reject loudly
                    # so the PIL fallback engages
                    raise NotImplementedError(
                        f"non-integer chroma sampling ratio "
                        f"({hmax}/{x['h']} x {vmax}/{x['v']}) not "
                        f"decoded natively")
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"only baseline SOF0 decodes natively (SOF marker "
                f"0x{marker:02X}: progressive/extended/arithmetic)")
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("truncated JPEG DRI segment")
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF0")
            if not body or nxt > len(data):
                raise ValueError("truncated JPEG SOS segment")
            ns = body[0]
            if ns < len(frame["comps"]):
                # baseline multi-scan (non-interleaved per-component scans)
                # would need scan-loop plumbing this decoder doesn't have;
                # returning after the first scan would silently emit only
                # the Y plane — raise so decode_image falls through to PIL
                raise NotImplementedError(
                    "only single-scan (interleaved) baseline JPEG decodes "
                    f"natively (scan covers {ns} of "
                    f"{len(frame['comps'])} components)")
            if ns > 4 or len(body) < 1 + 2 * ns or \
                    len(set(body[1:1 + 2 * ns:2])) < ns:
                raise ValueError(f"malformed JPEG SOS segment ({ns} "
                                 "components, each named once)")
            scan = []
            for c in range(ns):
                cs, tt = body[1 + 2 * c:3 + 2 * c]
                comp = next((x for x in frame["comps"] if x["id"] == cs),
                            None)
                if comp is None:
                    raise ValueError(f"JPEG scan names undeclared "
                                     f"component {cs}")
                if (0, tt >> 4) not in huff or (1, tt & 15) not in huff:
                    raise ValueError("JPEG scan references an undefined "
                                     "Huffman table")
                q = qt.get(comp["tq"])
                if q is None or q.size != 64:
                    raise ValueError("JPEG component references an "
                                     "undefined quantization table")
                scan.append((comp, tt >> 4, tt & 15))
            # every data unit costs at least 2 entropy bits (a DC code and
            # an EOB, each >= 1 bit), so a frame declaring more units than
            # 4 per payload byte left is corrupt — past a segment's end a
            # lane reads zero bits, and decode cost would follow the
            # declared frame instead of the payload
            n_units = _scan_layout(frame, scan)["n_units"]
            if n_units > 4 * (len(data) - nxt):
                raise ValueError(
                    f"JPEG frame declares {n_units} data units, more than "
                    f"its {len(data) - nxt} entropy bytes can hold")
            return data, frame, scan, qt, huff, restart_interval, nxt
        pos = nxt
    raise ValueError("JPEG truncated before SOS")


def _entropy_segments(data: bytes, pos: int):
    """Split the entropy stream at RST markers, de-stuffing FF00 -> FF;
    yields bytes segments (one per restart interval).  Runs of 0xFF before
    a marker code are legal FILL bytes (T.81 B.1.1.2) — the segment ends
    at the first fill byte and the marker code is read past the run."""
    arr = np.frombuffer(data, np.uint8, offset=pos)
    ff = np.flatnonzero(arr[:-1] == 0xFF)
    nxt = arr[ff + 1]
    # candidate segment ends: any FF not followed by stuffing (00)
    ends = ff[nxt != 0x00]
    seg_start = 0
    for e in ends:
        if e < seg_start:            # interior of a fill run already consumed
            continue
        yield bytes(arr[seg_start:e]).replace(b"\xff\x00", b"\xff")
        j = int(e)
        while j + 1 < arr.size and arr[j + 1] == 0xFF:
            j += 1                   # skip FF fill bytes
        m = int(arr[j + 1]) if j + 1 < arr.size else 0xD9
        if 0xD0 <= m <= 0xD7:       # RSTn: next segment follows the marker
            seg_start = j + 2
            continue
        return                       # EOI / next real marker: scan over
    yield bytes(arr[seg_start:]).replace(b"\xff\x00", b"\xff")


def _scan_layout(frame, scan) -> dict:
    """Unit geometry of one scan: MCU grid, the per-MCU data-unit order
    (scan comp index + table ids per slot), total unit count, and each
    scan component's coefficient-array size."""
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    if len(scan) == 1:
        # non-interleaved single-component scan covers the component's own
        # block grid, not MCUs (T.81 A.2.2)
        c = scan[0][0]
        bx = -(-(w * c["h"] // hmax) // 8) if len(frame["comps"]) > 1 \
            else -(-w // 8)
        by = -(-(h * c["v"] // vmax) // 8) if len(frame["comps"]) > 1 \
            else -(-h // 8)
        return {"mcux": mcux, "mcuy": mcuy, "per_mcu": 1,
                "order": [(0, scan[0][1], scan[0][2])],
                "n_units": by * bx, "sizes": [by * bx]}
    order = []
    for k, (c, td, ta) in enumerate(scan):
        order.extend([(k, td, ta)] * (c["h"] * c["v"]))
    return {"mcux": mcux, "mcuy": mcuy, "per_mcu": len(order),
            "order": order, "n_units": mcux * mcuy * len(order),
            "sizes": [mcuy * c["v"] * mcux * c["h"] for c, _, _ in scan]}


def _reconstruct(frame, scan, lay, pxs):
    """Plane assembly + chroma upsample + color transform over per-scan-
    component (N, 8, 8) pixel blocks `pxs` (level-shifted and clamped)."""
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    mcux, mcuy = lay["mcux"], lay["mcuy"]
    planes = []
    for k, (c, _, _) in enumerate(scan):
        px = pxs[k]
        if len(scan) == 1 and len(frame["comps"]) == 1:
            bx, by = -(-w // 8), -(-h // 8)
            plane = (px.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3)
                     .reshape(by * 8, bx * 8))
        else:
            ch, cv = c["h"], c["v"]
            bx, by = mcux * ch, mcuy * cv
            # MCU-ordered blocks -> plane raster: index math maps block n
            # to (mcu_y, mcu_x, v, h)
            plane = np.empty((by * 8, bx * 8), np.float64)
            b4 = px.reshape(mcuy, mcux, cv, ch, 8, 8)
            plane = (b4.transpose(0, 2, 4, 1, 3, 5)
                     .reshape(by * 8, bx * 8))
            # crop to the component's own dims, then replicate up
            cw = -(-w * ch // hmax)
            chh = -(-h * cv // vmax)
            plane = plane[:chh, :cw]
            plane = np.repeat(np.repeat(plane, vmax // cv, axis=0),
                              hmax // ch, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        g = planes[0].astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ----------------------------------------------- batched entropy decode

# 16-bit-peek LUT per distinct Huffman table: sym[peek] / ln[peek] give the
# decoded symbol and its code length in ONE gather (canonical codes are
# prefix-free, so every 16-bit window maps to at most one code).  Keyed by
# the table's canonical (code, length) assignment.  LRU-bounded: a corpus
# of JPEGs with per-image optimized tables would otherwise grow executor
# memory ~128 KB/table for process lifetime; typical
# corpora see the four Annex K defaults and never evict.
_PEEK_LUT_CAP = 64

_PEEK_LUTS: "OrderedDict[tuple, tuple[np.ndarray, np.ndarray]]" = \
    OrderedDict()


def _table_key(table: _HuffTable) -> tuple:
    # (huffval, maxcode) pins the canonical assignment without walking
    # codes() on every call (tables are rebuilt per payload)
    return (tuple(table.huffval), tuple(table.maxcode))


def _peek_lut(table: _HuffTable) -> tuple[np.ndarray, np.ndarray]:
    key = _table_key(table)
    hit = _PEEK_LUTS.get(key)
    if hit is not None:
        _PEEK_LUTS.move_to_end(key)
        return hit
    sym = np.zeros(1 << 16, np.uint8)
    ln = np.zeros(1 << 16, np.uint8)   # ln == 0 -> invalid prefix
    # walk the codes in canonical order, not through the symbol-keyed
    # codes() dict: a DHT may repeat a symbol, and every one of its codes
    # must still decode
    for length in range(1, 17):
        span = 1 << (16 - length)
        k = table.valptr[length] - table.mincode[length]
        for code in range(table.mincode[length], table.maxcode[length] + 1):
            ln[code * span:(code + 1) * span] = length
            sym[code * span:(code + 1) * span] = table.huffval[k + code]
    _PEEK_LUTS[key] = (sym, ln)
    if len(_PEEK_LUTS) > _PEEK_LUT_CAP:
        _PEEK_LUTS.popitem(last=False)
    return sym, ln


# zero padding after each lane's de-stuffed segment: past the end of its
# segment a lane reads zero bits (T.81 leaves the tail of a truncated
# segment undefined; zeros are the scalar reference's rule too).  peek32
# clamps its byte index at the segment end, so its 5-byte window reads at
# most 5 pad bytes and never the next lane's stream.
_LANE_PAD = 8


def _entropy_decode_batch(jobs: list[tuple]) -> list[list[np.ndarray]]:
    """Lockstep Huffman decode of many INDEPENDENT entropy streams: one
    lane per (image, restart segment), one decoded SYMBOL per active lane
    per iteration (16-bit peek -> LUT gather -> vectorized magnitude read
    + EXTEND + coefficient scatter).  Python iteration count is the MAX
    symbol count over lanes, not the sum over images — the across-image
    analog of the PNG row-lockstep unfilter and the ADPCM block lanes.

    jobs: (data, pos, scan, huff, ri, lay) per image; returns each
    image's per-scan-component zigzag coefficient arrays in MCU-block
    order.  A corrupt stream raises PayloadError naming its job index."""
    n_img = len(jobs)
    streams: list[bytes] = []
    lane_meta = []            # (img, byte_base, n_units_lane, unit0_abs)
    img_unit_base = np.zeros(n_img, np.int64)
    img_slot_base = []
    slot_k_all, slot_dc_all, slot_ac_all = [], [], []
    # per-BATCH table registry: stack only the tables this batch's slots
    # reference, not the whole process-lifetime cache.
    # Keyed by the CANONICAL table key, not id(sym): a batch referencing
    # more than _PEEK_LUT_CAP distinct tables makes the LRU evict and
    # rebuild mid-batch, and the rebuilt array's fresh id() would stack a
    # duplicate 128 KB LUT copy per re-reference; the
    # canonical key dedups regardless of cache churn.
    batch_tabs: list[tuple[np.ndarray, np.ndarray]] = []
    batch_ids: dict[tuple, int] = {}

    def _lid(table):
        key = _table_key(table)
        i = batch_ids.get(key)
        if i is None:
            i = len(batch_tabs)
            batch_ids[key] = i
            batch_tabs.append(_peek_lut(table))
        return i

    base_bytes = 0
    total_units = 0
    for i, (data, pos, scan, huff, ri, lay) in enumerate(jobs):
        per_mcu, n_units = lay["per_mcu"], lay["n_units"]
        img_unit_base[i] = total_units
        total_units += n_units
        img_slot_base.append(len(slot_k_all))
        for (k, td, ta) in lay["order"]:
            slot_k_all.append(k)
            slot_dc_all.append(_lid(huff[(0, td)]))
            slot_ac_all.append(_lid(huff[(1, ta)]))
        segs = list(_entropy_segments(data, pos))
        # units per lane: one lane per restart interval, none for a frame
        # with no blocks (a zero height or width)
        full = ri * per_mcu
        counts = ([min(full, n_units - u) for u in range(0, n_units, full)]
                  if full else [n_units])
        if len(segs) < len(counts):
            raise PayloadError(
                i, "JPEG entropy stream truncated at restart interval")
        u0 = 0
        for seg, cnt in zip(segs, counts):
            lane_meta.append((i, base_bytes, cnt, u0))
            streams.append(seg)
            base_bytes += len(seg) + _LANE_PAD
            u0 += cnt
    flat = np.zeros(base_bytes, np.uint8)
    for (_, b, _, _), seg in zip(lane_meta, streams):
        flat[b:b + len(seg)] = np.frombuffer(seg, np.uint8)
    flat32 = flat.astype(np.int64)

    L = len(lane_meta)
    img_of = np.array([m[0] for m in lane_meta], np.int64)
    byte_base = np.array([m[1] for m in lane_meta], np.int64)
    units_left = np.array([m[2] for m in lane_meta], np.int64)
    unit_abs = np.array([m[3] for m in lane_meta], np.int64)
    lane_end = np.array([m[1] + len(seg)
                         for m, seg in zip(lane_meta, streams)], np.int64)
    per_mcu_l = np.array([jobs[i][5]["per_mcu"] for i in img_of], np.int64)
    slot_base_l = np.array([img_slot_base[i] for i in img_of], np.int64)
    slot_k = np.array(slot_k_all, np.int64)
    slot_dc = np.array(slot_dc_all, np.int64)
    slot_ac = np.array(slot_ac_all, np.int64)
    sym_all = (np.stack([t[0] for t in batch_tabs]) if batch_tabs
               else np.zeros((1, 1 << 16), np.uint8))
    len_all = (np.stack([t[1] for t in batch_tabs]) if batch_tabs
               else np.zeros((1, 1 << 16), np.uint8))

    pos_bit = byte_base * 8
    preds = np.zeros((L, 4), np.int64)
    jz = np.zeros(L, np.int64)        # zigzag cursor within current block
    phase = np.zeros(L, np.int64)     # 0 = DC next, 1 = AC next
    done = units_left == 0
    # per-lane current slot-derived state
    cur_slot = slot_base_l + unit_abs % per_mcu_l
    cur_k = slot_k[cur_slot]
    cur_dc = slot_dc[cur_slot]
    cur_ac = slot_ac[cur_slot]
    coef_flat = np.zeros(total_units * 64, np.int64)
    unit_glob = img_unit_base[img_of] + unit_abs

    def peek32(idx):
        """32 bits MSB-first at pos_bit[idx] — wide enough for the longest
        Huffman code (16) plus the widest magnitude field (11), so one
        gather serves both the symbol AND its EXTEND bits."""
        b = np.minimum(pos_bit[idx] >> 3, lane_end[idx])
        sh = pos_bit[idx] & 7
        v40 = ((flat32[b] << 32) | (flat32[b + 1] << 24)
               | (flat32[b + 2] << 16) | (flat32[b + 3] << 8)
               | flat32[b + 4])
        return (v40 >> (8 - sh)) & 0xFFFFFFFF

    while not done.all():
        act = np.flatnonzero(~done)
        dcm = phase[act] == 0
        lut = np.where(dcm, cur_dc[act], cur_ac[act])
        pk32 = peek32(act)
        pk = pk32 >> 16
        ln = len_all[lut, pk].astype(np.int64)
        bad = ln == 0
        if bad.any():
            raise PayloadError(int(img_of[act[bad][0]]),
                               "invalid JPEG Huffman code")
        symv = sym_all[lut, pk].astype(np.int64)
        # unified decode: a DC symbol IS (run=0, size=sym) at j=0 with
        # predictor accumulation; EOB/ZRL have size 0 and read no bits.
        # The magnitude field sits right below the code inside the same
        # 32-bit peek — no second bit-gather.
        rr = np.where(dcm, 0, symv >> 4)
        sb = np.where(dcm, symv, symv & 15)
        v = (pk32 >> (32 - ln - sb)) & ((1 << sb) - 1)
        pos_bit[act] += ln + sb
        ext = np.where((sb > 0) & (v < (1 << np.maximum(sb, 1) >> 1)),
                       v - (1 << sb) + 1, v)

        jcur = jz[act]
        jw = np.where(dcm, 0, jcur + rr)
        write = dcm | (sb > 0)
        bad = write & (jw > 63)
        if bad.any():
            raise PayloadError(int(img_of[act[bad][0]]),
                               "JPEG AC coefficient index overflow")
        # DC predictor accumulate (per-lane component slot)
        di = act[dcm]
        pred_new = preds[di, cur_k[di]] + ext[dcm]
        preds[di, cur_k[di]] = pred_new
        value = ext
        value[dcm] = pred_new
        wi = np.flatnonzero(write)
        coef_flat[unit_glob[act[wi]] * 64 + jw[wi]] = value[wi]
        # cursor/state advance
        zrl = ~dcm & (sb == 0) & (rr == 15)
        eob = ~dcm & (sb == 0) & (rr != 15)
        jcur = np.where(dcm, 1,
                        np.where(zrl, jcur + 16,
                                 np.where(sb > 0, jw + 1, jcur)))
        jz[act] = jcur
        phase[act] = 1
        finished = ~dcm & (eob | (jcur >= 64))

        fi = act[finished]
        if fi.size:
            unit_abs[fi] += 1
            units_left[fi] -= 1
            newly = units_left[fi] == 0
            done[fi[newly]] = True
            live = fi[~newly]
            cs = slot_base_l[live] + unit_abs[live] % per_mcu_l[live]
            cur_k[live] = slot_k[cs]
            cur_dc[live] = slot_dc[cs]
            cur_ac[live] = slot_ac[cs]
            unit_glob[live] = img_unit_base[img_of[live]] + unit_abs[live]
            phase[live] = 0
            jz[live] = 0

    # distribute each image's decode-order units into per-component arrays
    # (each component's blocks in MCU order)
    out = []
    coefs2d = coef_flat.reshape(total_units, 64)
    for i, (data, pos, scan, huff, ri, lay) in enumerate(jobs):
        per_mcu, n_units = lay["per_mcu"], lay["n_units"]
        sk = slot_k[img_slot_base[i]:img_slot_base[i] + per_mcu]
        cnt_k = np.bincount(sk, minlength=len(scan))
        prefix = np.zeros(per_mcu, np.int64)
        for k in range(len(scan)):
            m = sk == k
            prefix[m] = np.arange(m.sum())
        units = np.arange(n_units, dtype=np.int64)
        slots = units % per_mcu
        ks = sk[slots]
        idx = (units // per_mcu) * cnt_k[ks] + prefix[slots]
        img_coefs = coefs2d[img_unit_base[i]:img_unit_base[i] + n_units]
        coefs = [np.zeros((sz, 64), np.int64) for sz in lay["sizes"]]
        for k in range(len(scan)):
            m = ks == k
            coefs[k][idx[m]] = img_coefs[m]
        out.append(coefs)
    return out


def _decode_jpeg_batch(parsed: list) -> list[np.ndarray]:
    """Decode `_parse_jpeg` results to (h, w, 3) uint8 RGB arrays
    (grayscale replicated, matching PIL convert('RGB')): the lockstep
    entropy decode of every image, then ONE dequantize + IDCT + level
    shift over every block of every image and component (per-image einsum
    calls cost more in dispatch than in math for corpus-sized images),
    then per-image plane assembly.  A corrupt stream raises PayloadError
    naming its position in `parsed`."""
    lays = [_scan_layout(frame, scan) for (_, frame, scan, *_) in parsed]
    all_coefs = _entropy_decode_batch(
        [(data, pos, scan, huff, ri, lay) for
         (data, _, scan, _, huff, ri, pos), lay in zip(parsed, lays)])
    dz_parts, spans, nblk = [], [], 0
    for (_, _, scan, qt, *_), coefs in zip(parsed, all_coefs):
        img_spans = []
        for k, (c, _, _) in enumerate(scan):
            dz = np.zeros((coefs[k].shape[0], 64), np.float64)
            dz[:, ZIGZAG] = coefs[k] * qt[c["tq"]][None, :]
            img_spans.append((nblk, dz.shape[0]))
            nblk += dz.shape[0]
            dz_parts.append(dz)
        spans.append(img_spans)
    blocks = np.concatenate(dz_parts).reshape(-1, 8, 8)
    px_all = np.einsum("ux,nuv,vy->nxy", _DCT_M, blocks, _DCT_M,
                       optimize=_IDCT_PATH)
    px_all = np.clip(np.round(px_all) + 128, 0, 255)
    return [_reconstruct(frame, scan, lay,
                         [px_all[b:b + n] for b, n in img_spans])
            for (_, frame, scan, *_), lay, img_spans
            in zip(parsed, lays, spans)]


# ----------------------------------------------------------------- encoder

class _BitWriter:
    __slots__ = ("out", "acc", "n")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, nbits: int):
        self.acc = (self.acc << nbits) | (code & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-fill to byte boundary
        return bytes(self.out)


def _dht_segment(tc, th, bits, huffval) -> bytes:
    body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(huffval)
    return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body


def encode_baseline_jpeg(comps, h: int, w: int,
                         quant: dict[int, np.ndarray],
                         restart_interval: int = 0) -> bytes:
    """Standards-conforming baseline JPEG writer over ALREADY-QUANTIZED
    zigzag coefficient blocks (the fixture twin of the decoder).

    comps: list of dicts {id, h, v, tq, blocks} where blocks is
    (blocks_y, blocks_x, 64) int — the component's quantized zigzag
    coefficients on its own padded block grid (blocks_y = mcuy*v,
    blocks_x = mcux*h for multi-component; the plain ceil grid for
    grayscale).  quant: table id -> 64 zigzag entries.  Luminance Annex K
    Huffman tables encode component 0, chrominance the rest."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    out = bytearray(b"\xff\xd8")
    for tq, tab in sorted(quant.items()):
        tab = np.asarray(tab, np.int64)
        if (tab < 1).any() or (tab > 255).any():
            # wrapping mod 256 would silently dequantize wrong downstream;
            # the 16-bit Pq=1 DQT form is not emitted by this writer
            raise ValueError(
                f"quant table {tq} entries must be in [1, 255] "
                "(this writer emits only the 8-bit Pq=0 DQT form)")
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) \
            + bytes(tab.astype(np.uint8).tolist())
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for c in comps:
        sof += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    out += _dht_segment(0, 0, *_STD_DC_LUM)
    out += _dht_segment(1, 0, *_STD_AC_LUM)
    if len(comps) > 1:
        out += _dht_segment(0, 1, *_STD_DC_CHR)
        out += _dht_segment(1, 1, *_STD_AC_CHR)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([len(comps)])
    for k, c in enumerate(comps):
        t = 0 if k == 0 else 1
        sos += bytes([c["id"], (t << 4) | t])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_codes = [_HuffTable(*_STD_DC_LUM).codes(),
                _HuffTable(*_STD_DC_CHR).codes()]
    ac_codes = [_HuffTable(*_STD_AC_LUM).codes(),
                _HuffTable(*_STD_AC_CHR).codes()]
    wtr = _BitWriter()
    pred = [0] * len(comps)
    entropy = bytearray()
    rst_n = 0

    def maybe_restart(mcu_idx):
        nonlocal wtr, rst_n
        if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
            entropy.extend(wtr.flush())
            entropy.extend(bytes([0xFF, 0xD0 + (rst_n % 8)]))
            rst_n += 1
            wtr = _BitWriter()
            pred[:] = [0] * len(comps)

    def put_block(k, blk):
        t = 0 if k == 0 else 1
        diff = int(blk[0]) - pred[k]
        pred[k] = int(blk[0])
        s = int(abs(diff)).bit_length()
        code, ln = dc_codes[t][s]
        wtr.write(code, ln)
        if s:
            wtr.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        last_nz = int(np.max(np.nonzero(blk)[0])) if np.any(blk[1:]) else 0
        for j in range(1, 64):
            v = int(blk[j])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[t][0xF0]
                wtr.write(code, ln)
                run -= 16
            s = int(abs(v)).bit_length()
            code, ln = ac_codes[t][(run << 4) | s]
            wtr.write(code, ln)
            wtr.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
            if j == last_nz:
                break
        if last_nz < 63:
            code, ln = ac_codes[t][0x00]
            wtr.write(code, ln)

    if len(comps) == 1:
        blocks = comps[0]["blocks"]
        m = 0
        for by in range(blocks.shape[0]):
            for bx in range(blocks.shape[1]):
                maybe_restart(m)
                put_block(0, blocks[by, bx])
                m += 1
    else:
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart(my * mcux + mx)
                for k, c in enumerate(comps):
                    for v in range(c["v"]):
                        for hh in range(c["h"]):
                            put_block(k, c["blocks"][my * c["v"] + v,
                                                     mx * c["h"] + hh])
    entropy.extend(wtr.flush())
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def encode_gray_blocks_jpeg(vals: np.ndarray, width_blocks: int) -> bytes:
    """Grayscale baseline JPEG of CONSTANT 8x8 blocks (one per byte of
    `vals`, `width_blocks` per row; trailing partial row dropped by the
    caller) with an all-ones quant table — the LOSSLESS fixture shape the
    gate query uses: block value c stores exactly DC = 8*(c-128), and
    decode returns c bit-exactly."""
    vals = np.asarray(vals, np.int64)
    hb = vals.size // width_blocks
    vals = vals[:hb * width_blocks]
    blocks = np.zeros((hb, width_blocks, 64), np.int64)
    blocks[:, :, 0] = 8 * (vals.reshape(hb, width_blocks) - 128)
    return encode_baseline_jpeg(
        [{"id": 1, "h": 1, "v": 1, "tq": 0, "blocks": blocks}],
        h=hb * 8, w=width_blocks * 8, quant={0: np.ones(64, np.int64)})
