"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata struct;
decode / feature-extraction run as Arrow-batched ``mapInArrow`` stages.

Decoders, all pure NumPy + stdlib with no external deps: PPM (P6) and
BMP (BI_RGB 24/32-bit) images, PNG (8-bit RGB/RGBA, non-interlaced:
zlib inflate + all five row filters reversed), baseline JPEG
(operators/jpeg.py), WAV audio (RIFF PCM 8/16-bit and IMA ADPCM), plus a
nearest-neighbor ``resize_image``.  Images decode through one batch
dispatcher, ``_decode_image_batch``; ``decode_image`` is its one-payload
form.  Other formats and shapes (progressive JPEG, paletted PNG, MP3, ...)
need PIL/soundfile and raise ``NotImplementedError`` unless the optional
dependency imports.  The Spark-level feature/frame queries use a
deterministic fake payload so the batch plumbing — schema, batching,
partitioning, UDF signatures — stays oracle-checkable end-to-end.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..arrow_rows import binary_array, binary_flat, kernel_schema, list_array
from ..session import fanout_scan

MEDIA_SCHEMA = ("doc_id string, media_type string, payload binary, "
                "meta struct<n_bytes: int, fmt: string>")
FEATURE_SCHEMA = "doc_id string, n_bytes bigint, byte_sum bigint, feature array<float>"
PAYLOAD_SCHEMA = "doc_id string, payload binary"


def synth_media_table(docs: DataFrame) -> DataFrame:
    """Deterministic fake media: payload = utf-8 bytes of the text column
    (stands in for image bytes); metadata struct carries size + format."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("image/fake").alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.length("text").cast("int").alias("n_bytes"),
            F.lit("fake").alias("fmt"),
        ).alias("meta"),
    )


def _as_u8(payload) -> np.ndarray:
    """Payload as a uint8 array WITHOUT copying when it's already one (the
    batched stats tables pass zero-copy views of the Arrow flat buffer, so a
    bytes() materialization per row would double the memory traffic)."""
    if isinstance(payload, np.ndarray) and payload.dtype == np.uint8:
        return payload
    return np.frombuffer(bytes(payload), np.uint8)


def _ppm_header(buf: bytes) -> tuple[int, int, int, int]:
    """Parse a P6 header (whitespace/#-comment tolerant); returns
    (width, height, maxval, pixel_data_start)."""
    toks, i = [], 2
    while len(toks) < 3:
        while i < len(buf) and buf[i:i + 1].isspace():
            i += 1
        if buf[i:i + 1] == b"#":
            i = buf.index(b"\n", i) + 1
            continue
        j = i
        while j < len(buf) and not buf[j:j + 1].isspace():
            j += 1
        toks.append(int(buf[i:j]))
        i = j
    return toks[0], toks[1], toks[2], i + 1  # exactly one ws after maxval


def decode_image(payload) -> np.ndarray:
    """Decode one image payload (bytes or a uint8 array view) to an HxWx3
    uint8 RGB array: a one-payload call of `_decode_image_batch`."""
    buf = _as_u8(payload)
    return _decode_image_batch(buf, np.array([0, buf.size]))[0]


def _decode_per_payload(buf: np.ndarray) -> np.ndarray:
    """The formats no batch kernel decodes, one payload at a time: PPM P6
    (maxval 255) and BMP BI_RGB 24/32-bit (bottom-up or top-down, row
    padding honored) in pure NumPy — only the (tiny) header region is
    materialized as Python bytes, the pixel body stays a NumPy view until
    the final output copy — and everything else through PIL if available,
    else NotImplementedError."""
    magic = buf[:2].tobytes()
    if magic == b"P6":
        # headers are a few dozen text bytes; cap the bytes copy
        head = buf[:min(buf.size, 4096)].tobytes()
        w, h, maxval, start = _ppm_header(head)
        if maxval != 255:
            raise NotImplementedError("16-bit PPM not supported")
        px = buf[start:start + w * h * 3]
        return px.reshape(h, w, 3).copy()
    if magic == b"BM":
        head = buf[:54].tobytes()
        off = int.from_bytes(head[10:14], "little")
        width = int.from_bytes(head[18:22], "little", signed=True)
        height = int.from_bytes(head[22:26], "little", signed=True)
        bpp = int.from_bytes(head[28:30], "little")
        compression = int.from_bytes(head[30:34], "little")
        if compression != 0 or bpp not in (24, 32):
            raise NotImplementedError(
                f"only uncompressed 24/32-bit BMP (got bpp={bpp}, "
                f"compression={compression})")
        nch = bpp // 8
        stride = (width * nch + 3) // 4 * 4  # rows pad to 4 bytes
        rows = abs(height)
        px = buf[off:off + stride * rows]
        px = px.reshape(rows, stride)[:, :width * nch].reshape(rows, width, nch)
        if height > 0:
            px = px[::-1]  # bottom-up storage
        return px[:, :, 2::-1].copy()  # BGR(A) -> RGB
    try:
        import io
        from PIL import Image
        return np.asarray(Image.open(io.BytesIO(buf.tobytes())).convert("RGB"))
    except ImportError as e:
        raise NotImplementedError(
            "compressed image formats need PIL; install pillow on the "
            "cluster image (PPM/BMP/PNG/baseline JPEG decode natively)") \
            from e


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# pixel-count threshold above which a PNG prefers PIL (C-speed for every
# filter) when installed: the row-lockstep unfilter still walks Average/
# Paeth rows one pixel at a time (vectorized across images, not within a
# row), so a lone large PNG costs ~1-3 s at 2^18 px (512x512, ~0.8 MB of
# RGB rows), the point where the NumPy path stops being interactive
_PNG_PIL_ROUTE_PIXELS = 1 << 18


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401
        return True
    except ImportError:
        return False


def _png_unfilter_batch(raws: list[np.ndarray], hs: list[int],
                        strides: list[int], bpp: int) -> list[np.ndarray]:
    """Reverse PNG row filters (spec §6) of many images of one channel
    count: raws[i] is hs[i]*(1+strides[i]) inflated bytes (a leading
    filter-type byte per row, each <= 4); returns (h, stride) uint8 per
    image.  Filter math per byte with a = left recon (bpp back), b = up
    recon, c = up-left recon.

    Every image decodes in ROW LOCKSTEP — at step r, row r of ALL images
    reconstructs at once (grouped by filter type): None/Up are fully
    vectorized, Sub is a per-lane cumulative sum, and the sequential
    Average/Paeth pixel walk costs max_h * max_w Python iterations for the
    WHOLE batch instead of h*w per image, each iteration updating
    (n_images, bpp) lanes.

    Padding of smaller images is benign, not zero: a padding COLUMN can
    inherit the last real column's value through a Sub/Paeth row's lane
    cumsum (and propagate down via prev), and padding ROWS carry filter 0
    over whatever the lanes hold.  The actual isolation guarantee is that
    lanes are PER-IMAGE (axis 0 of the (n, H, S) tensor) — no operation
    mixes images — and every image is cropped to its own (h, stride) on
    return, so padding garbage is never emitted."""
    n = len(raws)
    H, S = max(hs), max(strides)
    ftypes = np.zeros((n, H), np.uint8)
    rows = np.zeros((n, H, S), np.uint8)
    for i, (raw, h, s) in enumerate(zip(raws, hs, strides)):
        rr = raw.reshape(h, 1 + s)
        ftypes[i, :h] = rr[:, 0]
        rows[i, :h, :s] = rr[:, 1:]
    out = np.empty((n, H, S), np.uint8)
    prev = np.zeros((n, S), np.int16)
    for r in range(H):
        ft = ftypes[:, r]
        # int16 is wide enough for every filter's intermediate (max
        # 255+255=510; Paeth's p only feeds comparisons) EXCEPT the Sub
        # cumsum, which widens its own subset below
        rec = rows[:, r, :].astype(np.int16)   # ft==0 rows pass through
        m = ft == 1
        if m.any():
            sub = rec[m].astype(np.int32)
            for lane in range(bpp):
                sub[:, lane::bpp] = np.cumsum(sub[:, lane::bpp], axis=1) % 256
            rec[m] = sub.astype(np.int16)
        m = ft == 2
        if m.any():
            rec[m] = (rec[m] + prev[m]) & 255
        m = ft == 3
        if m.any():
            sub, pv = rec[m], prev[m]
            left = np.zeros((sub.shape[0], bpp), np.int16)
            for j in range(0, S, bpp):
                left = (sub[:, j:j + bpp] + ((left + pv[:, j:j + bpp]) >> 1)) \
                    & 255
                sub[:, j:j + bpp] = left
            rec[m] = sub
        m = ft == 4
        if m.any():
            sub, pv = rec[m], prev[m]
            k = sub.shape[0]
            left = np.zeros((k, bpp), np.int16)
            upleft = np.zeros((k, bpp), np.int16)
            for j in range(0, S, bpp):
                b = pv[:, j:j + bpp]
                p = left + b - upleft
                pa = np.abs(p - left)
                pb = np.abs(p - b)
                pc = np.abs(p - upleft)
                pred = np.where((pa <= pb) & (pa <= pc), left,
                                np.where(pb <= pc, b, upleft))
                left = (sub[:, j:j + bpp] + pred) & 255
                sub[:, j:j + bpp] = left
                upleft = b
            rec[m] = sub
        out[:, r, :] = rec
        prev = rec
    return [out[i, :hs[i], :strides[i]] for i in range(n)]


def _decode_image_batch(flat: np.ndarray,
                        offsets: np.ndarray) -> list[np.ndarray]:
    """The package's one image decoder: the payloads
    ``flat[offsets[i]:offsets[i + 1]]`` of one Arrow batch -> HxWx3 uint8
    RGB arrays.  It is the only code that routes payloads by their PNG and
    JPEG magic bytes.  8-bit RGB/RGBA PNGs decode TOGETHER through the row-lockstep
    unfilter and baseline JPEGs TOGETHER through the lockstep entropy
    machine (operators/jpeg.py); `_decode_per_payload` takes PPM, BMP, the
    PNG/JPEG shapes neither kernel supports, and, when PIL is installed,
    PNGs above _PNG_PIL_ROUTE_PIXELS.  A malformed payload raises
    PayloadError (a ValueError) carrying its index in the batch."""
    from .jpeg import PayloadError, _decode_jpeg_batch, _parse_jpeg
    n = offsets.size - 1
    imgs: list = [None] * n
    png: list[tuple] = []     # (index, _png_parse result)
    jpg: list[tuple] = []     # (index, _parse_jpeg result)
    pil = _pil_available()
    for i in range(n):
        buf = flat[offsets[i]:offsets[i + 1]]
        group, parse = None, None
        if buf[:8].tobytes() == _PNG_SIG:
            w_pk = int.from_bytes(buf[16:20].tobytes(), "big")
            h_pk = int.from_bytes(buf[20:24].tobytes(), "big")
            if not (pil and w_pk * h_pk > _PNG_PIL_ROUTE_PIXELS):
                group, parse = png, _png_parse
        elif buf[:2].tobytes() == b"\xff\xd8":
            group, parse = jpg, _parse_jpeg
        try:
            if group is not None:
                try:
                    group.append((i, parse(buf)))
                    continue
                except NotImplementedError:
                    pass  # interlaced/paletted/16-bit PNG, non-SOF0 JPEG
            imgs[i] = _decode_per_payload(buf)
        except ValueError as e:
            raise PayloadError(i, str(e)) from e
    if jpg:
        try:
            decoded = _decode_jpeg_batch([p for _, p in jpg])
        except PayloadError as e:
            raise PayloadError(jpg[e.index][0], str(e)) from e
        for (i, _), img in zip(jpg, decoded):
            imgs[i] = img
    by_nch: dict[int, list] = {}
    for i, (raw, h, w, nch) in png:
        by_nch.setdefault(nch, []).append((i, raw, h, w))
    for nch, grp in by_nch.items():
        outs = _png_unfilter_batch([g[1] for g in grp], [g[2] for g in grp],
                                   [g[3] * nch for g in grp], nch)
        for (i, _, h, w), o in zip(grp, outs):
            imgs[i] = np.ascontiguousarray(o.reshape(h, w, nch)[:, :, :3])
    return imgs


def _png_parse(payload) -> tuple[np.ndarray, int, int, int]:
    """Chunk walk + inflate of a PNG payload -> (raw filtered bytes,
    height, width, channels).  A malformed payload raises ValueError, an
    unsupported one (not 8-bit RGB/RGBA non-interlaced) NotImplementedError."""
    import zlib
    buf = _as_u8(payload)
    if buf[:8].tobytes() != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, []
    size = buf.size
    while pos + 8 <= size:
        ln = int.from_bytes(buf[pos:pos + 4].tobytes(), "big")
        typ = buf[pos + 4:pos + 8].tobytes()
        body = buf[pos + 8:pos + 8 + ln]
        if typ == b"IHDR":
            ihdr = body.tobytes()
        elif typ == b"IDAT":
            idat.append(body.tobytes())
        elif typ == b"IEND":
            break
        pos += 12 + ln  # len + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    if len(ihdr) < 13:
        raise ValueError("truncated PNG IHDR chunk")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, color, interlace = ihdr[8], ihdr[9], ihdr[12]
    if depth != 8 or color not in (2, 6) or interlace != 0:
        raise NotImplementedError(
            f"only 8-bit RGB/RGBA non-interlaced PNG decodes natively "
            f"(depth={depth}, color={color}, interlace={interlace})")
    nch = 3 if color == 2 else 4
    try:
        raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream ({e})") from None
    if raw.size != h * (1 + w * nch):
        raise ValueError("PNG inflated size mismatch")
    ftypes = raw[::1 + w * nch]
    if (ftypes > 4).any():
        raise ValueError(f"bad PNG filter type {ftypes[ftypes > 4][0]}")
    return raw, h, w, nch


def decode_audio(payload) -> tuple[np.ndarray, int]:
    """Decode a WAV payload — RIFF PCM (8/16-bit) or COMPRESSED mono or
    multichannel IMA ADPCM (format 0x11, 4-bit) — to (samples[frames, channels],
    sample_rate): pure NumPy chunk walk over a bytes or uint8-view payload
    (only the 8-byte chunk headers materialize as Python ints; sample data
    stays a NumPy view).  Other containers fall through to soundfile if
    available, else raise."""
    buf = _as_u8(payload)
    if buf[:4].tobytes() == b"RIFF" and buf[8:12].tobytes() == b"WAVE":
        pos, fmt, data, fact = 12, None, None, None
        size = buf.size
        while pos + 8 <= size:
            cid = buf[pos:pos + 4].tobytes()
            sz = int.from_bytes(buf[pos + 4:pos + 8].tobytes(), "little")
            body = buf[pos + 8:pos + 8 + sz]
            if cid == b"fmt ":
                fmt = body.tobytes()
            elif cid == b"data":
                data = body
            elif cid == b"fact" and sz >= 4:
                fact = int.from_bytes(body[:4].tobytes(), "little")
            pos += 8 + sz + (sz & 1)  # chunks are word-aligned
        if fmt is None or data is None:
            raise ValueError("WAV missing fmt/data chunk")
        audio_format = int.from_bytes(fmt[0:2], "little")
        channels = int.from_bytes(fmt[2:4], "little")
        rate = int.from_bytes(fmt[4:8], "little")
        bits = int.from_bytes(fmt[14:16], "little")
        if audio_format == 0x11:  # IMA/DVI ADPCM — REAL compressed audio
            block_align = int.from_bytes(fmt[12:14], "little")
            samples = _decode_ima_adpcm(data, block_align, channels)
            if fact is not None:
                samples = samples[:fact]   # fact counts FRAMES
            return samples, rate
        if audio_format != 1 or bits not in (8, 16):
            raise NotImplementedError(
                f"only PCM 8/16-bit or IMA ADPCM WAV (got "
                f"format={audio_format}, bits={bits})")
        if bits == 8:
            samples = data
        else:
            # compose int16 from byte lanes: alignment-safe on a view whose
            # base offset into the Arrow buffer can be odd
            n2 = (data.size // 2) * 2
            samples = (data[:n2:2].astype(np.uint16)
                       | (data[1:n2:2].astype(np.uint16) << 8)).view(np.int16)
        frames = samples.size // channels
        return samples[:frames * channels].reshape(frames, channels), rate
    try:
        import io
        import soundfile
        s, rate = soundfile.read(io.BytesIO(buf.tobytes()))
        return np.atleast_2d(s.T).T, rate
    except ImportError as e:
        raise NotImplementedError(
            "non-WAV audio needs soundfile; install it on the cluster "
            "image (RIFF PCM WAV decodes natively)") from e


# IMA/DVI ADPCM tables (public spec data: IMA Digital Audio Pack, 1992 —
# the step-size and index-adjust tables every IMA decoder ships)
_IMA_STEP = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767], np.int64)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], np.int64)


def _decode_ima_adpcm(data: np.ndarray, block_align: int,
                      channels: int = 1) -> np.ndarray:
    """IMA ADPCM data chunk -> int16 samples, shape (frames, channels).

    Each block carries a full decoder state header PER CHANNEL (predictor
    int16 LE, step index, reserved), so every (block, channel) pair is an
    INDEPENDENT decode lane — the whole chunk decodes with per-sample
    state arrays ACROSS lanes: the only Python loop is over the samples
    of one channel of one block, each step a vectorized update of every
    lane's predictor/index at once.  The per-nibble recurrence itself is
    sequential by construction (each sample's prediction depends on the
    previous), like PNG's Paeth filter — the cross-lane axis is where the
    parallelism lives.  Multichannel payloads interleave 4-byte words
    round-robin per channel (8 nibbles = 8 consecutive samples of one
    channel, then the next channel's word — the IMA WAV mapping), so the
    lane-byte gather is one reshape+transpose; mono payloads stream
    byte-granular with no word-alignment requirement."""
    hdr = 4 * channels
    if channels < 1:
        raise ValueError(f"IMA ADPCM channels {channels} invalid")
    if block_align < hdr + (1 if channels == 1 else 4 * channels):
        raise ValueError(f"IMA ADPCM block_align {block_align} too small")
    if channels > 1 and (block_align - hdr) % (4 * channels):
        raise ValueError(
            f"IMA ADPCM block_align {block_align} not 4-byte-word aligned "
            f"for {channels} channels")
    nb = data.size // block_align
    if nb == 0:
        return np.zeros((0, channels), np.int16)
    blocks = np.ascontiguousarray(data[:nb * block_align]) \
        .reshape(nb, block_align)
    heads = blocks[:, :hdr].reshape(nb, channels, 4)
    pred = (heads[:, :, 0].astype(np.uint16)
            | (heads[:, :, 1].astype(np.uint16) << 8)).view(np.int16) \
        .astype(np.int64).reshape(nb * channels)
    idx = np.clip(heads[:, :, 2].astype(np.int64), 0, 88) \
        .reshape(nb * channels)
    if channels == 1:
        lane_bytes = blocks[:, 4:]
    else:
        n_words = (block_align - hdr) // (4 * channels)
        lane_bytes = np.ascontiguousarray(
            blocks[:, hdr:].reshape(nb, n_words, channels, 4)
            .transpose(0, 2, 1, 3)).reshape(nb * channels, n_words * 4)
    lanes = nb * channels
    n_nib = 2 * lane_bytes.shape[1]
    nib = np.empty((lanes, n_nib), np.uint8)
    nib[:, 0::2] = lane_bytes & 0x0F   # low nibble first (IMA WAV order)
    nib[:, 1::2] = lane_bytes >> 4
    out = np.empty((lanes, 1 + n_nib), np.int16)
    out[:, 0] = pred
    for j in range(n_nib):
        n = nib[:, j].astype(np.int64)
        step = _IMA_STEP[idx]
        diff = (step >> 3) + np.where(n & 4, step, 0) \
            + np.where(n & 2, step >> 1, 0) + np.where(n & 1, step >> 2, 0)
        pred = np.where(n & 8, pred - diff, pred + diff)
        np.clip(pred, -32768, 32767, out=pred)
        idx = np.clip(idx + _IMA_INDEX[n & 7], 0, 88)
        out[:, j + 1] = pred
    # lanes (block, channel, sample) -> frame-major interleaved samples
    return (out.reshape(nb, channels, 1 + n_nib).transpose(0, 2, 1)
            .reshape(nb * (1 + n_nib), channels))


def encode_ima_adpcm_constant(vals: np.ndarray, rate: int = 16000,
                              block_align: int = 8,
                              channels: int = 1) -> bytes:
    """Valid IMA ADPCM WAV of CONSTANT blocks — the lossless fixture
    shape: each block's per-channel header predictor is one int16 of
    `vals` and every nibble is 0, which at step index 0 gives diff =
    step>>3 = 7>>3 = 0, so the predictor never moves and each channel of
    a block decodes to exactly 1 + 2*(block_align-4*channels)/channels
    copies of its header value.  The gate query's byte-math oracle
    recomputes that without touching ADPCM code.  vals: 1-D for mono
    (one block per value), (n_blocks, channels) for multichannel.
    Multichannel block_align defaults to 8*channels (one interleaved
    word group)."""
    import struct
    vals = np.asarray(vals, np.int16)
    if channels > 1:
        vals = vals.reshape(-1, channels)
        if block_align == 8:
            block_align = 8 * channels
    else:
        vals = vals.reshape(-1, 1)
    nb = vals.shape[0]
    spb = 1 + 2 * (block_align - 4 * channels) // channels
    blocks = np.zeros((nb, block_align), np.uint8)
    le = vals.astype("<i2").view(np.uint8)   # (nb, 2*channels)
    for c in range(channels):                # predictor; index 0; nibbles 0
        blocks[:, 4 * c:4 * c + 2] = le[:, 2 * c:2 * c + 2]
    data = blocks.tobytes()
    fmt = struct.pack("<HHIIHHHH", 0x11, channels, rate,
                      rate * block_align // spb, block_align, 4, 2, spb)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<II", 4, nb * spb)
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_adpcm_table(docs: DataFrame, rate: int = 16000) -> DataFrame:
    """Deterministic REAL COMPRESSED audio: each pair of document bytes
    becomes the int16 header predictor of one all-zero-nibble IMA ADPCM
    block (trailing odd byte dropped; docs shorter than one block
    filtered) — decode_audio's block-vectorized ADPCM path must walk the
    real header/nibble state machine to reproduce the constant samples the
    byte-math oracle predicts."""
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc = batch.column(batch.schema.get_field_index("doc_id"))
            flat, offsets = binary_flat(
                batch.column(batch.schema.get_field_index("payload")))
            payloads = []
            for i in range(len(doc)):
                px = flat[offsets[i]:offsets[i + 1]]
                nb = px.size // 2
                if nb < 1:
                    payloads.append(None)
                    continue
                vals = (px[:2 * nb:2].astype(np.uint16)
                        | (px[1:2 * nb:2].astype(np.uint16) << 8)) \
                    .view(np.int16)
                payloads.append(encode_ima_adpcm_constant(vals, rate))
            yield pa.RecordBatch.from_arrays(
                [doc, pa.array(payloads, pa.binary())],
                names=["doc_id", "payload"])

    base = fanout_scan(docs, "doc_id").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("payload"))
    return (base.mapInArrow(run, kernel_schema(PAYLOAD_SCHEMA))
            .where(F.col("payload").isNotNull()))


def resize_image(img_or_payload, w: int, h: int) -> np.ndarray:
    """Nearest-neighbor resize to (h, w, C) — pure NumPy index striding
    (accepts either a decoded HxWxC array or raw image bytes)."""
    img = (img_or_payload if isinstance(img_or_payload, np.ndarray)
           else decode_image(img_or_payload))
    src_h, src_w = img.shape[:2]
    rows = (np.arange(h, dtype=np.int64) * src_h) // h
    cols = (np.arange(w, dtype=np.int64) * src_w) // w
    return img[rows][:, cols]


def synth_ppm_table(docs: DataFrame, width: int = 4) -> DataFrame:
    """Deterministic REAL images: each document's utf-8 bytes become the raw
    RGB pixel data of a valid PPM P6 payload (height = n_bytes // (3*width),
    trailing partial row dropped; docs too short for one row are filtered).
    Unlike synth_media_table's opaque fake payloads, these decode with the
    real decode_image parser — which makes the decoder itself
    driver-gate-checkable against a byte-math oracle."""
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc = batch.column(batch.schema.get_field_index("doc_id"))
            flat, offsets = binary_flat(
                batch.column(batch.schema.get_field_index("payload")))
            payloads = []
            for i in range(len(doc)):
                px = flat[offsets[i]:offsets[i + 1]]
                h = px.size // (3 * width)
                if h < 1:
                    payloads.append(None)
                    continue
                hdr = f"P6\n{width} {h}\n255\n".encode()
                payloads.append(hdr + px[:h * 3 * width].tobytes())
            yield pa.RecordBatch.from_arrays(
                [doc, pa.array(payloads, pa.binary())],
                names=["doc_id", "payload"])

    base = fanout_scan(docs, "doc_id").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("payload"))
    out = base.mapInArrow(run, kernel_schema(PAYLOAD_SCHEMA))
    return out.where(F.col("payload").isNotNull())


def encode_png(px: np.ndarray, filters: str = "cycle") -> bytes:
    """Minimal standards-conforming PNG writer for 8-bit RGB/RGBA arrays
    (used by synth_png_table; decodable by decode_image AND any
    libpng/PIL).

    filters: 'cycle' applies row filter type r % 5 (exercising every
    filter branch of the decoder), 'none' writes filter 0 rows."""
    import struct
    import zlib
    h, w, nch = px.shape
    if nch not in (3, 4):
        # explicit raise, not assert: survives PYTHONOPTIMIZE (CLAUDE.md
        # kernel-guard rule)
        raise ValueError(f"encode_png expects RGB/RGBA, got {nch} channels")
    px32 = px.astype(np.int32)
    rows = []
    prev = np.zeros((w, nch), np.int32)
    z1 = np.zeros((1, nch), np.int32)
    for r in range(h):
        cur = px32[r]
        ft = r % 5 if filters == "cycle" else 0
        if ft == 0:
            filt = cur
        elif ft == 1:  # Sub
            filt = (cur - np.vstack([z1, cur[:-1]])) % 256
        elif ft == 2:  # Up
            filt = (cur - prev) % 256
        elif ft == 3:  # Average
            left = np.vstack([z1, cur[:-1]])
            filt = (cur - ((left + prev) >> 1)) % 256
        else:  # Paeth
            left = np.vstack([z1, cur[:-1]])
            upleft = np.vstack([z1, prev[:-1]])
            p = left + prev - upleft
            pa = np.abs(p - left)
            pb = np.abs(p - prev)
            pc = np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            filt = (cur - pred) % 256
        rows.append(bytes([ft]) + filt.astype(np.uint8).reshape(-1).tobytes())
        prev = cur
    raw = zlib.compress(b"".join(rows))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if nch == 3 else 6, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", raw)
            + chunk(b"IEND", b""))


def synth_png_table(docs: DataFrame, width: int = 4) -> DataFrame:
    """Deterministic REAL COMPRESSED images: each document's utf-8 bytes
    become the RGB pixel data of a valid zlib-deflated PNG whose rows
    cycle through ALL FIVE filter types (height = n_bytes // (3*width),
    trailing partial row dropped; docs too short for one row filtered).
    decode_image must reverse the deflate + every filter to reproduce the
    original bytes, so the byte-math channel-sum oracle checks the whole
    compressed pipeline."""
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc = batch.column(batch.schema.get_field_index("doc_id"))
            flat, offsets = binary_flat(
                batch.column(batch.schema.get_field_index("payload")))
            payloads = []
            for i in range(len(doc)):
                px = flat[offsets[i]:offsets[i + 1]]
                h = px.size // (3 * width)
                if h < 1:
                    payloads.append(None)
                    continue
                img = px[:h * 3 * width].reshape(h, width, 3)
                payloads.append(encode_png(img))
            yield pa.RecordBatch.from_arrays(
                [doc, pa.array(payloads, pa.binary())],
                names=["doc_id", "payload"])

    base = fanout_scan(docs, "doc_id").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("payload"))
    return (base.mapInArrow(run, kernel_schema(PAYLOAD_SCHEMA))
            .where(F.col("payload").isNotNull()))


def synth_jpeg_table(docs: DataFrame, width_blocks: int = 2) -> DataFrame:
    """Deterministic REAL JPEGs: each document's utf-8 bytes become the
    CONSTANT values of the 8x8 blocks of a grayscale baseline JPEG (one
    byte per block, `width_blocks` blocks per row; trailing partial block
    row dropped, docs shorter than one row filtered).  With an all-ones
    quant table a constant block is LOSSLESS (DC = 8*(c-128) exactly, zero
    AC), so decode_image must reproduce every pixel bit-exactly through the
    full marker + Huffman + IDCT pipeline — checkable against the same
    kind of byte-math oracle as the PPM/PNG gates, which never touches
    JPEG code."""
    from .jpeg import encode_gray_blocks_jpeg

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc = batch.column(batch.schema.get_field_index("doc_id"))
            flat, offsets = binary_flat(
                batch.column(batch.schema.get_field_index("payload")))
            payloads = []
            for i in range(len(doc)):
                px = flat[offsets[i]:offsets[i + 1]]
                if px.size // width_blocks < 1:
                    payloads.append(None)
                    continue
                payloads.append(encode_gray_blocks_jpeg(px, width_blocks))
            yield pa.RecordBatch.from_arrays(
                [doc, pa.array(payloads, pa.binary())],
                names=["doc_id", "payload"])

    base = fanout_scan(docs, "doc_id").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("payload"))
    return (base.mapInArrow(run, kernel_schema(PAYLOAD_SCHEMA))
            .where(F.col("payload").isNotNull()))


def synth_wav_table(docs: DataFrame, rate: int = 16000) -> DataFrame:
    """Deterministic REAL audio: each document's utf-8 bytes become the
    little-endian int16 mono PCM payload of a valid RIFF WAV (trailing odd
    byte dropped; docs shorter than one sample filtered) — decodable by the
    real decode_audio chunk walker, oracle-checkable as byte math."""
    import struct

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc = batch.column(batch.schema.get_field_index("doc_id"))
            flat, offsets = binary_flat(
                batch.column(batch.schema.get_field_index("payload")))
            payloads = []
            for i in range(len(doc)):
                px = flat[offsets[i]:offsets[i + 1]]
                nbytes = (px.size // 2) * 2
                if nbytes < 2:
                    payloads.append(None)
                    continue
                data = px[:nbytes].tobytes()
                fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
                body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                        + b"data" + struct.pack("<I", len(data)) + data)
                payloads.append(b"RIFF" + struct.pack("<I", len(body)) + body)
            yield pa.RecordBatch.from_arrays(
                [doc, pa.array(payloads, pa.binary())],
                names=["doc_id", "payload"])

    base = fanout_scan(docs, "doc_id").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("payload"))
    return (base.mapInArrow(run, kernel_schema(PAYLOAD_SCHEMA))
            .where(F.col("payload").isNotNull()))


AUDIO_STATS_SCHEMA = ("doc_id string, frames int, channels int, "
                      "sample_rate int, sum_samples bigint")


def audio_stats_table(media: DataFrame) -> DataFrame:
    """REAL decode of audio payloads (RIFF PCM WAV) -> frame count,
    channels, rate, exact integer sample sum."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc = batch.column(batch.schema.get_field_index("doc_id"))
            # zero-copy views into the Arrow flat buffer: the per-container
            # decode loop is inherent, but no payload materializes as a
            # Python bytes (.as_py()) on the way in
            flat, offsets = binary_flat(
                batch.column(batch.schema.get_field_index("payload")))
            n = offsets.size - 1
            fr = np.empty(n, np.int32)
            ch = np.empty(n, np.int32)
            rt = np.empty(n, np.int32)
            ss = np.empty(n, np.int64)
            for i in range(n):
                samples, rate = decode_audio(flat[offsets[i]:offsets[i + 1]])
                fr[i], ch[i], rt[i] = samples.shape[0], samples.shape[1], rate
                ss[i] = int(samples.sum(dtype=np.int64))
            yield pa.RecordBatch.from_arrays(
                [doc, pa.array(fr, pa.int32()), pa.array(ch, pa.int32()),
                 pa.array(rt, pa.int32()), pa.array(ss, pa.int64())],
                names=["doc_id", "frames", "channels", "sample_rate",
                       "sum_samples"])

    return media.mapInArrow(run, kernel_schema(AUDIO_STATS_SCHEMA))


def _decoded_images(batch: pa.RecordBatch) -> tuple[pa.Array, list]:
    """(doc_id column, decoded HxWx3 images) of one Arrow batch of image
    rows.  A payload that fails to decode raises ValueError naming its
    doc_id."""
    from .jpeg import PayloadError
    doc = batch.column(batch.schema.get_field_index("doc_id"))
    flat, offsets = binary_flat(
        batch.column(batch.schema.get_field_index("payload")))
    try:
        return doc, _decode_image_batch(flat, offsets)
    except PayloadError as e:
        raise ValueError(f"{e} decoding doc_id={doc[e.index]}") from e


IMAGE_STATS_SCHEMA = ("doc_id string, height int, width int, "
                      "sum_r bigint, sum_g bigint, sum_b bigint")


def image_stats_table(media: DataFrame) -> DataFrame:
    """REAL decode of image payloads (PPM/BMP/PNG/JPEG via
    _decode_image_batch) -> shape + exact integer per-channel sums
    (integer outputs so the driver can compare them value-exactly against
    a byte-math oracle; floats never cross engines)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc, imgs = _decoded_images(batch)
            n = len(imgs)
            hs = np.empty(n, np.int32)
            ws = np.empty(n, np.int32)
            sums = np.empty((n, 3), np.int64)
            for i, img in enumerate(imgs):
                hs[i], ws[i] = img.shape[0], img.shape[1]
                sums[i] = img.reshape(-1, 3).sum(axis=0, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [doc, pa.array(hs, pa.int32()), pa.array(ws, pa.int32()),
                 pa.array(sums[:, 0], pa.int64()),
                 pa.array(sums[:, 1], pa.int64()),
                 pa.array(sums[:, 2], pa.int64())],
                names=["doc_id", "height", "width", "sum_r", "sum_g", "sum_b"])

    return media.mapInArrow(run, kernel_schema(IMAGE_STATS_SCHEMA))


IMAGE_DECODE_SCHEMA = ("doc_id string, height int, width int, "
                       "mean_r double, mean_g double, mean_b double")


def decode_image_table(media: DataFrame, out_w: int | None = None,
                       out_h: int | None = None) -> DataFrame:
    """Decode image payloads (PPM/BMP/PNG/JPEG via _decode_image_batch) to
    shape + per-channel means; optional nearest-neighbor resize first.

    One Arrow crossing per batch; PNGs and JPEGs of the batch decode
    together in the lockstep kernels, other formats per payload."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc, imgs = _decoded_images(batch)
            n = len(imgs)
            hs = np.empty(n, np.int32)
            ws = np.empty(n, np.int32)
            means = np.empty((n, 3), np.float64)
            for i, img in enumerate(imgs):
                if out_w and out_h:
                    img = resize_image(img, out_w, out_h)
                hs[i], ws[i] = img.shape[0], img.shape[1]
                means[i] = img.reshape(-1, 3).mean(axis=0)
            yield pa.RecordBatch.from_arrays(
                [doc, pa.array(hs, pa.int32()), pa.array(ws, pa.int32()),
                 pa.array(means[:, 0], pa.float64()),
                 pa.array(means[:, 1], pa.float64()),
                 pa.array(means[:, 2], pa.float64())],
                names=["doc_id", "height", "width",
                       "mean_r", "mean_g", "mean_b"])

    return media.mapInArrow(run, kernel_schema(IMAGE_DECODE_SCHEMA))


FRAME_SCHEMA = ("doc_id string, frame_id int, frame_len int, "
                "frame_sum bigint, frame binary")


def sample_frames(media: DataFrame, frame_bytes: int = 64,
                  every: int = 2) -> DataFrame:
    """Frame sampling over binary payloads (the video-frame-sample shape).

    Deterministic fake framing: the payload is cut into consecutive
    ``frame_bytes`` slices (partial tail kept) and every ``every``-th frame
    is emitted — standing in for ffmpeg keyframe extraction, which isn't in
    this container.  The plumbing is the real thing a video pipeline needs:
    a 1:N explode of binary rows done entirely inside one Arrow batch with
    vectorized gathers (no per-row Python), output offsets rebuilt exactly.
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc = batch.column(batch.schema.get_field_index("doc_id"))
            flat, offsets = binary_flat(
                batch.column(batch.schema.get_field_index("payload")))
            nr = offsets[1:] - offsets[:-1]
            nframes = (nr + frame_bytes - 1) // frame_bytes
            counts = (nframes + every - 1) // every
            total = int(counts.sum())
            row_ids = np.repeat(np.arange(nr.size, dtype=np.int64), counts)
            base = np.concatenate([[0], np.cumsum(counts)])
            fid = (np.arange(total, dtype=np.int64) - base[row_ids]) * every
            start = offsets[:-1][row_ids] + fid * frame_bytes
            flen = np.minimum(frame_bytes, nr[row_ids] - fid * frame_bytes)
            # segmented byte sums via one prefix sum over the whole batch
            c = np.concatenate([[0], np.cumsum(flat, dtype=np.int64)])
            fsum = c[start + flen] - c[start]
            # gather frame bytes: out position -> source position
            out_off = np.concatenate(
                [[0], np.cumsum(flen)]).astype(np.int64)
            idx = (np.repeat(start - out_off[:-1], flen)
                   + np.arange(out_off[-1], dtype=np.int64))
            yield pa.RecordBatch.from_arrays(
                [doc.take(pa.array(row_ids)),
                 pa.array(fid.astype(np.int32), pa.int32()),
                 pa.array(flen.astype(np.int32), pa.int32()),
                 pa.array(fsum, pa.int64()),
                 binary_array(flat[idx], out_off)],
                names=["doc_id", "frame_id", "frame_len",
                       "frame_sum", "frame"])

    return media.mapInArrow(run, kernel_schema(FRAME_SCHEMA))


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The deterministic fake feature (16-bin byte histogram, L1-normalized)
    exercises the exact batch shape a real image featurizer would use:
    flat byte buffer + offsets in, fixed-length float vectors out."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            flat, offsets = binary_flat(
                batch.column(batch.schema.get_field_index("payload")))
            nr = offsets[1:] - offsets[:-1]
            # per-row byte sum (segmented)
            c = np.concatenate([[0], np.cumsum(flat, dtype=np.int64)])
            byte_sum = c[offsets[1:]] - c[offsets[:-1]]
            # 16-bin histogram per row, vectorized: bincount over row*16+bin
            row_ids = np.repeat(np.arange(nr.size, dtype=np.int64), nr)
            bins = (flat >> 4).astype(np.int64)
            hist = np.bincount(row_ids * 16 + bins, minlength=nr.size * 16)
            hist = hist.reshape(nr.size, 16).astype(np.float32)
            denom = np.maximum(nr, 1).astype(np.float32)[:, None]
            feat = hist / denom
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index("doc_id")),
                 pa.array(nr, pa.int64()),
                 pa.array(byte_sum, pa.int64()),
                 list_array(feat.reshape(-1),
                            np.arange(nr.size + 1, dtype=np.int64) * 16)],
                names=["doc_id", "n_bytes", "byte_sum", "feature"])

    return media.mapInArrow(run, kernel_schema(FEATURE_SCHEMA))
