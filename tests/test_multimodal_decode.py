"""Real (pure-NumPy) media decoders: PPM/BMP images and PCM WAV audio are
constructed byte-by-byte from known pixel/sample arrays and must decode back
bit-exactly; resize is checked against direct index math; compressed formats
must raise NotImplementedError when PIL/soundfile are absent."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from streamvbyte_spark.operators.multimodal import (decode_audio, decode_image,
                                                    resize_image)

RNG = np.random.default_rng(3)


def make_ppm(px: np.ndarray, comment: bool = False) -> bytes:
    h, w, _ = px.shape
    hdr = b"P6\n"
    if comment:
        hdr += b"# a comment line\n"
    hdr += f"{w} {h}\n255\n".encode()
    return hdr + px.tobytes()


def make_bmp(px: np.ndarray, bpp: int = 24, top_down: bool = False) -> bytes:
    """Minimal BITMAPINFOHEADER BMP from an HxWx3 RGB array."""
    h, w, _ = px.shape
    nch = bpp // 8
    stride = (w * nch + 3) // 4 * 4
    rows = px if top_down else px[::-1]
    body = bytearray()
    for r in rows:
        line = bytearray()
        for pix in r:
            line += bytes([pix[2], pix[1], pix[0]])  # BGR
            if nch == 4:
                line += b"\xff"
        line += b"\x00" * (stride - len(line))
        body += line
    off = 14 + 40
    header = (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
              + struct.pack("<IiiHHIIiiII", 40, w, (-h if top_down else h),
                            1, bpp, 0, len(body), 2835, 2835, 0, 0))
    return bytes(header) + bytes(body)


def make_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """RIFF PCM 16-bit WAV from a [frames, channels] int16 array."""
    frames, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_ppm_roundtrip():
    px = RNG.integers(0, 256, (13, 7, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_image(make_ppm(px)), px)
    np.testing.assert_array_equal(decode_image(make_ppm(px, comment=True)), px)


@pytest.mark.parametrize("bpp,top_down", [(24, False), (24, True),
                                          (32, False), (32, True)])
def test_bmp_roundtrip(bpp, top_down):
    # width 5 forces nonzero row padding at 24bpp
    px = RNG.integers(0, 256, (9, 5, 3), dtype=np.uint8)
    got = decode_image(make_bmp(px, bpp=bpp, top_down=top_down))
    np.testing.assert_array_equal(got, px)


def test_wav_roundtrip():
    s = RNG.integers(-32768, 32767, (480, 2), dtype=np.int16)
    out, rate = decode_audio(make_wav(s, rate=22050))
    assert rate == 22050
    np.testing.assert_array_equal(out, s)


def test_wav_extra_chunk_and_odd_padding():
    s = RNG.integers(-1000, 1000, (7, 1), dtype=np.int16)
    wav = bytearray(make_wav(s, rate=8000))
    # splice an odd-sized junk chunk before data (walker must word-align)
    junk = b"JUNK" + struct.pack("<I", 3) + b"abc" + b"\x00"
    insert_at = wav.index(b"data")
    wav[insert_at:insert_at] = junk
    wav[4:8] = struct.pack("<I", len(wav) - 8)
    out, rate = decode_audio(bytes(wav))
    assert rate == 8000
    np.testing.assert_array_equal(out, s)


def test_resize_nearest_neighbor():
    px = RNG.integers(0, 256, (10, 6, 3), dtype=np.uint8)
    out = resize_image(px, w=3, h=5)
    assert out.shape == (5, 3, 3)
    for y in range(5):
        for x in range(3):
            np.testing.assert_array_equal(
                out[y, x], px[(y * 10) // 5, (x * 6) // 3])
    # also accepts raw payload bytes
    out2 = resize_image(make_ppm(px), w=3, h=5)
    np.testing.assert_array_equal(out2, out)


def test_compressed_formats_raise_without_optional_deps():
    png_magic = b"\x89PNG\r\n\x1a\n" + b"\x00" * 32
    try:
        import PIL  # noqa: F401
        pytest.skip("PIL present; compressed path delegates to it")
    except ImportError:
        pass
    with pytest.raises((NotImplementedError, Exception)):
        decode_image(png_magic)


# ---------------------------------------------------------------- PNG decode

def test_png_roundtrip_all_filters():
    """encode_png('cycle') writes every one of the five PNG row filters;
    the shipped decoder (and the scalar oracle) must invert deflate +
    unfiltering bit-exactly."""
    from scalar_oracle import media
    from streamvbyte_spark.operators.multimodal import encode_png
    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (5, 4), (7, 3), (13, 9)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for filters in ("cycle", "none"):
            png = encode_png(img, filters)
            np.testing.assert_array_equal(decode_image(png), img)
            np.testing.assert_array_equal(media.decode_png(png), img)


def test_png_batch_unfilter_matches_single():
    """The row-lockstep batch PNG path (_decode_image_batch) must be
    byte-identical to the scalar oracle on every payload: mixed sizes,
    RGB and RGBA lanes, all five filter types (cycle), a non-PNG payload
    interleaved."""
    from scalar_oracle import media
    from streamvbyte_spark.operators.multimodal import (_decode_image_batch,
                                                        encode_png)
    rng = np.random.default_rng(11)
    payloads = []
    for h, w, nch in [(1, 1, 3), (3, 5, 3), (17, 9, 4), (32, 32, 3),
                      (7, 63, 4), (40, 3, 3), (5, 5, 4), (200, 1, 3)]:
        px = rng.integers(0, 256, (h, w, nch), dtype=np.uint8)
        payloads.append(encode_png(px, "cycle"))
    payloads.append(encode_png(
        rng.integers(0, 256, (6, 6, 3), dtype=np.uint8), "none"))
    ppm = b"P6\n2 2\n255\n" + bytes(range(12))
    mixed = payloads[:1] + [ppm] + payloads[1:]
    flat = np.frombuffer(b"".join(mixed), np.uint8)
    offsets = np.cumsum([0] + [len(m) for m in mixed])
    out = _decode_image_batch(flat, offsets)
    np.testing.assert_array_equal(
        out[1], np.arange(12, dtype=np.uint8).reshape(2, 2, 3))
    for m, got in zip(payloads, out[:1] + out[2:]):
        np.testing.assert_array_equal(got, media.decode_png(m))


def test_png_unfilter_spec_vectors():
    """Hand-computed reconstructions straight from the PNG spec (§6) — a
    matched encoder/decoder bug cannot cancel here because the expected
    bytes were derived by hand, not by encode_png.  Each vector runs alone
    and then all three in one lockstep batch."""
    from streamvbyte_spark.operators.multimodal import _png_unfilter_batch
    vectors = [
        # Sub row then Paeth row, w=2 (bpp=3, stride=6)
        ([1, 1, 2, 3, 250, 5, 6, 4, 10, 20, 30, 40, 50, 60],
         [[1, 2, 3, 251, 7, 9], [11, 22, 33, 35, 72, 93]]),
        # None row then Average row
        ([0, 100, 200, 50, 7, 9, 11, 3, 10, 10, 10, 10, 10, 10],
         [[100, 200, 50, 7, 9, 11], [60, 110, 35, 43, 69, 33]]),
        # Up row seeded by a Sub row
        ([1, 5, 5, 5, 5, 5, 5, 2, 1, 2, 3, 4, 5, 6],
         [[5, 5, 5, 10, 10, 10], [6, 7, 8, 14, 15, 16]]),
    ]
    raws = [np.array(raw, np.uint8) for raw, _ in vectors]
    for raw, (_, want) in zip(raws, vectors):
        out = _png_unfilter_batch([raw], [2], [6], 3)[0]
        np.testing.assert_array_equal(out, want)
    for out, (_, want) in zip(
            _png_unfilter_batch(raws, [2] * 3, [6] * 3, 3), vectors):
        np.testing.assert_array_equal(out, want)


def test_png_rejects_unsupported_shapes():
    from streamvbyte_spark.operators.multimodal import _png_parse, encode_png
    png = bytearray(encode_png(np.zeros((2, 2, 3), np.uint8)))
    # flip IHDR bit depth (offset: 8 sig + 8 chunk hdr + 8 w/h) to 16
    png[8 + 8 + 8] = 16
    with pytest.raises(NotImplementedError):
        _png_parse(bytes(png))
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\nnot-chunks")


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data)))


@pytest.mark.parametrize("case", ["corrupt_deflate", "short_ihdr",
                                  "bad_filter_type"])
def test_png_malformed_raises_value_error(case):
    """Malformed PNGs raise ValueError from the shared parser: a corrupt
    deflate stream (was zlib.error), a short IHDR (was IndexError) and a
    filter type above 4, which the parser rejects before any unfilter."""
    from streamvbyte_spark.operators.multimodal import _PNG_SIG, _png_parse
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)
    rows = bytes([0] + [9] * 6)
    if case == "corrupt_deflate":
        chunks = [(b"IHDR", ihdr), (b"IDAT", zlib.compress(rows)[:-5])]
    elif case == "short_ihdr":
        chunks = [(b"IHDR", ihdr[:9]), (b"IDAT", zlib.compress(rows))]
    else:
        chunks = [(b"IHDR", ihdr),
                  (b"IDAT", zlib.compress(bytes([7]) + rows[1:]))]
    png = _PNG_SIG + b"".join(_png_chunk(t, d) for t, d in chunks) \
        + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        _png_parse(png)
    with pytest.raises(ValueError):
        decode_image(png)



def test_ima_adpcm_matches_scalar_reference():
    """The lane-vectorized ADPCM decoder must equal an INDEPENDENT scalar
    implementation of the IMA recurrence on random nibble payloads — all
    step/index transitions, both clamps, every block size, mono AND
    multichannel (per-channel headers, 4-byte-word round-robin payload
    interleave).  The gate query's constant-block fixtures cannot reach
    the nonzero-nibble paths; this parity test is what pins them."""
    from streamvbyte_spark.operators.multimodal import (
        _IMA_INDEX, _IMA_STEP, _decode_ima_adpcm)

    def step_one(pred, idx, n):
        step = int(_IMA_STEP[idx])
        diff = step >> 3
        if n & 4:
            diff += step
        if n & 2:
            diff += step >> 1
        if n & 1:
            diff += step >> 2
        pred = pred - diff if n & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + int(_IMA_INDEX[n & 7])))
        return pred, idx

    def ref(data, ba, ch=1):
        frames = []
        for b in range(len(data) // ba):
            blk = data[b * ba:(b + 1) * ba]
            chans = []
            for c in range(ch):
                pred = int.from_bytes(bytes(blk[4 * c:4 * c + 2]),
                                      "little", signed=True)
                idx = min(max(blk[4 * c + 2], 0), 88)
                out = [pred]
                # channel c owns bytes of every ch-th 4-byte word
                payload = blk[4 * ch:]
                lane = []
                for w in range(len(payload) // (4 * ch)):
                    lane += payload[(w * ch + c) * 4:(w * ch + c) * 4 + 4]
                if ch == 1:
                    lane = payload
                for byte in lane:
                    for n in (byte & 0xF, byte >> 4):
                        pred, idx = step_one(pred, idx, n)
                        out.append(pred)
                chans.append(out)
            frames += [list(t) for t in zip(*chans)]
        return frames

    rng = np.random.default_rng(7)
    for ba in (5, 8, 36, 256):
        data = rng.integers(0, 256, 30 * ba).astype(np.uint8)
        got = _decode_ima_adpcm(data, ba)
        assert got.tolist() == ref(data.tolist(), ba), ba
    for ch, ba in ((2, 16), (2, 40), (4, 32), (3, 36)):
        data = rng.integers(0, 256, 20 * ba).astype(np.uint8)
        got = _decode_ima_adpcm(data, ba, ch)
        assert got.shape[1] == ch
        assert got.tolist() == ref(data.tolist(), ba, ch), (ch, ba)
    with pytest.raises(ValueError, match="block_align"):
        _decode_ima_adpcm(np.zeros(16, np.uint8), 4)
    with pytest.raises(ValueError, match="word aligned|word-aligned"):
        _decode_ima_adpcm(np.zeros(40, np.uint8), 20, 2)


def test_ima_adpcm_constant_wav_and_dispatch():
    """encode_ima_adpcm_constant -> decode_audio: the ADPCM WAV dispatch
    path (format 0x11, fact-chunk trim) reproduces exactly 9 copies of
    each int16 header value, including the int16 boundary values — mono
    and stereo (per-channel headers, interleaved word payload)."""
    from streamvbyte_spark.operators.multimodal import (
        decode_audio, encode_ima_adpcm_constant)
    vals = np.array([-32768, 32767, 0, -1, 1, 12345], np.int16)
    wav = encode_ima_adpcm_constant(vals, rate=8000)
    s, rate = decode_audio(np.frombuffer(wav, np.uint8))
    assert rate == 8000 and s.shape == (54, 1)
    np.testing.assert_array_equal(s[:, 0], np.repeat(vals, 9))
    # stereo: 3 blocks x 2 channels of constant headers; block_align 16
    # -> 9 frames per block, L/R streams independent
    sval = vals.reshape(3, 2)
    wav2 = encode_ima_adpcm_constant(sval, rate=22050, channels=2)
    s2, rate2 = decode_audio(np.frombuffer(wav2, np.uint8))
    assert rate2 == 22050 and s2.shape == (27, 2)
    np.testing.assert_array_equal(s2[:, 0], np.repeat(sval[:, 0], 9))
    np.testing.assert_array_equal(s2[:, 1], np.repeat(sval[:, 1], 9))
