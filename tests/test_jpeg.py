"""Baseline JPEG codec (operators/jpeg.py): the shipped batch decoder is
pinned against an IN-TEST reference IDCT (explicit basis-matrix math
recomputed here, not the decoder's own), the lossless constant-block
fixture shape the gate query relies on, subsampled color, restart
intervals, loud rejection of non-baseline streams and malformed Huffman
tables, and byte identity with the scalar decoder of
tests/scalar_oracle/media.py on clean and corrupt payloads.  The gate
query's value check is the DuckDB byte-math oracle (jpeg_decode_stats);
these tests cover the paths the DC-only gate payloads cannot reach (AC
runs, ZRL, 4:2:0 MCUs, RSTn)."""

from __future__ import annotations

import importlib.util
import struct
import time

import numpy as np
import pytest

from scalar_oracle import media
from streamvbyte_spark.operators.jpeg import (_STD_DC_LUM, ZIGZAG,
                                              PayloadError, _dht_segment,
                                              _parse_jpeg,
                                              encode_baseline_jpeg,
                                              encode_gray_blocks_jpeg)
from streamvbyte_spark.operators.multimodal import (_decode_image_batch,
                                                    decode_image)


def _pil_installed() -> bool:
    return importlib.util.find_spec("PIL") is not None


def _batch(payloads: list) -> list[np.ndarray]:
    """Decode payloads as one Arrow batch through the image dispatcher."""
    flat = np.frombuffer(b"".join(payloads), np.uint8)
    return _decode_image_batch(flat,
                               np.cumsum([0] + [len(p) for p in payloads]))


def _ref_idct_plane(blocks, q, hb, wb):
    """Independent IDCT: explicit DCT-II basis built HERE from the T.81
    formula (not the module's matrix), same round/clamp policy."""
    x = np.arange(8)
    m = 0.5 * np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    m[0] *= 1 / np.sqrt(2)
    out = np.empty((hb * 8, wb * 8))
    for i in range(hb):
        for j in range(wb):
            F = np.zeros(64)
            F[ZIGZAG] = blocks[i, j] * q
            f = m.T @ F.reshape(8, 8) @ m
            out[i * 8:(i + 1) * 8, j * 8:(j + 1) * 8] = \
                np.clip(np.round(f) + 128, 0, 255)
    return out.astype(np.uint8)


def test_constant_blocks_lossless():
    """The gate fixture shape: all-ones quant + constant blocks is
    LOSSLESS (DC = 8*(c-128) exact, zero AC) — every pixel bit-exact,
    including byte values that force DC categories up to 11 and the
    0xFF byte-stuffing path."""
    vals = np.array([0, 255, 128, 1, 254, 127, 129, 200, 55, 13])
    img = decode_image(encode_gray_blocks_jpeg(vals, width_blocks=2))
    assert img.shape == (40, 16, 3)
    want = np.repeat(np.repeat(vals.reshape(5, 2), 8, 0), 8, 1)
    for ch in range(3):  # grayscale replicated like PIL convert('RGB')
        assert np.array_equal(img[:, :, ch], want)


def test_random_ac_blocks_match_reference_idct():
    """Random sparse AC coefficients exercise Huffman AC run/size symbols,
    ZRL (16-zero runs), EOB placement, and a non-trivial quant table; the
    decoder must equal the in-test reference IDCT exactly."""
    rng = np.random.default_rng(11)
    q = rng.integers(1, 20, 64)
    hb, wb = 4, 5
    blocks = np.zeros((hb, wb, 64), np.int64)
    for i in range(hb):
        for j in range(wb):
            nz = int(rng.integers(0, 12))
            idx = rng.choice(64, nz, replace=False)
            blocks[i, j, idx] = rng.integers(-255, 256, nz)
    # force a ZRL: one block with only coefficient 63 set
    blocks[0, 0] = 0
    blocks[0, 0, 63] = 77
    jp = encode_baseline_jpeg(
        [{"id": 1, "h": 1, "v": 1, "tq": 0, "blocks": blocks}],
        h=hb * 8, w=wb * 8, quant={0: q})
    got = decode_image(jp)[:, :, 0]
    assert np.array_equal(got, _ref_idct_plane(blocks, q, hb, wb))


def test_420_color_and_cropping():
    """2x2-subsampled chroma (4:2:0): MCU interleave, per-component block
    grids, pixel-replication upsample, JFIF YCbCr->RGB — constant planes
    make the expected RGB analytically exact.  Odd dimensions crop the
    padded MCU grid."""
    y_v, cb_v, cr_v = 120, 90, 200
    Y = np.zeros((2, 4, 64), np.int64)
    Y[:, :, 0] = 8 * (y_v - 128)
    Cb = np.zeros((1, 2, 64), np.int64)
    Cb[:, :, 0] = 8 * (cb_v - 128)
    Cr = np.zeros((1, 2, 64), np.int64)
    Cr[:, :, 0] = 8 * (cr_v - 128)
    comps = [{"id": 1, "h": 2, "v": 2, "tq": 0, "blocks": Y},
             {"id": 2, "h": 1, "v": 1, "tq": 1, "blocks": Cb},
             {"id": 3, "h": 1, "v": 1, "tq": 1, "blocks": Cr}]
    q = np.ones(64, np.int64)
    for h, w in ((16, 32), (13, 27)):  # full MCUs and cropped
        img = decode_image(encode_baseline_jpeg(comps, h=h, w=w,
                                                quant={0: q, 1: q}))
        assert img.shape == (h, w, 3)
        r = int(np.clip(round(y_v + 1.402 * (cr_v - 128)), 0, 255))
        g = int(np.clip(round(y_v - 0.344136 * (cb_v - 128)
                              - 0.714136 * (cr_v - 128)), 0, 255))
        b = int(np.clip(round(y_v + 1.772 * (cb_v - 128)), 0, 255))
        assert (img == np.array([r, g, b])).all()


def test_restart_intervals():
    """DRI/RSTn: DC predictors reset at every restart marker and the
    entropy stream re-aligns to a byte boundary; values must not change."""
    rng = np.random.default_rng(13)
    vals = rng.integers(0, 256, 14)
    plain = decode_image(encode_gray_blocks_jpeg(vals, width_blocks=2))
    hb = vals.size // 2
    blocks = np.zeros((hb, 2, 64), np.int64)
    blocks[:, :, 0] = 8 * (vals[:hb * 2].reshape(hb, 2) - 128)
    jp = encode_baseline_jpeg(
        [{"id": 1, "h": 1, "v": 1, "tq": 0, "blocks": blocks}],
        h=hb * 8, w=16, quant={0: np.ones(64, np.int64)},
        restart_interval=3)
    assert b"\xff\xd0" in jp or b"\xff\xd1" in jp
    assert np.array_equal(decode_image(jp), plain)


def test_non_baseline_rejected_loudly():
    """Progressive (SOF2) must raise NotImplementedError so decode_image
    can fall through to PIL; garbage must not pass as JPEG."""
    jp = bytearray(encode_gray_blocks_jpeg(np.array([10, 20]), 2))
    sof = jp.find(b"\xff\xc0")
    jp[sof + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="SOF"):
        _parse_jpeg(bytes(jp))
    if not _pil_installed():
        with pytest.raises(NotImplementedError):
            decode_image(bytes(jp))
    with pytest.raises(ValueError, match="SOI"):
        _parse_jpeg(b"not a jpeg")


def test_decode_image_dispatches_jpeg():
    """decode_image routes FFD8 payloads to the native decoder (the gate
    path, with or without PIL installed)."""
    vals = np.array([33, 77, 200, 5])
    img = decode_image(np.frombuffer(
        encode_gray_blocks_jpeg(vals, 2), np.uint8))
    want = np.repeat(np.repeat(vals.reshape(2, 2), 8, 0), 8, 1)
    assert np.array_equal(img[:, :, 0], want)


def test_pil_crosscheck_if_available():
    """When PIL is installed, it must agree bit-exactly on the lossless
    constant-block grayscale fixture (skipped in containers without it)."""
    PIL = pytest.importorskip("PIL.Image")
    import io
    vals = np.arange(0, 256, 17)
    jp = encode_gray_blocks_jpeg(vals, width_blocks=3)
    ours = decode_image(jp)
    theirs = np.asarray(PIL.open(io.BytesIO(jp)).convert("RGB"))
    assert np.array_equal(ours, theirs)


def test_jpeg_batch_matches_single():
    """The lockstep batch decoder (one lane per restart segment, one
    Huffman symbol per lane per iteration) must be byte-identical to the
    scalar oracle on every payload: grayscale random AC (runs, ZRL, EOB),
    4:2:0 color with cropping, restart intervals, DC categories up to 11,
    mixed sizes in one batch."""
    rng = np.random.default_rng(21)
    payloads = []
    for hb, wb in [(2, 3), (4, 5), (1, 1)]:
        q = rng.integers(1, 20, 64)
        blocks = np.zeros((hb, wb, 64), np.int64)
        for i in range(hb):
            for j in range(wb):
                nz = int(rng.integers(0, 12))
                idx = rng.choice(64, nz, replace=False)
                blocks[i, j, idx] = rng.integers(-255, 256, nz)
        payloads.append(encode_baseline_jpeg(
            [{"id": 1, "h": 1, "v": 1, "tq": 0, "blocks": blocks}],
            h=hb * 8, w=wb * 8, quant={0: q}))
    Y = np.zeros((2, 4, 64), np.int64)
    Y[:, :, 0] = rng.integers(-900, 900, (2, 4))
    Cb = np.zeros((1, 2, 64), np.int64)
    Cb[:, :, 0] = rng.integers(-900, 900, (1, 2))
    Cr = np.zeros((1, 2, 64), np.int64)
    Cr[:, :, 0] = rng.integers(-900, 900, (1, 2))
    ones = np.ones(64, np.int64)
    payloads.append(encode_baseline_jpeg(
        [{"id": 1, "h": 2, "v": 2, "tq": 0, "blocks": Y},
         {"id": 2, "h": 1, "v": 1, "tq": 1, "blocks": Cb},
         {"id": 3, "h": 1, "v": 1, "tq": 1, "blocks": Cr}],
        h=13, w=27, quant={0: ones, 1: ones}))
    vals = rng.integers(0, 256, 14)
    blocks = np.zeros((7, 2, 64), np.int64)
    blocks[:, :, 0] = 8 * (vals.reshape(7, 2) - 128)
    payloads.append(encode_baseline_jpeg(
        [{"id": 1, "h": 1, "v": 1, "tq": 0, "blocks": blocks}],
        h=56, w=16, quant={0: ones}, restart_interval=3))
    payloads.append(encode_gray_blocks_jpeg(np.array([0, 255, 128, 13]), 2))
    for i, (p, got) in enumerate(zip(payloads, _batch(payloads))):
        np.testing.assert_array_equal(got, media.decode_jpeg(p),
                                      err_msg=str(i))
    # mixed with a PPM, which the dispatcher decodes per payload
    ppm = b"P6\n2 2\n255\n" + bytes(range(12))
    mixed = [payloads[1], ppm, payloads[3], payloads[5]]
    got = _batch(mixed)
    np.testing.assert_array_equal(
        got[1], np.arange(12, dtype=np.uint8).reshape(2, 2, 3))
    for k in (0, 2, 3):
        np.testing.assert_array_equal(got[k], media.decode_jpeg(mixed[k]))


def test_jpeg_batch_corrupt_payload_matches_oracle():
    """A corrupt payload in a batch gets exactly the scalar oracle's
    outcome.  A truncated entropy stream decodes: past the end of its
    segment a lane reads zero bits, as the oracle's reader does, and the
    clean neighbours decode unchanged.  An invalid Huffman code raises
    PayloadError (a ValueError) naming the payload's index."""
    rng = np.random.default_rng(33)
    good_a = encode_gray_blocks_jpeg(np.array([10, 200, 45, 99]), 2)
    good_b = encode_gray_blocks_jpeg(rng.integers(0, 256, 8), 2)
    # long random-AC payload, entropy chopped to ~30%: plenty of units
    # remain, so the lane runs far past its segment end
    blocks = np.zeros((8, 8, 64), np.int64)
    for i in range(8):
        for j in range(8):
            idx = rng.choice(64, 10, replace=False)
            blocks[i, j, idx] = rng.integers(-255, 256, 10)
    jp = encode_baseline_jpeg(
        [{"id": 1, "h": 1, "v": 1, "tq": 0, "blocks": blocks}],
        h=64, w=64, quant={0: np.ones(64, np.int64)})
    sos = jp.find(b"\xff\xda")
    ent0 = sos + 4 + int.from_bytes(jp[sos + 2:sos + 4], "big") - 2
    cut = ent0 + (len(jp) - 2 - ent0) * 3 // 10
    while jp[cut - 1] == 0xFF or jp[cut] == 0xFF:
        cut -= 1                       # never split a stuffing pair
    truncated = jp[:cut] + b"\xff\xd9"
    got = _batch([good_a, truncated, good_b])
    for p, g in zip([good_a, truncated, good_b], got):
        np.testing.assert_array_equal(g, media.decode_jpeg(p))
    # sixteen 1-bits (FF00 de-stuffs to FF) match no Annex K DC code
    bad = jp[:ent0] + b"\xff\x00\xff\x00" + jp[ent0 + 4:]
    with pytest.raises(ValueError, match="Huffman"):
        media.decode_jpeg(bad)
    with pytest.raises(PayloadError, match="Huffman") as err:
        _batch([good_a, bad, good_b])
    assert err.value.index == 1


def test_declared_frame_beyond_payload_raises_fast():
    """Decode cost is bounded by the payload, not the declared frame: each
    data unit costs at least 2 entropy bits, so a header declaring more
    than 4 units per entropy byte raises ValueError in _parse_jpeg, which
    the shipped decoder and the scalar oracle share.  Unbounded, a 319-byte
    JPEG raised to 2,064 rows decoded zero bits for 4.3 s, and 65,535 x
    65,535 sized tens of GB of coefficients."""
    jp = encode_gray_blocks_jpeg(np.array([0, 30]), 2)
    assert len(jp) == 319
    sof = jp.find(b"\xff\xc0")
    tall = jp[:sof + 5] + struct.pack(">H", 2064) + jp[sof + 7:]
    huge = jp[:sof + 5] + struct.pack(">HH", 65535, 65535) + jp[sof + 9:]
    for p in (tall, huge):
        t0 = time.perf_counter()
        with pytest.raises(ValueError, match="declares .* data units"):
            decode_image(p)
        with pytest.raises(ValueError, match="declares .* data units"):
            media.decode_jpeg(p)
        assert time.perf_counter() - t0 < 0.5
    assert decode_image(jp).shape == (8, 16, 3)


def test_zero_size_frame_with_restarts_decodes_alone():
    """A frame of zero height has no blocks, so with a restart interval it
    must get no lockstep lane at all: a lane there would decode its
    segment into the NEXT image's coefficients (or past the last one)."""
    rng = np.random.default_rng(8)
    blocks = np.zeros((3, 2, 64), np.int64)
    blocks[..., 1:20] = rng.integers(-60, 60, (3, 2, 19))
    jp = encode_baseline_jpeg(
        [{"id": 1, "h": 1, "v": 1, "tq": 0, "blocks": blocks}],
        h=24, w=16, quant={0: np.ones(64, np.int64)}, restart_interval=1)
    sof = jp.find(b"\xff\xc0")
    empty = jp[:sof + 5] + b"\x00\x00" + jp[sof + 7:]      # height 0
    assert media.decode_jpeg(empty).shape == (0, 16, 3)
    for batch in ([empty, jp], [jp, empty]):
        for p, got in zip(batch, _batch(batch)):
            np.testing.assert_array_equal(got, media.decode_jpeg(p))


def _with_extra_dht(jp: bytes, body: bytes) -> bytes:
    """jp with one more DHT segment (raw body) right before its SOS."""
    sos = jp.find(b"\xff\xda")
    seg = b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    return jp[:sos] + seg + jp[sos:]


_BITS_1x2 = bytes([2] + [0] * 15)           # two 1-bit codes


@pytest.mark.parametrize("body", [
    bytes([0x00]) + bytes(10),                        # bits cut short
    bytes([0x00]) + _BITS_1x2 + bytes([0]),           # huffval cut short
    bytes([0x00, 3] + [0] * 15) + bytes([0, 1, 2]),   # 3 codes of 1 bit
    bytes([0x00]) + _BITS_1x2 + bytes([0, 12]),       # DC category 12
    bytes([0x10]) + _BITS_1x2 + bytes([0x00, 0x1B]),  # AC size 11
], ids=["truncated_bits", "truncated_huffval", "oversubscribed",
        "dc_category_12", "ac_size_11"])
def test_malformed_dht_rejected(body):
    """T.81 F.1.2 bounds: a malformed DHT raises ValueError at parse time
    in both decoders (they share _parse_jpeg), before the lockstep
    machine's 32-bit peek could wrap on an oversized symbol."""
    jp = _with_extra_dht(encode_gray_blocks_jpeg(np.array([3, 250]), 2),
                         body)
    with pytest.raises(ValueError, match="DHT|Huffman"):
        _parse_jpeg(jp)
    with pytest.raises(PayloadError):
        decode_image(jp)


def test_dht_repeated_symbol_decodes_every_code():
    """A DHT may list a symbol twice; each of its codes must still decode.
    The Annex K DC table with category 11 replaced by a second category 0
    keeps the stream valid for data that never uses category 11."""
    bits, huffval = _STD_DC_LUM
    dht = _dht_segment(0, 0, bits, huffval)
    jp = encode_gray_blocks_jpeg(np.array([40, 40, 41, 41, 90, 90]), 2)
    assert jp.count(dht) == 1
    dup = jp.replace(dht, _dht_segment(0, 0, bits, huffval[:11] + [0]))
    want = media.decode_jpeg(dup)
    np.testing.assert_array_equal(want, media.decode_jpeg(jp))
    np.testing.assert_array_equal(_batch([jp, dup])[1], want)


def _segment(jp: bytes, marker: int) -> tuple[int, int]:
    """(start, end) of the first segment with this marker code."""
    start = jp.find(bytes([0xFF, marker]))
    return start, start + 2 + int.from_bytes(jp[start + 2:start + 4], "big")


def _edit(jp: bytes, marker: int, body_off: int, value: int) -> bytes:
    """jp with one byte of a segment body overwritten."""
    at = _segment(jp, marker)[0] + 4 + body_off
    return jp[:at] + bytes([value]) + jp[at + 1:]


def _short_segment(jp: bytes, marker: int, keep: int) -> bytes:
    """jp with a segment cut to its first `keep` body bytes."""
    start, end = _segment(jp, marker)
    seg = bytes([0xFF, marker]) + struct.pack(">H", 2 + keep) \
        + jp[start + 4:start + 4 + keep]
    return jp[:start] + seg + jp[end:]


def _before_sos(jp: bytes, seg: bytes) -> bytes:
    sos = jp.find(b"\xff\xda")
    return jp[:sos] + seg + jp[sos:]


_GRAY = encode_gray_blocks_jpeg(np.array([3, 250, 17, 99]), 2)


@pytest.mark.parametrize("jp", [
    _short_segment(_GRAY, 0xC0, 4),                      # was struct.error
    _before_sos(_GRAY, b"\xff\xdd\x00\x03\x00"),          # was struct.error
    _short_segment(_GRAY, 0xDB, 11),                     # 10-entry table
    _edit(_GRAY, 0xDA, 1, 9),                            # was StopIteration
    _edit(_GRAY, 0xDA, 2, 0x11),                         # was KeyError
    _edit(_GRAY, 0xC0, 8, 3),                            # was KeyError
], ids=["short_sof0", "short_dri", "short_dqt", "sos_undeclared_component",
        "sos_undefined_huffman_table", "undefined_quant_table"])
def test_malformed_header_raises_value_error(jp):
    """Every malformed header raises ValueError from the shared parser, so
    the batch decoder and the scalar oracle fail the same way."""
    with pytest.raises(ValueError):
        _parse_jpeg(jp)
    with pytest.raises(ValueError):
        media.decode_jpeg(jp)
    with pytest.raises(PayloadError):
        decode_image(jp)


def test_peek_lut_cache_is_bounded():
    """The 2^16 peek-LUT cache is LRU-bounded: a corpus of JPEGs with many
    distinct optimized Huffman tables must not grow executor memory for
    process lifetime, and re-use must still hit."""
    from streamvbyte_spark.operators.jpeg import (_PEEK_LUT_CAP, _PEEK_LUTS,
                                                  _HuffTable, _peek_lut)
    tables = []
    for k in range(_PEEK_LUT_CAP + 8):
        # distinct 2-symbol tables: one 2-bit and one 3-bit code, symbol
        # values varying with k so every canonical assignment is unique
        bits = [0, 1, 1] + [0] * 13
        tables.append(_HuffTable(bits, bytes([k % 251, (k * 7 + 1) % 251])))
    syms = [_peek_lut(t)[0] for t in tables]
    assert len(_PEEK_LUTS) <= _PEEK_LUT_CAP
    # most-recent table hits (same array object back)
    assert _peek_lut(tables[-1])[0] is syms[-1]
    # evicted tables rebuild with identical CONTENT
    rebuilt = _peek_lut(tables[0])[0]
    np.testing.assert_array_equal(rebuilt, syms[0])
