"""Corruption fuzz of the shipped image kernels against the scalar oracle.

Each example takes one clean payload — a grayscale or 4:2:0 baseline JPEG
with restart interval 0, 1 or 2, or an RGB/RGBA PNG whose rows use all five
filters — and corrupts it once: a bit flip, a truncation or a byte
overwrite.  The corrupt payload decodes between two clean payloads of the
same format through the batch dispatcher (`_decode_image_batch`), so it
shares the lockstep kernels with clean lanes.  The outcome must be the
oracle's (tests/scalar_oracle/media.py): the same pixels, or the same
exception type, where a ValueError is a PayloadError naming the corrupt
payload's index.  When the corrupt payload decodes, its clean neighbours
must still decode to their clean images.  No other exception type may
escape either decoder.

Decode time grows with the frame size a JPEG header DECLARES: past the end
of a segment a lane reads zero bits, so a flipped height byte can demand
hundreds of 63-symbol blocks.  `_parse_jpeg` rejects a frame declaring more
than 4 blocks per entropy byte (each block costs at least 2 bits), but
that still admits hundreds here, so examples whose corrupt header declares
more than _MAX_UNITS blocks are skipped to keep the test within seconds.
"""

from __future__ import annotations

import importlib.util

import numpy as np
import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from scalar_oracle import media
from streamvbyte_spark.operators.jpeg import (PayloadError, _parse_jpeg,
                                              _scan_layout,
                                              encode_baseline_jpeg)
from streamvbyte_spark.operators.multimodal import (_PNG_SIG,
                                                    _decode_image_batch,
                                                    _decode_per_payload,
                                                    encode_png)

pytestmark = pytest.mark.skipif(
    importlib.util.find_spec("PIL") is not None,
    reason="with PIL installed, payloads the native kernels reject decode "
           "through PIL, which the oracle does not model")

_MAX_UNITS = 96   # 4x the largest fixture's 24 blocks


def _jpeg_fixtures(rng) -> list[bytes]:
    out = []
    for ri in (0, 1, 2):
        blocks = np.zeros((2, 3, 64), np.int64)
        for i in range(2):
            for j in range(3):
                nz = int(rng.integers(1, 12))
                idx = rng.choice(64, nz, replace=False)
                blocks[i, j, idx] = rng.integers(-255, 256, nz)
        out.append(encode_baseline_jpeg(
            [{"id": 1, "h": 1, "v": 1, "tq": 0, "blocks": blocks}],
            h=13, w=24, quant={0: rng.integers(1, 20, 64)},
            restart_interval=ri))
    ones = np.ones(64, np.int64)
    for ri in (0, 1, 2):
        Y = np.zeros((4, 4, 64), np.int64)
        Y[..., 0] = rng.integers(-900, 900, (4, 4))
        Y[..., 1:4] = rng.integers(-50, 50, (4, 4, 3))
        Cb = np.zeros((2, 2, 64), np.int64)
        Cb[..., 0] = rng.integers(-900, 900, (2, 2))
        Cr = np.zeros((2, 2, 64), np.int64)
        Cr[..., 0] = rng.integers(-900, 900, (2, 2))
        Cr[..., 5] = 7
        out.append(encode_baseline_jpeg(
            [{"id": 1, "h": 2, "v": 2, "tq": 0, "blocks": Y},
             {"id": 2, "h": 1, "v": 1, "tq": 1, "blocks": Cb},
             {"id": 3, "h": 1, "v": 1, "tq": 1, "blocks": Cr}],
            h=29, w=27, quant={0: ones, 1: ones}, restart_interval=ri))
    return out


def _png_fixtures(rng) -> list[bytes]:
    return [encode_png(rng.integers(0, 256, (h, w, nch), dtype=np.uint8))
            for h, w, nch in [(6, 5, 3), (7, 4, 4), (5, 3, 3), (9, 2, 4)]]


_RNG = np.random.default_rng(5)
_GROUPS = [_jpeg_fixtures(_RNG), _png_fixtures(_RNG)]
_CLEAN = [(g, k) for g, fx in enumerate(_GROUPS) for k in range(len(fx))]


def _oracle(payload: bytes) -> np.ndarray:
    """The scalar decoders, routed by magic bytes like the dispatcher."""
    if payload[:8] == _PNG_SIG:
        return media.decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return media.decode_jpeg(payload)
    return _decode_per_payload(np.frombuffer(payload, np.uint8))


def _declared_units(payload: bytes) -> int:
    try:
        _, frame, scan, *_ = _parse_jpeg(payload)
    except (ValueError, NotImplementedError):
        return 0
    return _scan_layout(frame, scan)["n_units"]


@settings(max_examples=300, deadline=None)
@given(clean=st.sampled_from(_CLEAN),
       kind=st.sampled_from(["flip", "truncate", "overwrite"]),
       data=st.data())
def test_corrupt_payload_matches_oracle(clean, kind, data):
    group, k = clean
    fixtures = _GROUPS[group]
    p = bytearray(fixtures[k])
    pos = data.draw(st.integers(0, len(p) - 1), label="pos")
    if kind == "flip":
        p[pos] ^= 1 << data.draw(st.integers(0, 7), label="bit")
    elif kind == "truncate":
        del p[pos:]
    else:
        p[pos] = data.draw(st.integers(0, 255), label="value")
    corrupt = bytes(p)
    assume(_declared_units(corrupt) <= _MAX_UNITS)
    left = fixtures[(k + 1) % len(fixtures)]
    right = fixtures[(k + 2) % len(fixtures)]

    try:
        want = _oracle(corrupt)
    except (ValueError, NotImplementedError) as e:
        want = e
    batch = [left, corrupt, right]
    flat = np.frombuffer(b"".join(batch), np.uint8)
    offsets = np.cumsum([0] + [len(b) for b in batch])
    try:
        got = _decode_image_batch(flat, offsets)
    except (ValueError, NotImplementedError) as e:
        got = e

    if isinstance(want, np.ndarray):
        assert isinstance(got, list), f"oracle decodes, batch raised {got!r}"
        np.testing.assert_array_equal(got[1], want)
        np.testing.assert_array_equal(got[0], _oracle(left))
        np.testing.assert_array_equal(got[2], _oracle(right))
    elif isinstance(want, NotImplementedError):
        assert isinstance(got, NotImplementedError), got
    else:
        assert isinstance(got, PayloadError), got
        assert got.index == 1
