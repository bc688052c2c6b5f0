"""Pure-NumPy codec tests of the scalar oracle (scalar_oracle.core) — pytest
port of the reference test corpus.

Mirrors /root/reference/tests/unit.c (basictests, aqrittests, zigzag tests,
compressedbytes golden sizes, issue69) and the README.md:228-242 worked
example. No Spark involved: this is the trust anchor for everything above.
"""

from __future__ import annotations

import numpy as np
import pytest

from scalar_oracle import core
from streamvbyte_spark import codecs


RNG = np.random.default_rng(42)

LENGTHS = list(range(0, 129)) + [256, 512, 1024, 2048, 4096]
GAPS_1234 = [3 ** i for i in range(0, 19)]
GAPS_DELTA = [3 ** i for i in range(0, 13)]


def near_sorted(length: int, gap: int) -> np.ndarray:
    """datain[k] = datain[k-1] + gap - 1 + rand()%8 (tests/unit.c:101-103)."""
    if length == 0:
        return np.zeros(0, dtype=np.uint32)
    steps = RNG.integers(0, 8, size=length, dtype=np.uint64) + np.uint64(gap - 1)
    steps[0] = RNG.integers(0, 8)
    return np.cumsum(steps).astype(np.uint32)


# ------------------------------------------------------------------ basictests

@pytest.mark.parametrize("gap", GAPS_1234)
def test_basictests_1234_and_0124(gap):
    for length in LENGTHS:
        v = near_sorted(length, gap)
        for enc, dec, size, val in [
            (core.encode, core.decode, core.compressed_size, core.validate),
            (core.encode_0124, core.decode_0124, core.compressed_size_0124, core.validate_0124),
        ]:
            buf = enc(v)
            assert len(buf) == size(v)
            assert val(buf, length)
            out = dec(buf, length)
            np.testing.assert_array_equal(out, v)


@pytest.mark.parametrize("gap", GAPS_DELTA)
def test_basictests_delta(gap):
    for length in LENGTHS:
        v = (np.arange(length, dtype=np.uint64) * gap).astype(np.uint32)
        buf = core.delta_encode(v, prev=0)
        assert len(buf) == core.delta_compressed_size(v, prev=0)
        out = core.delta_decode(buf, length, prev=0)
        np.testing.assert_array_equal(out, v)


def test_delta_chunk_seam_prev_chaining():
    """Delta chains are resumable from any split given (count, prev)."""
    v = np.cumsum(RNG.integers(0, 1000, size=1000, dtype=np.uint64)).astype(np.uint32)
    for cut in [0, 1, 3, 4, 499, 997, 1000]:
        a, b = v[:cut], v[cut:]
        prev_b = int(v[cut - 1]) if cut > 0 else 0
        buf_a = core.delta_encode(a, prev=0)
        buf_b = core.delta_encode(b, prev=prev_b)
        out = np.concatenate([
            core.delta_decode(buf_a, a.size, prev=0),
            core.delta_decode(buf_b, b.size, prev=prev_b),
        ])
        np.testing.assert_array_equal(out, v)


def test_delta_wraparound():
    # decreasing input -> deltas wrap around uint32; must still round-trip
    v = np.array([10, 5, 0, 0xFFFFFFFF, 3], dtype=np.uint32)
    buf = core.delta_encode(v, prev=7)
    np.testing.assert_array_equal(core.delta_decode(buf, 5, prev=7), v)


# ------------------------------------------------------------------ aqrittests

def test_aqrit_exhaustive_bit_patterns():
    """All 2^16 arrangements of 16 bytes in {0,1} viewed as 4 uint32
    (tests/unit.c:187-252) — round-trip + validate, both schemes."""
    i = np.arange(1 << 16, dtype=np.uint32)
    bits = ((i[:, None] >> np.arange(16)) & 1).astype(np.uint8)  # (65536,16)
    quads = np.ascontiguousarray(bits).view(np.uint32).reshape(-1, 4)
    # spot-check the full loop on a stride + all boundary patterns to keep runtime sane
    idx = np.unique(np.concatenate([np.arange(0, 1 << 16, 7), np.arange(256), np.arange((1 << 16) - 256, 1 << 16)]))
    for k in idx:
        v = quads[k]
        for enc, dec, val in [
            (core.encode, core.decode, core.validate),
            (core.encode_0124, core.decode_0124, core.validate_0124),
        ]:
            buf = enc(v)
            assert val(buf, 4)
            np.testing.assert_array_equal(dec(buf, 4), v)


# -------------------------------------------------------------------- zigzag

def test_zigzag_golden_fixtures():
    """Protobuf-documented pairs (tests/unit.c:60-87)."""
    signed = np.array([0, -1, 1, -2, 2**31 - 1, -(2**31)], dtype=np.int32)
    unsigned = np.array([0, 1, 2, 3, 2**32 - 2, 2**32 - 1], dtype=np.uint32)
    np.testing.assert_array_equal(core.zigzag_encode(signed), unsigned)
    np.testing.assert_array_equal(core.zigzag_decode(unsigned), signed)


def test_zigzag_roundtrip_random():
    v = (RNG.integers(-(2**31), 2**31, size=4096, dtype=np.int64)).astype(np.int32)
    np.testing.assert_array_equal(core.zigzag_decode(core.zigzag_encode(v)), v)
    np.testing.assert_array_equal(core.zigzag_delta_decode(core.zigzag_delta_encode(v, 5), 5), v)
    # full stream composites
    buf = core.encode_zigzag_stream(v)
    np.testing.assert_array_equal(core.decode_zigzag_stream(buf, v.size), v)
    buf = core.encode_zzdelta_stream(v, prev=-3)
    np.testing.assert_array_equal(core.decode_zzdelta_stream(buf, v.size, prev=-3), v)


# ------------------------------------------------------------- golden sizes

def test_compressedbytes_golden():
    """tests/unit.c:254-308 exact sizes."""
    assert core.compressed_size(np.array([1] * 4, np.uint32)) == 5
    assert core.compressed_size(np.array([260] * 4, np.uint32)) == 9
    assert core.compressed_size(np.array([0xFFFFFFFF] * 4, np.uint32)) == 17
    assert core.compressed_size(np.zeros(0, np.uint32)) == 0
    assert core.compressed_size_0124(np.array([0] * 4, np.uint32)) == 1
    assert core.compressed_size_0124(np.zeros(0, np.uint32)) == 0
    # sizes must equal actual encoded lengths
    for v in [np.array([1] * 4, np.uint32), np.array([260] * 4, np.uint32)]:
        assert len(core.encode(v)) == core.compressed_size(v)
        assert len(core.encode_0124(v)) == core.compressed_size_0124(v)


def test_readme_worked_example_golden_bytes():
    """README.md:228-242: (0,100,...,700) -> 40 55 00 64 c8 2c 01 90 01 f4 01 58 02 bc 02.

    Pins both the scalar oracle and the shipped kernel (codecs["svb"])
    to the spec's bytes directly, not through each other."""
    v = np.arange(0, 800, 100, dtype=np.uint32)
    expected = bytes.fromhex("40 55 00 64 c8 2c 01 90 01 f4 01 58 02 bc 02".replace(" ", ""))
    for encode, decode in ((core.encode, core.decode),
                           (codecs["svb"].encode, codecs["svb"].decode)):
        assert encode(v) == expected
        np.testing.assert_array_equal(decode(expected, 8), v)


def test_empty_and_tail_groups():
    assert core.encode(np.zeros(0, np.uint32)) == b""
    assert core.decode(b"", 0).size == 0
    assert core.validate(b"", 0)
    assert not core.validate(b"", 3)
    assert not core.validate(b"\x00", 0)
    for n in [1, 2, 3, 5, 6, 7]:
        v = RNG.integers(0, 2**32, size=n, dtype=np.uint64).astype(np.uint32)
        np.testing.assert_array_equal(core.decode(core.encode(v), n), v)


def test_issue69_regression():
    """22 fixed ints (tests/unit.c:2786-2805): compsize == len(encoded)."""
    v = np.array(
        [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 4294967295, 12, 13, 14, 15, 16,
         17, 18, 19, 20, 21, 22], dtype=np.uint32)
    buf = core.encode(v)
    assert len(buf) == core.compressed_size(v)
    np.testing.assert_array_equal(core.decode(buf, v.size), v)


def test_validate_rejects_corrupt_lengths():
    v = RNG.integers(0, 2**32, size=64, dtype=np.uint64).astype(np.uint32)
    buf = core.encode(v)
    assert core.validate(buf, 64)
    assert not core.validate(buf[:-1], 64)   # truncated data
    assert not core.validate(buf + b"\x00", 64)  # trailing junk
    assert not core.validate(buf[1:], 64)    # missing control byte


def test_decode_encode_stability_length_recovery():
    """issue42-shaped property: decode(stream) re-encodes to identical size.

    The reference embeds a 36KB golden stream (tests/unit.c:310-2783); we
    reproduce the property on a same-shaped synthetic stream: a posting-list
    style delta stream where re-encode of the decode must be byte-identical.
    """
    vals = np.cumsum(RNG.zipf(1.3, size=29159) % 100000).astype(np.uint32)
    stream = core.encode(vals)
    out = core.decode(stream, vals.size)
    assert core.encode(out) == stream
    assert len(core.encode(out)) == len(stream)


def test_max_compressed_size_bound():
    for n in [0, 1, 4, 100]:
        v = np.full(n, 0xFFFFFFFF, dtype=np.uint32)
        assert len(core.encode(v)) <= core.max_compressed_size(n)


def test_issue42_golden_stream_verbatim():
    """The reference's load-bearing regression asset, ported byte-for-byte:
    the 36,494-byte svb stream embedded at /root/reference/tests/unit.c:310-2783
    must decode to exactly 29,159 uint32s and re-encode to an identical
    stream (the reference checks sizes; canonical svb encoding makes the
    stronger byte-identity check hold too)."""
    import os
    path = os.path.join(os.path.dirname(__file__), "fixtures",
                        "issue42_stream.bin")
    stream = open(path, "rb").read()
    assert len(stream) == 36494
    ORIG_SIZE = 29159
    assert core.validate(stream, ORIG_SIZE)
    vals = core.decode(stream, ORIG_SIZE)
    assert vals.size == ORIG_SIZE
    re_enc = core.encode(vals)
    assert len(re_enc) == 36494            # unit.c: newcompsize == COMPRESSED_SIZE
    assert re_enc == stream                # canonical-form byte identity
    assert core.compressed_size(vals) == 36494
    np.testing.assert_array_equal(core.decode(re_enc, ORIG_SIZE), vals)
    # batched kernel parity on the same golden data
    from streamvbyte_spark.codec import batched
    offsets = np.array([0, ORIG_SIZE], dtype=np.int64)
    out, ooff, cids = batched.encode_rows(vals, offsets, codec="svb")
    assert out.tobytes() == stream
    dec, doff = batched.decode_rows(
        np.frombuffer(stream, dtype=np.uint8),
        np.array([0, len(stream)], dtype=np.int64),
        np.array([ORIG_SIZE], dtype=np.int64), cids)
    np.testing.assert_array_equal(dec, vals)
