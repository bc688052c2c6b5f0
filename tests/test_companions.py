"""Companion codec + auto-selector tests.

Property: for every codec, cost(v) == len(encode(v)) exactly, and
decode(encode(v), n) == v bit-identically — for the scalar oracle and for the
public ``streamvbyte_spark.codecs`` (the shipped batched kernels), whose bytes
must equal the oracle's. Selector: winner is argmin size, and auto-selected
size <= reference streamvbyte size (BASELINE.md criterion).
"""

from __future__ import annotations

import numpy as np
import pytest

import streamvbyte_spark
from scalar_oracle import companions, core, select
from streamvbyte_spark.codec import batched

REGISTRIES = {"oracle": select.REGISTRY, "codecs": streamvbyte_spark.codecs}
RNG = np.random.default_rng(7)


def families():
    yield "empty", np.zeros(0, dtype=np.uint32)
    yield "single", np.array([123456], dtype=np.uint32)
    yield "zero_heavy", np.where(RNG.random(4096) < 0.8, 0, RNG.integers(0, 1000, 4096)).astype(np.uint32)
    yield "constant", np.full(1000, 42, dtype=np.uint32)
    yield "runs", np.repeat(RNG.integers(0, 50, 40), RNG.integers(1, 200, 40)).astype(np.uint32)
    yield "small_domain", RNG.integers(0, 17, size=2048).astype(np.uint32)
    yield "sorted", np.sort(RNG.integers(0, 2**31, size=1024)).astype(np.uint32)
    yield "narrow_range", (1_000_000_000 + RNG.integers(0, 256, size=512)).astype(np.uint32)
    yield "uniform32", RNG.integers(0, 2**32, size=777, dtype=np.uint64).astype(np.uint32)
    yield "zipf_tokens", (RNG.zipf(1.1, size=4096) % 50257).astype(np.uint32)
    yield "tail3", RNG.integers(0, 2**32, size=4099, dtype=np.uint64).astype(np.uint32)
    yield "all_max", np.full(100, 0xFFFFFFFF, dtype=np.uint32)


@pytest.mark.parametrize(
    "registry, codec_name",
    [pytest.param("oracle", n, id=n) for n in select.REGISTRY]
    + [pytest.param("codecs", n, id=f"codecs-{n}") for n in select.REGISTRY])
def test_roundtrip_and_exact_cost(registry, codec_name):
    codec = REGISTRIES[registry][codec_name]
    for fam, v in families():
        if codec_name == "ef":
            v = np.sort(v)  # ef's contract: non-decreasing input only
        buf = codec.encode(v)
        assert buf == select.REGISTRY[codec_name].encode(v), \
            f"{registry} {codec_name} bytes differ from the oracle on {fam}"
        assert len(buf) == codec.cost(v), f"{codec_name} cost mismatch on {fam}"
        out = codec.decode(buf, v.size)
        np.testing.assert_array_equal(out, v, err_msg=f"{codec_name} on {fam}")
        assert out.dtype == np.uint32


def test_public_codecs_surface():
    """streamvbyte_spark.codecs holds exactly the shipped codec names, each
    with the oracle's fields, and rejects non-integer arrays like it."""
    codecs = streamvbyte_spark.codecs
    assert set(codecs) == set(batched.CODEC_NAMES) == set(select.REGISTRY)
    floats = np.array([1.0, 2.5])
    for name, codec in codecs.items():
        assert codec.name == name
        for fn in (codec.encode, codec.cost,
                   select.REGISTRY[name].encode, select.REGISTRY[name].cost):
            with pytest.raises(TypeError, match="integer"):
                fn(floats)


def test_selector_picks_argmin_and_beats_reference_size():
    for fam, v in families():
        name, cost = select.choose(v)
        ref_size = core.compressed_size(v)
        assert cost <= ref_size, f"selector worse than reference svb on {fam}"
        enc_name, buf = select.encode_auto(v)
        assert enc_name == name
        assert len(buf) == cost
        np.testing.assert_array_equal(select.decode_any(name, buf, v.size), v)


def test_selector_zero_heavy_prefers_cheap_codec():
    v = np.where(RNG.random(4096) < 0.85, 0, RNG.integers(0, 255, 4096)).astype(np.uint32)
    name, cost = select.choose(v)
    # 1234 scheme pays 1 byte per zero; the winner must not
    assert cost < core.compressed_size(v)
    assert name != "svb"


def test_selector_sorted_prefers_delta_or_for():
    v = np.cumsum(RNG.integers(0, 5, size=8192)).astype(np.uint32) + 10_000_000
    name, _ = select.choose(v)
    assert name in ("svb_delta", "for", "bitpack", "dict", "rle")
    assert select.REGISTRY[name].cost(v) < core.compressed_size(v)


def test_bitpack_widths_exhaustive():
    """Every width 0..32 round-trips through the scalar oracle, and all 33
    widths at row lengths that end mid-block go through the batched
    bitpack and for kernels as ONE shuffled batch: each row is
    byte-identical to the oracle's, and the batch decodes exactly."""
    rows = []
    for w in range(0, 33):
        hi = (1 << w) - 1
        for n in (0, 1, 7, 8, 9, 15, 16, 17, 37):
            v = RNG.integers(0, hi + 1, size=n,
                             dtype=np.uint64).astype(np.uint32)
            if n:
                v[0] = hi  # pin the width, for FOR too
            if n > 1:
                v[1] = 0
            rows.append(v)
        buf = companions.bitpack_encode(v)
        np.testing.assert_array_equal(companions.bitpack_decode(buf, 37), v)
    rows = [rows[i] for i in RNG.permutation(len(rows))]
    flat = np.concatenate(rows)
    off = np.concatenate([[0], np.cumsum([v.size for v in rows])])
    for codec in ("bitpack", "for"):
        out, ooff, cids = batched.encode_rows(flat, off, codec)
        for i, v in enumerate(rows):
            assert out[ooff[i]:ooff[i + 1]].tobytes() == \
                select.REGISTRY[codec].encode(v), (codec, i)
        dec, doff = batched.decode_rows(out, ooff, np.diff(off), cids)
        np.testing.assert_array_equal(dec, flat)
        np.testing.assert_array_equal(doff, off)


def test_signed_stream_codecs():
    v = RNG.integers(-(2**31), 2**31, size=1000, dtype=np.int64).astype(np.int32)
    for name, codec in select.SIGNED_REGISTRY.items():
        buf = codec.encode(v)
        np.testing.assert_array_equal(codec.decode(buf, v.size), v)


# ----------------------------------------------------------- Elias-Fano (ef)

def test_ef_golden_layout():
    """Hand-computed fixture straight from the layout spec (a matched
    encode/decode bug cannot cancel): v = [2, 3, 5, 7, 11], u=11, n=5,
    q = 11 // 5 = 2 -> L = 1. low bits (LSB-first packed): [0,1,1,1,1] ->
    byte 0b11110 = 0x1E. high = [1,1,2,3,5]; unary positions high+i =
    [1,2,4,6,9] -> 10 bits 0110101001 (LSB-first) -> bytes 0x56, 0x02."""
    import numpy as np
    from scalar_oracle import companions as C
    v = np.array([2, 3, 5, 7, 11], np.uint32)
    buf = C.ef_encode(v)
    assert buf == bytes([1, 0x1E, 0x56, 0x02])
    assert C.ef_cost(v) == 4
    np.testing.assert_array_equal(C.ef_decode(buf, 5), v)


def test_ef_roundtrip_sweep():
    import numpy as np
    from scalar_oracle import companions as C
    rng = np.random.default_rng(17)
    for hi in (1, 7, 255, 1 << 16, 1 << 31, 2**32 - 1):
        for n in (0, 1, 2, 3, 7, 64, 500):
            v = np.sort(rng.integers(0, hi, n).astype(np.uint32))
            buf = C.ef_encode(v)
            assert len(buf) == C.ef_cost(v), (hi, n)
            np.testing.assert_array_equal(C.ef_decode(buf, n), v)


def test_ef_rejects_unsorted():
    import numpy as np
    import pytest
    from scalar_oracle import companions as C
    from streamvbyte_spark.codec import batched
    bad = np.array([5, 3], np.uint32)
    with pytest.raises(ValueError, match="non-decreasing"):
        C.ef_encode(bad)
    with pytest.raises(ValueError, match="non-decreasing"):
        C.ef_cost(bad)
    for fn in (streamvbyte_spark.codecs["ef"].encode,
               streamvbyte_spark.codecs["ef"].cost):
        with pytest.raises(ValueError, match="non-decreasing"):
            fn(bad)
    off = np.array([0, 2], np.int64)
    with pytest.raises(ValueError, match="non-decreasing"):
        batched.encode_rows(bad, off, codec="ef")
    with pytest.raises(ValueError, match="non-decreasing"):
        batched.row_costs(bad, off, ("ef",))


def test_ef_batched_byte_identical_to_core():
    """Whole-batch kernels must emit exactly the single-array REGISTRY
    bytes per row, and row_costs must equal len(encode) (the repo-wide
    codec invariants), across mixed magnitudes and empty rows."""
    import numpy as np
    from scalar_oracle import select
    from streamvbyte_spark.codec import batched
    rng = np.random.default_rng(23)
    rows = [np.sort(rng.integers(0, rng.choice([40, 1 << 14, 1 << 31]),
                                 rng.integers(0, 90)).astype(np.uint32))
            for _ in range(250)]
    rows.insert(3, np.zeros(0, np.uint32))
    rows.insert(7, np.zeros(5, np.uint32))  # all-zero row: L=0, unary only
    flat = np.concatenate(rows)
    off = np.concatenate([[0], np.cumsum([r.size for r in rows])]).astype(np.int64)
    out, ooff, cids = batched.encode_rows(flat, off, codec="ef")
    for i, r in enumerate(rows):
        assert out[ooff[i]:ooff[i + 1]].tobytes() == \
            select.REGISTRY["ef"].encode(r), i
    n_toks = np.array([r.size for r in rows], np.int64)
    dec, doff = batched.decode_rows(out, ooff, n_toks, cids)
    np.testing.assert_array_equal(dec, flat)
    costs = batched.row_costs(flat, off, ("ef",))
    for i, r in enumerate(rows):
        assert costs[i, 0] == len(select.REGISTRY["ef"].encode(r)), i
