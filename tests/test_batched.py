"""Batched multi-row kernels must be byte-identical to the single-array
scalar oracle (tests/scalar_oracle), row by row, for every codec and every
auto-selection outcome."""

from __future__ import annotations

import numpy as np
import pytest

from scalar_oracle import core, select
from streamvbyte_spark.codec import batched

RNG = np.random.default_rng(99)


def make_rows(lengths, gen):
    arrays = [gen(n) for n in lengths]
    flat = np.concatenate(arrays) if arrays else np.zeros(0, np.uint32)
    offsets = np.concatenate([[0], np.cumsum([a.size for a in arrays])]).astype(np.int64)
    return arrays, flat.astype(np.uint32), offsets


EDGE_LENGTHS = [0, 1, 2, 3, 4, 5, 7, 8, 31, 32, 33, 127, 128, 0, 256]


def gen_mixed(n):
    kind = RNG.integers(0, 5)
    if kind == 0:
        return RNG.integers(0, 2 ** 32, size=n, dtype=np.uint64).astype(np.uint32)
    if kind == 1:
        return np.where(RNG.random(n) < 0.8, 0, RNG.integers(0, 300, n)).astype(np.uint32)
    if kind == 2:
        return np.sort(RNG.integers(0, 2 ** 28, size=n)).astype(np.uint32)
    if kind == 3:
        return np.repeat(RNG.integers(0, 9, max(n // 5 + 1, 1)), 5)[:n].astype(np.uint32)
    return (RNG.zipf(1.2, size=n) % 50257).astype(np.uint32)


@pytest.mark.parametrize("codec", ["svb", "svb0124", "svb_delta", "bitpack",
                                   "for", "dict", "rle", "fsst", "ef"])
def test_fixed_codec_matches_core_per_row(codec):
    # ef is defined only on non-decreasing rows
    gen = (lambda n: np.sort(gen_mixed(n))) if codec == "ef" else gen_mixed
    arrays, flat, offsets = make_rows(EDGE_LENGTHS, gen)
    out, ooff, cids = batched.encode_rows(flat, offsets, codec=codec)
    ref = select.REGISTRY[codec]
    for i, a in enumerate(arrays):
        got = out[ooff[i]:ooff[i + 1]].tobytes()
        assert got == ref.encode(a), f"row {i} len {a.size}"
    n_toks = np.array([a.size for a in arrays], dtype=np.int64)
    vflat, voff = batched.decode_rows(out, ooff, n_toks, cids)
    for i, a in enumerate(arrays):
        np.testing.assert_array_equal(vflat[voff[i]:voff[i + 1]], a)


def test_auto_selection_matches_single_array_selector():
    arrays, flat, offsets = make_rows(EDGE_LENGTHS * 3, gen_mixed)
    out, ooff, cids = batched.encode_rows(flat, offsets, codec="auto")
    for i, a in enumerate(arrays):
        got_size = int(ooff[i + 1] - ooff[i])
        _, want_size = select.choose(a, candidates=batched.AUTO_MODES["auto"])
        assert got_size == want_size, f"row {i}: {got_size} != {want_size}"
        assert got_size <= core.compressed_size(a) or a.size == 0
        name = batched.CODEC_NAMES[cids[i]]
        assert out[ooff[i]:ooff[i + 1]].tobytes() == select.REGISTRY[name].encode(a)
    n_toks = np.array([a.size for a in arrays], dtype=np.int64)
    vflat, voff = batched.decode_rows(out, ooff, n_toks, cids)
    for i, a in enumerate(arrays):
        np.testing.assert_array_equal(vflat[voff[i]:voff[i + 1]], a)


def test_row_costs_exact():
    arrays, flat, offsets = make_rows(EDGE_LENGTHS, gen_mixed)
    costs = batched.row_costs(flat, offsets, batched.VECTOR_COST_CODECS)
    for i, a in enumerate(arrays):
        for j, name in enumerate(batched.VECTOR_COST_CODECS):
            want = len(select.REGISTRY[name].encode(a))
            assert costs[i, j] == want, f"row {i} codec {name}: {costs[i, j]} != {want}"


@pytest.mark.parametrize("codec",
                         batched.CODEC_NAMES + tuple(batched.AUTO_MODES))
def test_size_rows_equals_encode_lengths(codec):
    """size_rows(m) is each row's length in encode_rows(m) for every codec
    name and auto mode, empty rows included.  Half the rows are sorted, so
    auto_sorted offers ef on them; ef itself, defined only on
    non-decreasing rows, raises ValueError on that batch through both
    functions and runs on the rows each sorted."""
    rows = [gen_mixed(n) for n in EDGE_LENGTHS * 2]
    _, flat, off = make_rows(range(len(rows)), lambda i: np.sort(rows[i])
                             if i % 2 == 0 else rows[i])
    if codec == "ef":
        for fn in (batched.size_rows, batched.encode_rows):
            with pytest.raises(ValueError, match="non-decreasing"):
                fn(flat, off, codec)
        _, flat, off = make_rows(range(len(rows)), lambda i: np.sort(rows[i]))
    _, ooff, cids = batched.encode_rows(flat, off, codec)
    np.testing.assert_array_equal(batched.size_rows(flat, off, codec),
                                  np.diff(ooff))
    if codec == "auto_sorted":
        assert (cids == batched.CODEC_ID["ef"]).any()


def test_fsst_cost_vectorized_exact():
    """_fsst_costs must equal companions.fsst_cost (== len(fsst_encode)) per
    row, including the 255-symbol cap and the (count desc, pair desc) tie
    order that decides WHICH pairs enter a full table."""
    from scalar_oracle import companions
    arrays, flat, offsets = make_rows(EDGE_LENGTHS * 2, gen_mixed)
    # a row with > 255 distinct pairs all eligible (cap binds) and a
    # pair-repetition-heavy row (all hits)
    extra = [np.repeat(np.arange(400, dtype=np.uint32) * 65537 + 7, 3),
             np.tile(np.arange(8, dtype=np.uint32) * 16909320, 50)]
    arrays = arrays + extra
    flat = np.concatenate([flat] + extra).astype(np.uint32)
    offsets = np.concatenate(
        [[0], np.cumsum([a.size for a in arrays])]).astype(np.int64)
    got = batched._fsst_costs(flat, offsets)
    for i, a in enumerate(arrays):
        want = companions.fsst_cost(a)
        assert got[i] == want == len(companions.fsst_encode(a)), i


def test_fsst_whole_batch_byte_parity_cap_and_ties():
    """_fsst_encode_rows must reproduce companions.fsst_encode byte-for-byte
    on the adversarial shapes: a row whose 255-symbol cap binds among
    EQUAL-count pairs (the tie order decides WHICH pairs enter the table),
    an all-hits row, an all-escapes row, and empty rows."""
    from scalar_oracle import companions
    extra = [
        # 400 distinct pairs, every count == 3: cap + tie order bind
        np.repeat(np.arange(400, dtype=np.uint32) * 65537 + 7, 3),
        # heavy repetition: every pair a table hit
        np.tile(np.arange(8, dtype=np.uint32) * 16909320, 50),
        # all pairs unique: zero-symbol table, all escapes
        np.arange(100, dtype=np.uint32) * 131075 + 11,
        np.zeros(0, np.uint32),
        np.array([7], np.uint32),
    ]
    arrays, flat, offsets = make_rows(EDGE_LENGTHS, gen_mixed)
    arrays = arrays + extra
    flat = np.concatenate([flat] + extra).astype(np.uint32)
    offsets = np.concatenate(
        [[0], np.cumsum([a.size for a in arrays])]).astype(np.int64)
    out, ooff = batched._fsst_encode_rows(flat, offsets)
    for i, a in enumerate(arrays):
        got = out[ooff[i]:ooff[i + 1]].tobytes()
        want = companions.fsst_encode(a)
        assert got == want, f"row {i} len {a.size}"
        assert len(got) == companions.fsst_cost(a)  # cost == len(encode)
    n_toks = np.array([a.size for a in arrays], dtype=np.int64)
    vflat, voff = batched._fsst_decode_rows(out, ooff, n_toks)
    for i, a in enumerate(arrays):
        np.testing.assert_array_equal(vflat[voff[i]:voff[i + 1]], a)


def test_auto_full_includes_fsst():
    """The 8-candidate selector must pick fsst when it wins, keep the exact
    single-array argmin, stay <= the svb reference size, and round-trip
    bit-identically through the per-row fsst encode/decode fallback."""
    def fsst_mix(n):
        t = RNG.integers(0, 10 ** 6, n, dtype=np.int64)
        return ((16384 + (t % 32) * 256) * 65536
                + ((t // 97) % 32) * 33 + 1).astype(np.uint32)

    lengths = [0, 5, 40, 120, 300, 700, 64, 250]
    arrays, flat, offsets = make_rows(lengths, fsst_mix)
    out, ooff, cids = batched.encode_rows(flat, offsets, codec="auto_full")
    picked = {batched.CODEC_NAMES[c] for c in cids}
    assert "fsst" in picked, picked  # the mapping must actually exercise fsst
    for i, a in enumerate(arrays):
        got_size = int(ooff[i + 1] - ooff[i])
        _, want_size = select.choose(
            a, candidates=batched.AUTO_MODES["auto_full"])
        assert got_size == want_size, f"row {i}"
        assert got_size <= core.compressed_size(a) or a.size == 0
    n_toks = np.array([a.size for a in arrays], dtype=np.int64)
    vflat, voff = batched.decode_rows(out, ooff, n_toks, cids)
    for i, a in enumerate(arrays):
        np.testing.assert_array_equal(vflat[voff[i]:voff[i + 1]], a)


@pytest.mark.parametrize("codec", ["svb", "svb0124", "svb_delta", "bitpack",
                                   "for", "dict", "rle", "fsst"])
def test_prefix_decode_matches_slice(codec):
    """decode_prefix_rows must equal row[:min(k, n)] for every codec — the
    svb family via the true O(prefix) control-byte path, the rest via
    decode-and-truncate — across k spanning 0, mid-row, quad boundaries,
    and beyond-row."""
    arrays, flat, offsets = make_rows(EDGE_LENGTHS, gen_mixed)
    out, ooff, cids = batched.encode_rows(flat, offsets, codec=codec)
    n_toks = np.array([a.size for a in arrays], dtype=np.int64)
    for k in (0, 1, 3, 4, 5, 32, 10 ** 6):
        vals, voff = batched.decode_prefix_rows(out, ooff, n_toks, cids, k)
        for i, a in enumerate(arrays):
            np.testing.assert_array_equal(
                vals[voff[i]:voff[i + 1]], a[:min(k, a.size)], f"{codec} k={k}")


def test_prefix_decode_mixed_codec_batch():
    """auto-encoded batches dispatch prefix decode per codec group."""
    arrays, flat, offsets = make_rows(EDGE_LENGTHS * 3, gen_mixed)
    out, ooff, cids = batched.encode_rows(flat, offsets, codec="auto_full")
    assert len({int(c) for c in cids}) > 1  # genuinely mixed
    n_toks = np.array([a.size for a in arrays], dtype=np.int64)
    vals, voff = batched.decode_prefix_rows(out, ooff, n_toks, cids, 17)
    for i, a in enumerate(arrays):
        np.testing.assert_array_equal(vals[voff[i]:voff[i + 1]], a[:17])


@pytest.mark.parametrize("layout", ["blocked", "interleaved"])
def test_dominant_group_and_minority_subset(layout, monkeypatch):
    """3/4 small-value-run rows (rle wins) + 1/4 random 32-bit rows: the rle
    group holds most of the batch, the minority group the rest.  Every
    row's output offset is known from its selected cost before any kernel
    runs, so each group's kernel runs ONCE over exactly its own rows and
    puts them into the one batch buffer (dst): no group is encoded over
    the whole batch, and none is copied into place afterwards by the group
    loop.  'blocked' places each group as one run of rows, 'interleaved'
    as rows fragmented at every fourth row.  Every row must still equal
    the single-array codec and decode exactly."""
    def small_runs(n):
        return np.repeat(RNG.integers(100, 200, n // 16 + 1), 16)[:n].astype(np.uint32)

    def random32(n):
        return RNG.integers(0, 2 ** 32, size=n, dtype=np.uint64).astype(np.uint32)

    R = 400
    lengths = RNG.integers(64, 300, size=R)
    is_runs = (np.arange(R) < 3 * R // 4) if layout == "blocked" \
        else (np.arange(R) % 4 != 0)
    arrays = [small_runs(n) if r else random32(n)
              for n, r in zip(lengths, is_runs)]
    flat = np.concatenate(arrays)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int64)

    calls = {}
    for name in batched.CODEC_NAMES:
        enc_fn, dec_fn = batched._KERNELS[name]

        def spy(f, o, rows=None, dst=None, pre=None, name=name,
                enc_fn=enc_fn):
            calls.setdefault(name, []).append(
                (None if rows is None else rows.tolist(), dst is not None))
            return enc_fn(f, o, rows=rows, dst=dst, pre=pre)
        monkeypatch.setitem(batched._KERNELS, name, (spy, dec_fn))

    out, ooff, cids = batched.encode_rows(flat, offsets, codec="auto")
    rle = batched.CODEC_ID["rle"]
    assert np.array_equal(cids == rle, is_runs)
    # one call per group, over exactly its rows, writing into place
    assert calls.pop("rle") == [(np.flatnonzero(is_runs).tolist(), True)]
    (minority, got), = calls.items()
    assert got == [(np.flatnonzero(~is_runs).tolist(), True)]
    for i, a in enumerate(arrays):
        name = batched.CODEC_NAMES[cids[i]]
        assert out[ooff[i]:ooff[i + 1]].tobytes() == \
            select.REGISTRY[name].encode(a), i
    n_toks = lengths.astype(np.int64)
    vflat, voff = batched.decode_rows(out, ooff, n_toks, cids)
    for i, a in enumerate(arrays):
        np.testing.assert_array_equal(vflat[voff[i]:voff[i + 1]], a)
    for k in (5, 100, 10 ** 6):
        vals, voff = batched.decode_prefix_rows(out, ooff, n_toks, cids, k)
        for i, a in enumerate(arrays):
            np.testing.assert_array_equal(vals[voff[i]:voff[i + 1]], a[:k])


def _bulk_family_rows(rng, R, empty_every):
    """R rows of the five bulk_codec families (FIXTURES.md) round-robin by
    row — token_zipf, rand_shifted, near_sorted_gap, zero_heavy and
    small-value runs — with an empty row after every `empty_every` rows
    and one at the end."""
    def family(f, n):
        if f == 0:
            return (rng.zipf(1.1, n) % 50257).astype(np.uint32)
        if f == 1:
            return (rng.integers(0, 2 ** 31, n, dtype=np.uint64)
                    >> rng.integers(0, 32, n, dtype=np.uint64)).astype(np.uint32)
        if f == 2:
            step = rng.integers(0, 8, n) + 3 ** int(rng.integers(0, 12)) - 1
            return (np.cumsum(step) & 0xFFFFFFFF).astype(np.uint32)
        if f == 3:
            return np.where(rng.random(n) < 0.7, 0,
                            rng.integers(0, 50257, n)).astype(np.uint32)
        return np.repeat(rng.integers(0, 30, n // 6 + 1), 6)[:n].astype(np.uint32)

    arrays = []
    for i in range(R):
        arrays.append(family(i % 5, int(rng.integers(1, 300))))
        if i % empty_every == empty_every - 1:
            arrays.append(np.zeros(0, np.uint32))
    arrays.append(np.zeros(0, np.uint32))
    return arrays


def test_bulk_mix_groups_write_in_place():
    """The bulk_codec shape: five families interleaved at every row, so no
    codec group holds half the batch and every group writes its rows
    between other groups' rows, with empty rows between them and at the
    end.  auto encode is byte-identical per row to the scalar selector,
    decode and prefix decode are exact — and stay so after a larger,
    differently shaped batch has run (outputs and index buffers are
    np.empty, which may hand back what that batch freed, so every byte
    must be written)."""
    rng = np.random.default_rng(15)
    arrays = _bulk_family_rows(rng, 150, 7)
    flat = np.concatenate(arrays)
    offsets = np.concatenate(
        [[0], np.cumsum([a.size for a in arrays])]).astype(np.int64)
    n_toks = np.diff(offsets)

    def check():
        out, ooff, cids = batched.encode_rows(flat, offsets, codec="auto")
        groups = np.unique(cids[n_toks > 0])
        assert len(groups) >= 4 and \
            max(np.bincount(cids)) < cids.size // 2  # no dominant group
        for i, a in enumerate(arrays):
            name, _ = select.choose(a, batched.AUTO_MODES["auto"])
            assert batched.CODEC_NAMES[cids[i]] == name, i
            assert out[ooff[i]:ooff[i + 1]].tobytes() == \
                select.REGISTRY[name].encode(a), i
        vflat, voff = batched.decode_rows(out, ooff, n_toks, cids)
        np.testing.assert_array_equal(vflat, flat)
        np.testing.assert_array_equal(voff, offsets)
        for k in (1, 5, 10 ** 6):
            vals, voff = batched.decode_prefix_rows(out, ooff, n_toks, cids, k)
            for i, a in enumerate(arrays):
                np.testing.assert_array_equal(vals[voff[i]:voff[i + 1]], a[:k])
        return out.tobytes()

    first = check()
    big = _bulk_family_rows(np.random.default_rng(16), 900, 3)
    big_flat = np.concatenate(big) ^ np.uint32(0x5A5A5A5A)
    big_off = np.concatenate(
        [[0], np.cumsum([a.size for a in big])]).astype(np.int64)
    for codec in ("auto", "svb", "svb0124", "svb_delta"):
        enc, eoff, cids = batched.encode_rows(big_flat, big_off, codec)
        batched.decode_rows(enc, eoff, np.diff(big_off), cids)
    assert check() == first


def test_all_empty_batch():
    flat = np.zeros(0, np.uint32)
    offsets = np.zeros(4, np.int64)
    out, ooff, cids = batched.encode_rows(flat, offsets, codec="auto")
    assert out.size == 0 and list(ooff) == [0, 0, 0, 0]
    vflat, voff = batched.decode_rows(out, ooff, np.zeros(3, np.int64), cids)
    assert vflat.size == 0


def test_big_batch_roundtrip():
    lengths = RNG.integers(0, 512, size=2000)
    arrays, flat, offsets = make_rows(lengths, gen_mixed)
    out, ooff, cids = batched.encode_rows(flat, offsets, codec="auto")
    vflat, voff = batched.decode_rows(out, ooff,
                                      np.array([a.size for a in arrays], np.int64), cids)
    np.testing.assert_array_equal(vflat, flat)
    np.testing.assert_array_equal(voff, offsets)


def test_aqrit_exhaustive_full_domain_batched():
    """All 2^16 arrangements of 16 bytes in {0,1} as 4-value rows
    (tests/unit.c:187-252) — the batched kernel makes the FULL exhaustive
    domain cheap: one 65536-row call per scheme."""
    i = np.arange(1 << 16, dtype=np.uint32)
    bits = ((i[:, None] >> np.arange(16)) & 1).astype(np.uint8)
    flat = np.ascontiguousarray(bits).view(np.uint32).reshape(-1)
    offsets = np.arange(0, flat.size + 4, 4, dtype=np.int64)
    n_toks = np.full(1 << 16, 4, dtype=np.int64)
    for codec in ["svb", "svb0124"]:
        out, ooff, cids = batched.encode_rows(flat, offsets, codec=codec)
        vflat, voff = batched.decode_rows(out, ooff, n_toks, cids)
        np.testing.assert_array_equal(vflat, flat)
        ok = batched.validate_rows(out, ooff, n_toks, scheme0124=(codec == "svb0124"))
        assert ok.all()


def test_encode_bytes_deterministic_under_scratch_pollution():
    """Encode output buffers are np.empty (no memset): every byte must be
    written by the data/ctrl scatters.  Uninitialized-memory leakage would
    make bytes depend on what a previous call left in memory that np.empty
    hands back — so encode A, pollute with differently-shaped B, encode A
    again and require byte identity."""
    rng = np.random.default_rng(11)
    lens_a = rng.integers(1, 50, 300)
    off_a = np.concatenate([[0], np.cumsum(lens_a)]).astype(np.int64)
    flat_a = (rng.integers(0, 1 << 31, off_a[-1], dtype=np.int64)
              >> rng.integers(0, 31, off_a[-1], dtype=np.int64)).astype(np.uint32)
    # zero-heavy rows maximize 0124 len-0 surplus writes
    flat_a[rng.random(flat_a.size) < 0.4] = 0
    lens_b = rng.integers(200, 900, 500)
    off_b = np.concatenate([[0], np.cumsum(lens_b)]).astype(np.int64)
    flat_b = rng.integers(0, 1 << 16, off_b[-1], dtype=np.uint64).astype(np.uint32)
    for codec in ["svb", "svb0124", "auto"]:
        a1 = batched.encode_rows(flat_a, off_a, codec)[0].tobytes()
        batched.encode_rows(flat_b, off_b, "auto")
        batched.encode_rows(flat_b, off_b, "svb_delta")
        a2 = batched.encode_rows(flat_a, off_a, codec)[0].tobytes()
        assert a1 == a2, codec


def test_trailing_empty_rows_extremum_last():
    """Regression: a batch ending in empty rows must not let _seg_reduce's
    reduceat segment steal the preceding row's LAST element (its extremum).
    flat=[3,2,1,7], offsets=[0,4,4] decoded to [3,2,1,3] before the fix."""
    flat = np.array([3, 2, 1, 7], dtype=np.uint32)
    offsets = np.array([0, 4, 4], dtype=np.int64)
    np.testing.assert_array_equal(
        batched._seg_reduce(np.maximum, flat, offsets), [7, 0])
    np.testing.assert_array_equal(
        batched._seg_reduce(np.minimum, flat, offsets), [1, 0])
    for codec in ("bitpack", "for", "dict", "rle", "auto"):
        out, ooff, cids = batched.encode_rows(flat, offsets, codec=codec)
        vflat, voff = batched.decode_rows(out, ooff, np.array([4, 0]), cids)
        np.testing.assert_array_equal(vflat[voff[0]:voff[1]], flat, err_msg=codec)
        assert voff[1] == voff[2] == 4
    # row_costs must stay exact with trailing empties (auto-selector input)
    costs = batched.row_costs(flat, offsets, batched.VECTOR_COST_CODECS)
    for j, name in enumerate(batched.VECTOR_COST_CODECS):
        assert costs[0, j] == len(select.REGISTRY[name].encode(flat))
        assert costs[1, j] == len(select.REGISTRY[name].encode(np.zeros(0, np.uint32)))


def test_multiple_trailing_and_interior_empty_rows():
    arrays, flat, offsets = make_rows([5, 0, 3, 0, 0], gen_mixed)
    # force an extremum in last position of the final nonempty row
    flat = flat.copy()
    flat[-1] = np.uint32(2 ** 31 + 7)
    arrays = [flat[offsets[i]:offsets[i + 1]] for i in range(5)]
    out, ooff, cids = batched.encode_rows(flat, offsets, codec="auto")
    n_toks = np.array([a.size for a in arrays], dtype=np.int64)
    vflat, voff = batched.decode_rows(out, ooff, n_toks, cids)
    for i, a in enumerate(arrays):
        np.testing.assert_array_equal(vflat[voff[i]:voff[i + 1]], a)
        _, want_size = select.choose(a, candidates=batched.AUTO_MODES["auto"])
        assert int(ooff[i + 1] - ooff[i]) == want_size


def test_max_compressed_bytes_rows_matches_core():
    n = np.array([0, 1, 4, 5, 100, 29159], dtype=np.int64)
    got = batched.max_compressed_bytes_rows(n)
    for i, k in enumerate(n):
        assert got[i] == core.max_compressed_size(int(k))
    # bound actually holds for worst-case values
    v = np.full(100, 0xFFFFFFFF, dtype=np.uint32)
    assert len(core.encode(v)) <= batched.max_compressed_bytes_rows([100])[0]


@pytest.mark.parametrize("delta, name", [(False, "svb_zigzag"),
                                         (True, "svb_zz_delta")])
def test_signed_rows_match_oracle_per_row(delta, name):
    """encode_signed_rows emits the oracle's svb_zigzag / svb_zz_delta bytes
    per row (prev=0 at each row start), including int32 extremes and empty
    rows, and decode_signed_rows restores the int32 values."""
    lengths = EDGE_LENGTHS + [3, 0]
    arrays = [RNG.integers(-(2 ** 31), 2 ** 31, size=n,
                           dtype=np.int64).astype(np.int32) for n in lengths]
    arrays[-2] = np.array([-(2 ** 31), 2 ** 31 - 1, -1], np.int32)
    flat = np.concatenate(arrays)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int64)
    out, ooff = batched.encode_signed_rows(flat, offsets, delta=delta)
    for i, a in enumerate(arrays):
        assert out[ooff[i]:ooff[i + 1]].tobytes() == \
            select.SIGNED_REGISTRY[name].encode(a), i
    back, boff = batched.decode_signed_rows(
        out, ooff, np.array(lengths, np.int64), delta=delta)
    assert back.dtype == np.int32
    np.testing.assert_array_equal(back, flat)
    np.testing.assert_array_equal(boff, offsets)


def test_truncate_rows_invalidates_all_nonempty():
    arrays, flat, offsets = make_rows([0, 1, 4, 7, 0, 33], gen_mixed)
    out, ooff, _ = batched.encode_rows(flat, offsets, codec="svb")
    n_toks = np.array([a.size for a in arrays], dtype=np.int64)
    assert batched.validate_rows(out, ooff, n_toks).all()
    t_out, t_ooff = batched.truncate_rows(out, ooff)
    ok = batched.validate_rows(t_out, t_ooff, n_toks)
    np.testing.assert_array_equal(ok, n_toks == 0)


def _fp_fold(vals):
    """The SQL fold (queries._FP_BODY) the kernel must match exactly."""
    p = 1_000_000_007
    acc = 0
    for t in vals:
        acc = ((acc * 31 + int(t)) % p + p) % p
    return acc


def test_fingerprint_rows_matches_sql_fold():
    rng = np.random.default_rng(7)
    rows = [rng.integers(-2 ** 31, 2 ** 31, size=n).astype(np.int32)
            for n in [0, 1, 2, 5, 63, 64, 65, 1000, 0, 37, 4097]]
    flat = np.concatenate(rows)
    off = np.concatenate([[0], np.cumsum([r.size for r in rows])]).astype(np.int64)
    got = batched.fingerprint_rows(flat, off)
    want = np.array([_fp_fold(r) for r in rows], dtype=np.int64)
    np.testing.assert_array_equal(got, want)
    # in-range invariant (the SQL fold normalizes to [0, p))
    assert (got >= 0).all() and (got < 1_000_000_007).all()


def test_fingerprint_rows_unsigned_view_equals_signed():
    """decode kernels pass flat.view(int32): a token with the sign bit set
    must fingerprint as its SIGNED int32 value, exactly like the SQL fold
    over the int token column."""
    v = np.array([0xFFFFFFFF, 0x80000000, 1, 2 ** 31 - 1], dtype=np.uint32)
    off = np.array([0, 4], dtype=np.int64)
    got = batched.fingerprint_rows(v.view(np.int32), off)
    assert got[0] == _fp_fold([-1, -2 ** 31, 1, 2 ** 31 - 1])


def test_fingerprint_rows_empty_and_growth():
    # empty batch, empty rows, then a row longer than any before (power
    # table growth path)
    assert batched.fingerprint_rows(
        np.zeros(0, np.int32), np.array([0, 0, 0], np.int64)).tolist() == [0, 0]
    long = np.arange(200_000, dtype=np.int32)
    got = batched.fingerprint_rows(long, np.array([0, long.size], np.int64))
    assert got[0] == _fp_fold(long)


def test_row_costs_prune_matches_exact_selection():
    """prune=True may relax the dict and rle COLUMNS to proven lower
    bounds, but the matrix minimum and the first-minimum argmin (=
    selector winner, incl. candidate-priority ties) must be IDENTICAL to
    the exact matrix — on dict winners, rle winners, rle ties and
    near-ties with the earlier columns, low-byte collisions (the dict
    bound's weakest case: distinct values sharing low bits), empties, and
    the fsst-extended candidate set."""
    rng = np.random.default_rng(5)
    arrays = []
    for i in range(600):
        kind = i % 6
        n = int(rng.integers(0, 50)) if kind == 5 else int(rng.integers(1, 400))
        if kind == 0:    # dict-friendly: 3 distinct values across uint32
            vals = rng.choice(np.array([7, 2**30 + 1, 2**31 + 5], np.uint32), n)
        elif kind == 1:  # rle-friendly runs
            vals = np.repeat(rng.integers(0, 1000, max(n // 20, 1))
                             .astype(np.uint32), 20)[:n]
        elif kind == 2:  # low-bit collisions: distinct values, one low part
            vals = (rng.integers(0, 50, n).astype(np.uint32)
                    << np.uint32(12)) + np.uint32(7)
        elif kind == 3:
            vals = rng.integers(0, 255, n).astype(np.uint32)
        elif kind == 4:
            vals = np.sort(rng.integers(0, 2**31, n).astype(np.uint32))
        else:
            vals = rng.integers(0, 2**16, n).astype(np.uint32)
        arrays.append(vals)
    # rle against bitpack at 8-bit width: 4 one-byte runs cost
    # 8 + (1 + 4) + (1 + 4) = 18 B and bitpack 1 + n B, so n = 16 / 17 / 18
    # makes rle lose by one byte, tie (bitpack wins, the earlier column)
    # and win by one byte
    for n in (16, 17, 18) * 4:
        cut = np.sort(rng.choice(np.arange(1, n), 3, replace=False))
        vals = np.repeat(np.array([255, 0, 255, 1], np.uint32),
                         np.diff(np.concatenate([[0], cut, [n]])))
        arrays.append(vals)
    # a run longer than 255 before random 32-bit values: rle loses, and
    # its bound (one byte per run length) sits one byte below its cost
    for n in (300, 400, 500):
        arrays.append(np.concatenate([
            np.full(n, 5, np.uint32),
            rng.integers(0, 2**32, 400, dtype=np.uint64).astype(np.uint32)]))
    arrays.append(np.zeros(0, np.uint32))
    flat = np.concatenate(arrays).astype(np.uint32)
    off = np.concatenate(
        [[0], np.cumsum([a.size for a in arrays])]).astype(np.int64)
    seen = set()
    for cand in (batched.AUTO_MODES["auto"], batched.AUTO_MODES["auto_full"]):
        exact = batched.row_costs(flat, off, cand)
        pruned = batched.row_costs(flat, off, cand, prune=True)
        np.testing.assert_array_equal(exact.min(axis=1), pruned.min(axis=1))
        first = np.argmin(exact, axis=1)
        np.testing.assert_array_equal(first, np.argmin(pruned, axis=1))
        for name in ("dict", "rle"):
            j = cand.index(name)
            # the relaxed column is a true LOWER bound (never above exact)
            assert (pruned[:, j] <= exact[:, j]).all()
            if (pruned[:, j] < exact[:, j]).any():
                seen.add(f"{name} pruned")
            if (first == j).any():
                seen.add(f"{name} wins")
            prior = exact[:, :j].min(axis=1)
            for gap in (-1, 0, 1):  # rle near-ties with the earlier columns
                if name == "rle" and (exact[:, j] - prior == gap).any():
                    seen.add(f"rle tie {gap}")
    # the mix must actually exercise every case
    assert seen == {"dict pruned", "dict wins", "rle pruned", "rle wins",
                    "rle tie -1", "rle tie 0", "rle tie 1"}, seen

SVB_FAMILY = ("svb", "svb0124", "svb_delta")
BIT_CODECS = ("bitpack", "for", "dict", "ef")


def _encoded_family_rows(codec, seed):
    rng = np.random.default_rng(seed)
    gen = (lambda n: np.sort(gen_mixed(n))) if codec == "ef" else gen_mixed
    arrays = [gen(int(n)) for n in
              list(EDGE_LENGTHS) + list(rng.integers(0, 300, 25))]
    flat = np.concatenate(arrays).astype(np.uint32)
    off = np.concatenate(
        [[0], np.cumsum([a.size for a in arrays])]).astype(np.int64)
    enc, eoff, _ = batched.encode_rows(flat, off, codec)
    return arrays, enc, eoff


def _decoders(enc, eoff, n_toks, codec):
    cids = np.full(n_toks.size, batched.CODEC_ID[codec], np.int32)
    yield lambda: batched.decode_rows(enc, eoff, n_toks, cids)
    yield lambda: batched.decode_prefix_rows(enc, eoff, n_toks, cids, 10**6)


@pytest.mark.parametrize("codec", SVB_FAMILY + BIT_CODECS + ("fsst",))
def test_svb_truncated_tail_raises(codec):
    """Dropping a row's last byte always raises a ValueError naming that
    row, through decode_rows and (over the whole row) decode_prefix_rows,
    for the svb family, the bit layouts and fsst alike."""
    arrays, enc, eoff = _encoded_family_rows(codec, 1)
    n_toks = np.array([a.size for a in arrays], np.int64)
    for i in np.flatnonzero(n_toks):
        cut = np.delete(enc, eoff[i + 1] - 1)
        off = eoff - (np.arange(eoff.size) > i)
        for decode in _decoders(cut, off, n_toks, codec):
            with pytest.raises(batched.StreamError) as err:
                decode()
            assert err.value.row == i and isinstance(err.value, ValueError)


def _packed_bytes(codec, row, n):
    """The bytes a bitpack, for or dict row packs n codes into, at the
    code width its header declares."""
    k = int(row[:4].view("<u4")[0]) if codec == "dict" else 0
    w = (k - 1).bit_length() if codec == "dict" else int(row[0])
    return (n * w + 7) // 8


@pytest.mark.parametrize("codec", SVB_FAMILY + BIT_CODECS + ("fsst",))
def test_svb_overstated_count_raises(codec):
    """n_tok overstated by 1..999 always raises for the 1234 scheme (every
    extra value costs at least a data byte).  For svb0124 it raises unless
    the extra values fall in the last control byte's zero padding: a zero
    code is a 0-byte zero, so that stream is valid for both counts and
    decodes to the row plus zeros.  bitpack, for and dict likewise raise
    unless the longer count's codes fit the row's ceil(n*w/8) code bytes
    (the extra codes are its zero padding bits, decoded as the scalar
    oracle decodes them); ef always raises, its upper section holding
    exactly n_tok ones, and so does fsst, every extra byte pair costing at
    least one byte."""
    arrays, enc, eoff = _encoded_family_rows(codec, 2)
    n_toks = np.array([a.size for a in arrays], np.int64)
    for i in range(n_toks.size):
        row = enc[eoff[i]:eoff[i + 1]]
        for m in (1, 2, 3, 4, 5, 17, 999):
            over = n_toks.copy()
            over[i] += m
            if codec in SVB_FAMILY:
                valid = batched.validate_rows(enc, eoff, over,
                                              scheme0124=codec == "svb0124")
                fits = codec == "svb0124" and n_toks[i] > 0 and \
                    (n_toks[i] + m + 3) // 4 == (n_toks[i] + 3) // 4
                assert valid[i] == fits
                want = np.concatenate([arrays[i], np.zeros(m, np.uint32)])
            else:
                fits = codec in ("bitpack", "for", "dict") and \
                    n_toks[i] > 0 and \
                    _packed_bytes(codec, row, n_toks[i] + m) == \
                    _packed_bytes(codec, row, n_toks[i])
                want = select.REGISTRY[codec].decode(row.tobytes(),
                                                     n_toks[i] + m) \
                    if fits else None
            for decode in _decoders(enc, eoff, over, codec):
                if fits:
                    vals, voff = decode()
                    np.testing.assert_array_equal(vals[voff[i]:voff[i + 1]],
                                                  want)
                    continue
                with pytest.raises(batched.StreamError) as err:
                    decode()
                assert err.value.row == i


@pytest.mark.parametrize("codec, row, at, patch, match", [
    ("bitpack", [0, 9, 4, 2], 0, [33], "declares width 33"),
    ("for", [7, 9, 4, 20], 0, [40], "declares width 40"),
    ("dict", [5, 6, 7, 5], 0, [0, 0, 0, 0], "declares 0 values"),
    ("dict", [5, 6, 7, 5], 0, [5, 0, 0, 0], "declares 5 values"),
    # k = 3: codes 0, 1, 2, 0 at 2 bits; the last becomes 3
    ("dict", [5, 6, 7, 5], -1, [0b11100100], "holds code 3 of 3"),
    # 2, 3, 5, 7, 11: upper bytes 0x56 0x02; bit 0 adds a sixth one
    ("ef", [2, 3, 5, 7, 11], 2, [0x57], "holds 6 ones"),
    # pairs 5, 0 three times each: table [0, 5], codes 1, 0, 1, 0, 1, 0;
    # the last becomes 2, and the header's k no longer fits the row
    ("fsst", [5, 5, 5], -1, [2], "holds code 2 of 2 symbols"),
    ("fsst", [5, 5, 5], 0, [255], "255 symbols and 6-bit bitmap take 512"),
])
def test_bit_layout_header_contradiction_raises(codec, row, at, patch,
                                                match):
    """A bitpack, for, dict, ef or fsst row whose header or payload
    contradicts its bytes or count raises StreamError naming its batch
    row: a width over 32, a dictionary of 0 or more than n_tok values, a
    code past the dictionary or the symbol table, an upper section without
    exactly n_tok ones, a symbol table past the row."""
    rows = [np.array([1, 2, 3]), np.array(row), np.array([4, 8])]
    flat = np.concatenate(rows).astype(np.uint32)
    off = np.concatenate([[0], np.cumsum([r.size for r in rows])])
    enc, eoff, cids = batched.encode_rows(flat, off, codec)
    at += eoff[1] if at >= 0 else eoff[2]
    enc[at:at + len(patch)] = patch
    with pytest.raises(batched.StreamError, match=match) as err:
        batched.decode_rows(enc, eoff, np.diff(off), cids)
    assert err.value.row == 1


@pytest.mark.parametrize("codec", SVB_FAMILY)
def test_svb_decode_raises_exactly_where_validate_rows_fails(codec):
    """Corrupt stream lengths and counts (byte dropped or appended,
    count over- or understated, count zeroed): decode_rows raises on
    exactly the rows validate_rows marks invalid — every row it names is
    invalid, and once those rows are dropped one by one the rest
    decodes."""
    arrays, enc, eoff = _encoded_family_rows(codec, 3)
    rng = np.random.default_rng(4)
    n_toks = [a.size for a in arrays]
    segs = [enc[eoff[i]:eoff[i + 1]] for i in range(len(arrays))]
    for i in rng.choice(len(arrays), 15, replace=False):
        kind = int(rng.integers(0, 5))
        if kind == 0 and segs[i].size:
            segs[i] = segs[i][:-1]
        elif kind == 1:
            segs[i] = np.append(segs[i], np.uint8(rng.integers(0, 256)))
        elif kind == 2:
            n_toks[i] += int(rng.integers(1, 9))
        elif kind == 3:
            n_toks[i] = max(n_toks[i] - int(rng.integers(1, 9)), 0)
        else:
            n_toks[i] = 0
    live = list(range(len(arrays)))

    def batch():
        b_off = np.concatenate([[0], np.cumsum([segs[i].size for i in live])])
        b_enc = np.concatenate([segs[i] for i in live])
        return b_enc, b_off, np.array([n_toks[i] for i in live], np.int64)

    valid = batched.validate_rows(*batch(), scheme0124=codec == "svb0124")
    invalid = {live[j] for j in np.flatnonzero(~valid)}
    assert invalid
    cids = np.full(len(arrays), batched.CODEC_ID[codec], np.int32)
    dropped = set()
    while True:
        b_enc, b_off, b_n = batch()
        try:
            vals, voff = batched.decode_rows(b_enc, b_off, b_n,
                                             cids[:len(live)])
        except batched.StreamError as err:
            dropped.add(live.pop(err.row))
            continue
        break
    assert dropped == invalid
    for j, i in enumerate(live):
        if i not in invalid and n_toks[i] == arrays[i].size:
            np.testing.assert_array_equal(vals[voff[j]:voff[j + 1]],
                                          arrays[i])


def test_rle_stream_mismatch_names_its_batch_row():
    """An rle row of an auto batch that is truncated (by a byte, or into
    its 8-byte header) or whose runs do not add up to its n_tok raises
    StreamError naming its row of the whole batch, not its row within the
    rle group or among that group's nonempty rows; through decode_rows
    and decode_prefix_rows."""
    rng = np.random.default_rng(6)
    arrays = [np.zeros(0, np.uint32)]
    for i in range(40):
        if i % 4 == 1:
            k = int(rng.integers(1, 6))
            arrays.append(np.repeat(rng.integers(0, 2**20, k),
                                    rng.integers(8, 40, k)).astype(np.uint32))
        elif i % 4 == 3:
            arrays.append(np.zeros(0, np.uint32))
        else:
            arrays.append(gen_mixed(int(rng.integers(1, 200))))
    n_toks = np.array([a.size for a in arrays], np.int64)
    flat = np.concatenate(arrays)
    off = np.concatenate([[0], np.cumsum(n_toks)]).astype(np.int64)
    enc, eoff, cids = batched.encode_rows(flat, off, "auto")
    rle = np.flatnonzero(cids == batched.CODEC_ID["rle"])
    assert rle.size >= 5 and rle[0] > 1 and len(set(cids.tolist())) > 2
    segs = [enc[eoff[i]:eoff[i + 1]] for i in range(len(arrays))]

    def decoders(keep, counts):
        b_off = np.concatenate([[0], np.cumsum([x.size for x in keep])])
        b_enc = np.concatenate(keep)
        yield lambda: batched.decode_rows(b_enc, b_off, counts, cids)
        yield lambda: batched.decode_prefix_rows(b_enc, b_off, counts, cids,
                                                 10**6)

    for i in rle:
        for cut in (segs[i][:-1], segs[i][:5]):
            keep = segs[:i] + [cut] + segs[i + 1:]
            for decode in decoders(keep, n_toks):
                with pytest.raises(batched.StreamError) as err:
                    decode()
                assert err.value.row == i, (i, cut.size)
        for m in (1, -1):
            counts = n_toks.copy()
            counts[i] += m
            for decode in decoders(segs, counts):
                with pytest.raises(batched.StreamError) as err:
                    decode()
                assert err.value.row == i and "rle stream" in str(err.value)
    vals, voff = batched.decode_rows(enc, eoff, n_toks, cids)
    for i, a in enumerate(arrays):
        np.testing.assert_array_equal(vals[voff[i]:voff[i + 1]], a)
