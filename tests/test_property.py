"""Hypothesis property tests: the codec contracts hold for arbitrary inputs,
not just the fixture families."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from scalar_oracle import core, select
from streamvbyte_spark.codec import batched

u32_arrays = arrays(np.uint32, st.integers(0, 300),
                    elements=st.integers(0, 2**32 - 1))
i32_arrays = arrays(np.int32, st.integers(0, 300),
                    elements=st.integers(-(2**31), 2**31 - 1))


@settings(max_examples=150, deadline=None)
@given(u32_arrays)
def test_every_codec_roundtrips_and_costs_exactly(v):
    for name, codec in select.REGISTRY.items():
        # ef's contract is non-decreasing input only (it raises otherwise,
        # covered by test_companions.test_ef_rejects_unsorted)
        vv = np.sort(v) if name == "ef" else v
        buf = codec.encode(vv)
        assert len(buf) == codec.cost(vv), name
        np.testing.assert_array_equal(codec.decode(buf, vv.size), vv,
                                      err_msg=name)


@settings(max_examples=150, deadline=None)
@given(u32_arrays)
def test_selector_never_beaten_by_reference(v):
    name, cost = select.choose(v)
    assert cost <= core.compressed_size(v)
    assert len(select.REGISTRY[name].encode(v)) == cost


@settings(max_examples=150, deadline=None)
@given(u32_arrays, st.integers(0, 2**32 - 1))
def test_delta_roundtrip_any_prev(v, prev):
    buf = core.delta_encode(v, prev=prev)
    np.testing.assert_array_equal(core.delta_decode(buf, v.size, prev=prev), v)


@settings(max_examples=150, deadline=None)
@given(i32_arrays, st.integers(-(2**31), 2**31 - 1))
def test_zigzag_streams(v, prev):
    np.testing.assert_array_equal(
        core.decode_zigzag_stream(core.encode_zigzag_stream(v), v.size), v)
    np.testing.assert_array_equal(
        core.decode_zzdelta_stream(core.encode_zzdelta_stream(v, prev), v.size, prev), v)


@settings(max_examples=100, deadline=None)
@given(st.lists(u32_arrays, min_size=0, max_size=12))
def test_batched_matches_core_per_row(rows):
    flat = (np.concatenate(rows) if rows else np.zeros(0, np.uint32)).astype(np.uint32)
    offsets = np.concatenate([[0], np.cumsum([r.size for r in rows])]).astype(np.int64)
    out, ooff, cids = batched.encode_rows(flat, offsets, codec="auto")
    n_toks = np.array([r.size for r in rows], dtype=np.int64)
    for i, r in enumerate(rows):
        name = batched.CODEC_NAMES[cids[i]]
        assert out[ooff[i]:ooff[i + 1]].tobytes() == select.REGISTRY[name].encode(r)
    vflat, voff = batched.decode_rows(out, ooff, n_toks, cids)
    np.testing.assert_array_equal(vflat, flat)


@settings(max_examples=100, deadline=None)
@given(u32_arrays)
def test_validate_accepts_exact_rejects_perturbed(v):
    buf = core.encode(v)
    assert core.validate(buf, v.size)
    if v.size:
        assert not core.validate(buf + b"\x01", v.size)
        assert not core.validate(buf[:-1] if len(buf) > (v.size + 3) // 4 else b"", v.size)


row_batches = st.lists(
    arrays(np.uint32, st.integers(0, 40),
           elements=st.integers(0, 2**32 - 1)),
    min_size=1, max_size=12)


def _flatten(rows):
    flat = (np.concatenate(rows) if rows else np.zeros(0, np.uint32)).astype(np.uint32)
    offsets = np.concatenate(
        [[0], np.cumsum([r.size for r in rows])]).astype(np.int64)
    return flat, offsets


@settings(max_examples=100, deadline=None)
@given(row_batches)
def test_seg_reduce_matches_python(rows):
    flat, offsets = _flatten(rows)
    mx = batched._seg_reduce(np.maximum, flat, offsets)
    mn = batched._seg_reduce(np.minimum, flat, offsets)
    for i, r in enumerate(rows):
        assert mx[i] == (r.max() if r.size else 0)
        assert mn[i] == (r.min() if r.size else 0)


@settings(max_examples=100, deadline=None)
@given(row_batches)
def test_truncation_never_validates(rows):
    flat, offsets = _flatten(rows)
    out, ooff, _ = batched.encode_rows(flat, offsets, codec="svb")
    n_toks = offsets[1:] - offsets[:-1]
    t_out, t_ooff = batched.truncate_rows(out, ooff)
    ok = batched.validate_rows(t_out, t_ooff, n_toks)
    np.testing.assert_array_equal(ok, n_toks == 0)


@settings(max_examples=100, deadline=None)
@given(row_batches, st.integers(0, 50))
def test_prefix_decode_equals_slice(rows, k):
    flat, offsets = _flatten(rows)
    out, ooff, cids = batched.encode_rows(flat, offsets, codec="auto_full")
    n_toks = offsets[1:] - offsets[:-1]
    vals, voff = batched.decode_prefix_rows(out, ooff, n_toks, cids, k)
    for i, r in enumerate(rows):
        np.testing.assert_array_equal(vals[voff[i]:voff[i + 1]], r[:min(k, r.size)])


@settings(max_examples=100, deadline=None)
@given(row_batches)
def test_fsst_vector_cost_matches_scalar(rows):
    from scalar_oracle import companions
    flat, offsets = _flatten(rows)
    got = batched._fsst_costs(flat, offsets)
    for i, r in enumerate(rows):
        assert got[i] == companions.fsst_cost(r) == len(companions.fsst_encode(r))


@settings(max_examples=100, deadline=None)
@given(row_batches)
def test_auto_encode_roundtrip_and_bound(rows):
    flat, offsets = _flatten(rows)
    out, ooff, cids = batched.encode_rows(flat, offsets, codec="auto")
    n_toks = offsets[1:] - offsets[:-1]
    sizes = ooff[1:] - ooff[:-1]
    # worst-case bound holds per row (reference include/streamvbyte.h:33-39)
    assert (sizes <= batched.max_compressed_bytes_rows(n_toks)).all()
    dec, doff = batched.decode_rows(out, ooff, n_toks, cids)
    np.testing.assert_array_equal(dec, flat)
    np.testing.assert_array_equal(doff, offsets)


@settings(max_examples=100, deadline=None)
@given(st.lists(arrays(np.int32, st.integers(0, 200),
                       elements=st.integers(-2**31, 2**31 - 1)),
                max_size=8))
def test_fingerprint_rows_equals_fold(rows):
    flat, offsets = _flatten_signed(rows)
    got = batched.fingerprint_rows(flat, offsets)
    p = 1_000_000_007
    for i, r in enumerate(rows):
        acc = 0
        for t in r.tolist():
            acc = ((acc * 31 + t) % p + p) % p
        assert got[i] == acc


def _flatten_signed(rows):
    flat = (np.concatenate(rows) if rows else np.zeros(0, np.int32)).astype(np.int32)
    offsets = np.concatenate(
        [[0], np.cumsum([r.size for r in rows])]).astype(np.int64)
    return flat, offsets


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40),
    max_size=6))
def test_tokenize_rows_equals_python_reference(texts):
    """Kernel == the SQL tokenizer semantics on arbitrary unicode (python
    reference mirrors ascii()/substr()/length() exactly; overflow rows are
    expected to raise like the engines' ANSI cast)."""
    import pyarrow as pa

    from streamvbyte_spark.functions.text_udfs import tokenize_rows
    from streamvbyte_spark.arrow_rows import binary_flat

    def tok(w):
        cps = [ord(c) for c in w]

        def cp(i):
            return cps[i] if i < len(cps) else 0
        v = cp(0) + cp(1) * 256
        if len(cps) >= 5:
            v += cp(2) * 65536
        if len(cps) >= 8:
            v += cp(3) * 16777216
        return v

    want, overflow = [], False
    for t in texts:
        row = [tok(w) for w in t.split(" ")]
        overflow = overflow or any(v > 2**31 - 1 for v in row)
        want.append(row)
    data, off = binary_flat(pa.array(texts, pa.string()).cast(pa.binary()))
    if overflow:
        try:
            tokenize_rows(data, off)
        except ValueError:
            return  # matches the engines' ANSI cast refusal
        raise AssertionError("expected overflow rejection")
    flat, toff = tokenize_rows(data, off)
    got = [flat[toff[i]:toff[i + 1]].tolist() for i in range(len(texts))]
    assert got == want


@settings(max_examples=60, deadline=None)
@given(st.lists(st.lists(st.integers(0, 2**32 - 1), max_size=60),
                max_size=30),
       st.booleans())
def test_row_costs_prune_property(rows, full):
    """For ANY batch, prune=True must preserve the cost-matrix minimum and
    the first-minimum argmin exactly, and never lift the dict column above
    its exact value (the lower-bound contract)."""
    from streamvbyte_spark.codec import batched
    flat = np.concatenate([np.array(r, np.uint32) for r in rows]) \
        if rows else np.zeros(0, np.uint32)
    off = np.concatenate(
        [[0], np.cumsum([len(r) for r in rows])]).astype(np.int64)
    cand = batched.AUTO_MODES["auto_full" if full else "auto"]
    exact = batched.row_costs(flat, off, cand)
    pruned = batched.row_costs(flat, off, cand, prune=True)
    np.testing.assert_array_equal(exact.min(axis=1), pruned.min(axis=1))
    np.testing.assert_array_equal(np.argmin(exact, axis=1),
                                  np.argmin(pruned, axis=1))
    j = cand.index("dict")
    assert (pruned[:, j] <= exact[:, j]).all()
