"""Whole-batch multi-row codec kernels: the package's one implementation of
every codec, run by every Spark path and by the public ``codecs`` registry.

Calling a per-array codec once per row from a Spark UDF would pay
Python-loop overhead per document.  These kernels instead treat an entire
Arrow RecordBatch as ONE flat vector: `flat` is the concatenated token
values of every row (zero-copy from the Arrow ListArray values buffer) and
`offsets` are the row boundaries.  Every step — byte-length classification,
control-byte packing, data scatter/gather, per-row cost reduction, delta
prefix sums — is a whole-batch NumPy expression, so the per-row Python cost is
zero regardless of how many documents a batch holds.  This is the idiomatic
Spark analog of the reference's 8-values-per-iteration SIMD kernels
(/root/reference/src/streamvbyte_x64_encode.c:55-97): the batch is the vector.

Format produced per row follows the reference spec (README.md:207-244); the
tests check every kernel row by row against an independent scalar
implementation kept under ``tests/scalar_oracle``.

Cost model: per-row exact sizes for every codec computed with segmented
reductions — fsst's symbol table as a composite-key sort + lexsort-ranked
top-255 (_fsst_tables).  A codec name is a stored codec (CODEC_NAMES) or
an auto mode (AUTO_MODES) naming a candidate set: ``auto`` the 7 original
codecs, ``auto_full`` those plus fsst, ``auto_sorted`` those plus
Elias-Fano on non-decreasing rows.  One function, _select, picks each
row's codec for encode_rows and size_rows: the first minimum of the
mode's pruned cost pass (row_costs(prune=True)), which carries proven
lower bounds instead of exact costs in the dict and rle columns where a
codec cannot win, so only the rows it might win pay its exact cost, and
the selected cell stays exact.

Dispatch: every codec in CODEC_NAMES has one whole-batch encode kernel and
one whole-batch decode kernel, named in exactly one place, the _KERNELS
table at the bottom of this module — no per-row Python remains on any hot
path.  encode_rows, decode_rows and decode_prefix_rows split a batch into
codec groups and run each group's table kernel through one loop
(_by_codec); a homogeneous batch returns its kernel output unchanged.  In
a mixed batch every row's output offset is known before any kernel runs
(its selected cost on encode, its count on decode), so the batch output is
allocated once.  The svb family writes its encoded rows straight into
the batch buffer (gathering its rows' values — the cost pass's deltas for
svb_delta — once, and taking their data lengths from the cost pass), and
decodes its rows reading and writing both buffers where they lie; the
other layouts run on their row subset and are copied into place.
Every copy of per-row segments (row subsets, header/payload placement,
group placement) goes through one helper, _copy_segments.
"""

from __future__ import annotations

from functools import partial

import numpy as np

_LEN_0124_U8 = np.array([0, 1, 2, 4], dtype=np.uint8)
# value mask by data-byte length 0..4
_MASK_BY_LEN = np.array([0, 0xFF, 0xFFFF, 0xFFFFFF, 0xFFFFFFFF], dtype=np.uint32)
# control byte -> its 4 two-bit codes as 4 little-endian bytes: ONE u32
# gather from a cache-resident 256-entry LUT replaces two shift+and passes
# over the K x 4 unpacked array (the NumPy analog of the reference decoder's
# shuffle-table lookup, src/streamvbyte_shuffle_tables_decode.h)
_CTRL_CODES_U32 = np.array(
    [(b & 3) | (((b >> 2) & 3) << 8) | (((b >> 4) & 3) << 16)
     | (((b >> 6) & 3) << 24) for b in range(256)], dtype="<u4")


def _lens_1234(v: np.ndarray) -> np.ndarray:
    """Per-value data-byte counts, scheme 1234 (1..4), as uint8
    (src/streamvbyte_encode.c:74): 1 + (v>0xFF) + (v>0xFFFF) + (v>0xFFFFFF).

    Bool arrays are uint8 under the hood, so .view(np.uint8) makes the whole
    classification allocation-light (no int64 upcasts); callers needing sums
    pass dtype=int64 to cumsum/sum."""
    return (
        np.uint8(1)
        + (v > np.uint32(0xFF)).view(np.uint8)
        + (v > np.uint32(0xFFFF)).view(np.uint8)
        + (v > np.uint32(0xFFFFFF)).view(np.uint8)
    )


def _lens_0124(v: np.ndarray) -> np.ndarray:
    """Per-value data-byte counts, scheme 0124 (0,1,2,4), as uint8
    (src/streamvbyte_encode.c:85): (v>0) + (v>0xFF) + 2*(v>0xFFFF)."""
    return (
        (v > np.uint32(0)).view(np.uint8)
        + (v > np.uint32(0xFF)).view(np.uint8)
        + np.uint8(2) * (v > np.uint32(0xFFFF)).view(np.uint8)
    )


def _row_base_at(ends: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """cumsum value just BEFORE each row start (0 at position 0) without
    materializing concatenate([[0], ends]) — that copy is V-sized and shows
    up in the decode hot path."""
    out = np.zeros(starts.size, dtype=ends.dtype)
    nz = starts > 0
    out[nz] = ends[starts[nz] - 1]
    return out

# stable codec id <-> name mapping for the dictionary-encoded `codec` column
CODEC_NAMES = ("svb", "svb0124", "svb_delta", "bitpack", "for", "dict",
               "rle", "fsst", "ef")
CODEC_ID = {n: i for i, n in enumerate(CODEC_NAMES)}
VECTOR_COST_CODECS = ("svb", "svb0124", "svb_delta", "bitpack", "for", "dict", "rle")
# THE auto modes: each names its candidate set in priority order (a row
# takes its first minimum, so a tie keeps the earlier codec).  An "ef"
# candidate is offered only on non-decreasing rows (see _cost_pass); as the
# last candidate it wins only where it is strictly smaller.
AUTO_MODES = {
    "auto": VECTOR_COST_CODECS,
    "auto_full": VECTOR_COST_CODECS + ("fsst",),
    "auto_sorted": VECTOR_COST_CODECS + ("ef",),
}


def check_codec(codec: str) -> str:
    """``codec`` when encode_rows and size_rows accept it — a stored codec
    or an auto mode — else ValueError listing the names they do."""
    if codec not in CODEC_ID and codec not in AUTO_MODES:
        raise ValueError(f"unknown codec {codec!r}; expected one of "
                         f"{', '.join(CODEC_NAMES + tuple(AUTO_MODES))}")
    return codec


_ARANGES: dict[str, np.ndarray] = {}


def _cached_arange(n: int, dtype) -> np.ndarray:
    """Read-only 0..n-1 view (grown on demand, never refilled)."""
    key = np.dtype(dtype).str
    a = _ARANGES.get(key)
    if a is None or a.size < n:
        a = np.arange(max(int(n * 5 // 4) + 16, 1024), dtype=dtype)
        _ARANGES[key] = a
    return a[:n]


def _segment_index(starts, sizes, packed=None):
    """Index of the segments x[starts[i]:][:sizes[i]] laid end to end: a
    plain slice when they already lie end to end from 0, else one index
    array (int32 where every position fits).  `packed` is the segments'
    exclusive cumsum when the caller has it."""
    sizes = np.asarray(sizes, dtype=np.int64)
    if packed is None:
        packed = np.cumsum(sizes) - sizes
    total = int(packed[-1] + sizes[-1]) if sizes.size else 0
    shift = np.asarray(starts, dtype=np.int64) - packed
    if not shift.any():
        return slice(0, total)
    idt = np.int32 if total + int(shift.max()) < 2**31 else np.int64
    idx = np.repeat(shift.astype(idt), sizes)
    idx += _cached_arange(total, idt)
    return idx


def _copy_segments(dst: np.ndarray, dst_starts, src: np.ndarray, src_starts,
                   sizes) -> None:
    """dst[dst_starts[i]:][:sizes[i]] = src[src_starts[i]:][:sizes[i]] for
    every segment i, as one whole-batch fancy-index copy — THE segment copy
    of this module (row subsets, header/payload placement, group
    placement).  `src` may be longer than the span it copies.  A side whose
    segments already lie end to end from 0 is addressed as a plain slice
    (_segment_index), so a pure gather or scatter builds one index array,
    and a copy that is packed on both sides is one memcpy."""
    sizes = np.asarray(sizes, dtype=np.int64)
    if not sizes.any():
        return
    packed = np.cumsum(sizes) - sizes
    dst[_segment_index(dst_starts, sizes, packed)] = \
        src[_segment_index(src_starts, sizes, packed)]


def _take_segments(src: np.ndarray, starts, sizes):
    """The segments src[starts[i]:][:sizes[i]] packed end to end into a new
    array; returns (values, offsets int64[n+1])."""
    offsets = np.concatenate([[0], np.cumsum(sizes, dtype=np.int64)])
    out = np.empty(int(offsets[-1]), dtype=src.dtype)
    _copy_segments(out, offsets[:-1], src, starts, sizes)
    return out, offsets


def _seg_sum(x: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row int64 sums of x (len V) for rows bounded by offsets (len R+1).

    np.add.reduceat over nonempty-row starts: empty rows contribute zero
    elements, so summing from one nonempty start to the next spans exactly
    one real row.  The accumulator follows x's dtype: narrow inputs (uint8
    byte lengths, 0/1 flags) sum in uint32 whenever no row can reach 2^32,
    and only the per-row result is widened; wider inputs (uint32 tokens)
    sum straight into int64, so no caller builds an 8 B/value copy.
    Measured on a 6.4M-value, 10,000-row batch, one thread of a 4-core
    host: uint8 into uint32 takes 6.4-8.8 ms against 17.6-24 ms into
    int64, and 3-5x less than a uint8 cumsum into int32 alone (26-36 ms);
    uint32 into int64 takes ~22 ms, as long as summing an int64 copy."""
    n = offsets.size - 1
    starts = offsets[:-1]
    nr = offsets[1:] - starts
    nonempty = nr > 0
    if not x.size or not nonempty.any():
        return np.zeros(n, dtype=np.int64)
    acc = np.int64
    if x.dtype.kind in "bu" and x.dtype.itemsize <= 2 \
            and int(nr.max()) << (8 * x.dtype.itemsize) < 2**32:
        acc = np.uint32
    seg = np.add.reduceat(x[:offsets[-1]], starts[nonempty], dtype=acc)
    out = np.zeros(n, dtype=np.int64)
    out[nonempty] = seg
    return out


def _seg_reduce(ufunc, x: np.ndarray, offsets: np.ndarray, empty_val=0) -> np.ndarray:
    """Per-row ufunc.reduceat with empty-row safety.

    Mirrors _seg_sum: reduceat only over NONEMPTY row starts — empty rows
    contribute no elements, so consecutive nonempty starts bound exactly one
    real row.  (Clamping empty trailing starts to x.size-1 instead would split
    the preceding row's segment and steal its last element.)"""
    nr = offsets[1:] - offsets[:-1]
    out = np.full(nr.size, empty_val, dtype=x.dtype)
    nonempty = nr > 0
    if x.size == 0 or not nonempty.any():
        return out
    out[nonempty] = ufunc.reduceat(x[:offsets[-1]], offsets[:-1][nonempty])
    return out


def _row_deltas(flat: np.ndarray, offsets: np.ndarray,
                prev: np.ndarray | None = None) -> np.ndarray:
    """Per-row wrap-around uint32 deltas, row r seeded at prev[r] (uint32;
    0 for every row when None)."""
    d = np.empty_like(flat)
    if flat.size == 0:
        return d
    d[1:] = flat[1:] - flat[:-1]
    nonempty = offsets[1:] > offsets[:-1]
    starts = offsets[:-1][nonempty]
    d[starts] = flat[starts]
    if prev is not None:
        d[starts] -= prev[nonempty]
    return d


# ----------------------------------------------------------- batched svb enc

def _svb_encode_rows(flat: np.ndarray, offsets: np.ndarray, scheme0124: bool,
                     delta: bool = False, rows=None, dst=None, pre=None):
    """Encode every row (or the batch rows `rows`) as an independent svb
    stream — over the per-row deltas (prev=0) when `delta`.

    pre: (values, data_len) the cost pass already computed for the whole
    batch — the values this scheme encodes (the deltas for svb_delta;
    `flat` is then not read) and each row's data length.
    dst: (out, starts, sizes) — write row rows[i]'s stream at
    out[starts[i]:] and return None; `out` must extend >= 4 bytes past
    every row.  Without dst returns (out, out_offsets).

    The values are gathered once into QUAD layout: each row padded with
    zeros to its 4*ceil(n/4) control slots, so the control bytes pack
    straight from the per-value codes with no per-value scatter.  Their
    byte lengths are recomputed on that gather — three compares per value
    cost less than gathering the cost pass's uint8 lengths.  A pad's code
    is 0 and its length is taken as 0, so it writes no data byte.

    Data bytes are written with one ordered 4-byte-per-value overwrite scatter
    (NumPy fancy assignment: on duplicate indices the last value wins, so a
    value's surplus bytes are overwritten by the next value / next row's data,
    mirroring how the reference SSE kernel writes 16B and advances dataPtr by
    the true length, src/streamvbyte_x64_encode.c:70-81).  Control bytes are
    scattered AFTER data so row-leading control regions clobber any surplus
    from the previous row's final value.  Under dst the up to 4 bytes past
    each row that belong to no row of this call are saved before the
    scatter and restored after it, so the call writes exactly its own rows
    whatever the neighbouring rows' codecs and write order.
    """
    vals, data_len = pre if pre is not None else (flat, None)
    if delta and pre is None:
        vals = _row_deltas(flat, offsets)
    starts = offsets[:-1] if rows is None else offsets[rows]
    nr = (offsets[1:] if rows is None else offsets[rows + 1]) - starts
    if data_len is not None and rows is not None:
        data_len = data_len[rows]
    key_len = (nr + 3) // 4
    quads = np.zeros(nr.size + 1, dtype=np.int64)  # quad-layout row offsets
    np.cumsum(4 * key_len, out=quads[1:])
    npad = 4 * key_len - nr
    pads = np.repeat(quads[1:] - npad, npad)
    pads += np.arange(pads.size) - np.repeat(np.cumsum(npad) - npad, npad)
    idx = _segment_index(starts, 4 * key_len, quads[:-1])
    if pads.size:  # a pad reads value 0, then holds 0
        if isinstance(idx, slice):
            idx = np.arange(idx.stop)
        idx[pads] = 0
    vals = vals[idx]
    if pads.size:
        vals[pads] = 0
    lens = _lens_0124(vals) if scheme0124 else _lens_1234(vals)
    codes = np.minimum(lens, np.uint8(3)) if scheme0124 \
        else lens - np.uint8(1)
    lens[pads] = 0
    if data_len is None:
        data_len = _seg_sum(lens, quads)
    out_size = key_len + data_len
    if dst is None:
        out_offsets = np.zeros(nr.size + 1, dtype=np.int64)
        np.cumsum(out_size, out=out_offsets[1:])
        total_out = int(out_offsets[-1])
        # np.empty, not zeros: every byte in [0, total_out) is written —
        # each row is key_len ctrl bytes (ctrl scatter) + data bytes (each
        # value's 4-byte store covers its own length; zero-len values share
        # the next writer's dest).  +4 pad: surplus of the final value
        # lands past total_out and is sliced off.
        out = np.empty(total_out + 4, dtype=np.uint8)
        out_starts = out_offsets[:-1]
    else:
        out, out_starts = dst[0], dst[1]
        guard = (out_starts + out_size)[:, None] + np.arange(4)
        saved = out[guard]
    V = vals.size
    if V:
        # index math in int32 (half the memory traffic) unless huge
        idt = np.int32 if out.size < 2**31 and V * 4 < 2**31 else np.int64
        ends = np.cumsum(lens, dtype=idt)  # <= 4V, fits idt
        # data bytes: per-value destination = global byte start minus the
        # row's data base plus the row's (out offset + control length)
        dest = np.empty(V, idt)
        np.subtract(ends, lens, out=dest, casting="unsafe")
        row_adj = (_row_base_at(ends, quads[:-1])
                   - out_starts - key_len).astype(idt)
        dest -= np.repeat(row_adj, 4 * key_len)
        # ONE unconditional little-endian 4-byte store per value through a
        # stride-1 uint32 view (fancy assignment iterates in index order,
        # so a later value's store overwrites the previous value's surplus
        # bytes — the same overlapping-store discipline as the reference
        # SSE kernel); ~3.7x the 4-lane byte scatter this replaces
        u32 = np.ndarray((out.size - 3,), np.uint32, buffer=out,
                         strides=(1,))
        u32[dest] = vals  # ordered overwrite scatter
        # control bytes: each quad of codes packed LSB-first
        q = codes.reshape(-1, 4)
        ctrl = (q[:, 0] | (q[:, 1] << 2) | (q[:, 2] << 4) | (q[:, 3] << 6))
        _copy_segments(out, out_starts, ctrl, quads[:-1] >> 2, key_len)
    if dst is None:
        return out[:total_out], out_offsets
    # a guard byte is this call's own when it lies inside one of its rows
    # (rows ascend, so the last row starting at or before it is the one)
    k = np.maximum(np.searchsorted(out_starts, guard, side="right") - 1, 0)
    foreign = guard >= (out_starts + out_size)[k]
    out[guard[foreign]] = saved[foreign]
    return None


class StreamError(ValueError):
    """A stored stream whose byte length contradicts its count and its
    control bytes or header: ``row`` is its row in the batch the kernel
    was given."""

    def __init__(self, row: int, message: str):
        super().__init__(message)
        self.row = row


def _row_streams(codec: str, enc_offsets: np.ndarray, n_toks, hdr: int):
    """The prologue of a decoder whose rows start with an hdr-byte header
    (bitpack, for, dict, ef, fsst, rle): returns (value offsets, then for the
    rows with values: their start bytes, byte lengths, counts, and
    check).  check(bad, what) raises StreamError naming the batch row of
    the first of those rows that ``bad`` marks, what(j) saying how its
    bytes contradict its header or count; the message is built only on a
    mismatch.  A row with a negative count, with bytes but no values, or
    shorter than its header raises here, before the decoder reads or
    allocates anything by its header."""
    n_toks = np.asarray(n_toks, dtype=np.int64)
    sizes = enc_offsets[1:] - enc_offsets[:-1]

    def checker(rows):
        def check(bad, what):
            if bad.any():
                j = int(np.argmax(bad))
                r = int(rows[j])
                raise StreamError(r, f"{codec} stream of {sizes[r]} bytes "
                                     f"with n_tok={n_toks[r]}: {what(j)}")
        return check

    checker(np.arange(n_toks.size))(
        (n_toks < 0) | ((n_toks == 0) & (sizes > 0)),
        lambda r: "a negative count" if n_toks[r] < 0 else "no values")
    live = np.flatnonzero(n_toks > 0)
    check = checker(live)
    check(sizes[live] < hdr, lambda j: f"shorter than its {hdr}-byte header")
    offsets = np.zeros(n_toks.size + 1, dtype=np.int64)
    np.cumsum(n_toks, out=offsets[1:])
    return (offsets, enc_offsets[:-1][live], sizes[live], n_toks[live],
            check)


def _svb_decode_rows(enc: np.ndarray, enc_offsets: np.ndarray, n_toks: np.ndarray,
                     scheme0124: bool, n_values: np.ndarray | None = None,
                     delta: bool = False, rows=None, dst=None):
    """Decode every row's independent svb stream (or the batch rows
    `rows`); returns (flat, offsets), or writes row rows[i]'s values at
    dst[0][dst[1][i]:] and returns None.  `delta` adds the per-row prefix
    sum of svb_delta (prefix-local: value i depends only on deltas <= i,
    so a prefix decode stays exact).

    Control and data bytes are read where they lie in `enc`, from each
    row's start (row offsets ascend, as Arrow's do).  n_values (optional,
    <= n_toks) decodes only each row's FIRST n_values[r] tokens — the
    format-aware prefix decode: svb data bytes are laid out in value order
    after a control region sized by the FULL count, so a prefix needs only
    the first ceil(n/4) control bytes plus the prefix's own data bytes;
    trailing values are never touched (truncate-to-max-seq-len without
    full decode).

    Every row's stored length is checked against what it declares before
    its data is read, and a mismatch raises StreamError naming the batch
    row: first that it holds the ceil(n/4) control bytes of its n_tok, then
    (after the length pass) that it is exactly ceil(n/4) + sum(lens) long
    — the check of validate_rows — or, for a prefix, that the prefix's
    data ends inside it."""
    starts, stops = enc_offsets[:-1], enc_offsets[1:]
    full = np.asarray(n_toks, dtype=np.int64)
    if rows is not None:
        starts, stops, full = starts[rows], stops[rows], full[rows]
        if n_values is not None:
            n_values = n_values[rows]
    nr = full if n_values is None else np.minimum(n_values, full)
    key_len = (full + 3) // 4  # control REGION size (addresses the data base)
    sizes = stops - starts

    def check(bad, what):  # the message is built only on a mismatch
        if bad.any():
            r = int(np.argmax(bad))
            raise StreamError(
                r if rows is None else int(rows[r]),
                f"svb stream of {sizes[r]} bytes with n_tok={full[r]}: "
                f"{what(r)}")

    check((sizes < key_len) | (full < 0),
          lambda r: f"shorter than its {key_len[r]} control bytes")
    offsets = np.zeros(nr.size + 1, dtype=np.int64)
    np.cumsum(nr, out=offsets[1:])
    V = int(offsets[-1])
    if V == 0:
        if n_values is None:
            check(sizes != key_len,
                  lambda r: f"declares {key_len[r]} bytes")
        return (np.zeros(0, np.uint32), offsets) if dst is None else None
    # control bytes GATHERED: only the prefix's own ceil(nr/4) per row — in
    # prefix mode the tail's control bytes are never read, keeping work
    # O(prefix); also bounds 4*sum(pkey) <= 4V, so the int32 index guard
    # below stays valid even when the full control region would not fit
    pkey = key_len if n_values is None else (nr + 3) // 4
    ctrl_starts = np.cumsum(pkey) - pkey
    ctrl = enc[_segment_index(starts, pkey, ctrl_starts)]
    codes_padded = _CTRL_CODES_U32[ctrl].view(np.uint8)
    idt = np.int32 if enc.size + 4 < 2**31 and V * 4 < 2**31 else np.int64
    # per-value index into codes_padded, built in one buffer:
    # arange(V) - repeat(row_start) + repeat(4*ctrl_start) with the two
    # repeats fused into one (their operand is combined per row first)
    intra = np.empty(V, idt)
    row_shift = (4 * ctrl_starts - offsets[:-1]).astype(idt)
    np.add(_cached_arange(V, idt), np.repeat(row_shift, nr), out=intra)
    codes = codes_padded[intra]
    lens = _LEN_0124_U8[codes] if scheme0124 else codes + np.uint8(1)
    # data-byte offsets fit idt by construction (enc.size < 2^31 there), so
    # the cumsum runs at half the memory traffic of int64
    ends = np.cumsum(lens, dtype=idt)
    row_base = _row_base_at(ends, offsets)  # data before each row, and end
    # shift from a value's cumsum position to its byte in enc; a row's
    # data then ends at row_base[r + 1] - shift[r]
    shift = row_base[:-1] - starts - key_len
    data_stop = row_base[1:] - shift
    if n_values is None:
        check(data_stop != stops, lambda r: "its control bytes declare "
              f"{data_stop[r] - starts[r]} bytes")
    else:
        check(data_stop > stops, lambda r: f"its {nr[r]}-value prefix "
              f"ends at byte {data_stop[r] - starts[r]}")
    src = np.empty(V, idt)
    np.subtract(ends, lens, out=src, casting="unsafe")
    src -= np.repeat(shift.astype(idt), nr)
    # ONE unconditional little-endian 4-byte load per value (a stride-1
    # uint32 view over the stored bytes) + per-length mask LUT: the NumPy
    # analog of the reference's unconditional 16B SIMD load + shuffle-mask
    # (src/streamvbyte_x64_decode.c:10-26); ~2x the 4-byte-gather + shift
    # approach this replaces.  The checks above put every load start
    # inside its row, and the starts ascend, so only a suffix of loads
    # (within 4 bytes of the buffer's end — a 0124 zero at stream end
    # starts AT the end) reads past it: those load from an 8-byte copy of
    # the buffer's tail.
    cut = int(np.searchsorted(src, enc.size - 4, side="right"))
    vals = np.empty(V, dtype=np.uint32)
    if cut:
        u32 = np.ndarray((enc.size - 3,), np.uint32, buffer=enc, strides=(1,))
        vals[:cut] = u32[src[:cut]]
    if cut < V:
        base = max(enc.size - 4, 0)
        tail = np.zeros(8, dtype=np.uint8)
        tail[:enc.size - base] = enc[base:]
        vals[cut:] = np.ndarray((5,), np.uint32, buffer=tail,
                                strides=(1,))[src[cut:] - base]
    vals &= _MASK_BY_LEN[lens]
    if delta:
        vals = _segmented_cumsum_u32(vals, offsets)
    if dst is None:
        return vals, offsets
    _copy_segments(dst[0], dst[1], vals, offsets[:-1], nr)
    return None


# -------------------------------------------------------------- per-row costs

def row_costs(flat: np.ndarray, offsets: np.ndarray,
              candidates: tuple[str, ...], prune: bool = False) -> np.ndarray:
    """(R, len(candidates)) exact per-row encoded sizes. Empty rows cost 0.

    prune=True relaxes the dict and rle columns ONLY: a row whose cheap
    PROVEN lower bound on that codec's cost already meets the running
    minimum of the columns BEFORE it in priority order carries the bound
    instead of the exact cost.  dict's bound skips the composite-key sort,
    rle's the run-length pass; on a bulk_codec batch only the ~20% of rows
    that rle wins need its exact cost.  Argmin/min consumers are
    unaffected: by induction over the columns, with P_j the running
    minimum of the stored columns before column j and M_j that of the
    exact ones, P_j == M_j and both matrices share their first argmin so
    far.  For a pruned column the bound b_j <= exact_j: where b_j < P_j the
    cell is exact, so the step is the unpruned one; elsewhere the stored
    b_j and the exact_j are both >= P_j, so the minimum stays P_j == M_j
    and a tie at it resolves to the earlier column either way — a pruned
    cell is never the first argmin, and a later column strictly below the
    minimum wins in both matrices.  So the selected cell is always exact
    (encode_rows sizes its output from it).  Cell-exact consumers
    (per-codec size queries, the parity tests) use the default
    prune=False.  An ef column raises ValueError on a row that is not
    non-decreasing, which Elias-Fano cannot encode; under prune=True that
    cell is int64 max instead, so the selector never picks ef there."""
    return _cost_pass(flat, offsets, candidates, prune)[0]


def _cost_pass(flat: np.ndarray, offsets: np.ndarray,
               candidates: tuple[str, ...], prune: bool):
    """row_costs' matrix, plus {svb-family codec: (values, data_len)}:
    the values each svb-family column was computed over (the per-row
    deltas for svb_delta) and each row's data length, which encode_rows
    hands to that codec's encoder instead of recomputing them."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    key_len = (nr + 3) // 4
    cols = []
    prior_min = None
    svb_inputs = {}
    # lens1234 feeds svb and rle; max/min feed both bitpack and for
    lens1234 = _lens_1234(flat)
    mx = mn = None
    for name in candidates:
        if name in ("svb", "svb0124", "svb_delta"):
            delta = name == "svb_delta"
            vals = _row_deltas(flat, offsets) if delta else flat
            if name == "svb0124":  # lens1234 with 3 -> 4 and zeros -> 0
                lens = lens1234 + (lens1234 == np.uint8(3)) \
                    - (flat == np.uint32(0))
            else:
                lens = _lens_1234(vals) if delta else lens1234
            data_len = _seg_sum(lens, offsets)
            svb_inputs[name] = (vals, data_len)
            c = key_len + data_len
        elif name == "bitpack":
            mx = _seg_reduce(np.maximum, flat, offsets).astype(np.int64) if mx is None else mx
            w = _exact_width(mx)
            c = 1 + (nr * w + 7) // 8
        elif name == "for":
            mx = _seg_reduce(np.maximum, flat, offsets).astype(np.int64) if mx is None else mx
            mn = _seg_reduce(np.minimum, flat, offsets).astype(np.int64)
            w = _exact_width(mx - mn)
            c = 5 + (nr * w + 7) // 8
        elif name == "dict":
            c = _dict_costs(flat, offsets, nr,
                            prior_min if prune else None)
        elif name == "rle":
            c = _rle_costs(flat, offsets, lens1234,
                           prior_min if prune else None)
        elif name == "fsst":
            c = _fsst_costs(flat, offsets)
        elif name == "ef":
            if not prune:
                _ef_validate_rows(flat, offsets)
            enr, u, L = _ef_params_rows(flat, offsets)
            c = 1 + (enr * L + 7) // 8 + (enr + (u >> L) + 7) // 8
            if prune:
                c = np.where(row_sorted_mask(flat, offsets), c,
                             np.iinfo(np.int64).max)
        else:
            raise ValueError(f"no vectorized cost for codec {name!r}")
        col = np.where(nr > 0, c, 0)
        cols.append(col)
        if prune:
            prior_min = col if prior_min is None \
                else np.minimum(prior_min, col)
    return np.stack(cols, axis=1), svb_inputs


def _dict_costs(flat: np.ndarray, offsets: np.ndarray, nr: np.ndarray,
                prior_min: np.ndarray | None) -> np.ndarray:
    """Per-row dict cost: exact everywhere when prior_min is None; with a
    prior minimum, exact ONLY where dict could still be the argmin winner
    and a proven lower bound elsewhere (see row_costs' prune contract).

    The bound: distinct full values >= distinct low 10-bit parts (any
    projection only merges values), and the dict formula
    4 + 4K + nr*width(K-1)/8 is nondecreasing in K — so evaluating it at
    the projection's distinct count bounds the true cost from below.  The
    presence table is one byte scatter + a 1024-wide row sum (no sort);
    the composite-key sort then runs only over the surviving rows' values.
    A byte projection would cap the bound at 256 values, and on a
    bulk_codec batch left 16% of the rows (long rand_shifted and
    near_sorted_gap rows) to the sort, where 10 bits leave none.  Batches
    above 2^14 rows take the exact path, which keeps the table at <= 16 MB;
    get_spark's Arrow batch rule caps a Spark batch at 2^14 rows
    (session.ARROW_BATCH_ROWS), so only direct calls are that long."""
    if prior_min is None or flat.size == 0 or nr.size > (1 << 14):
        k = _row_distinct(flat, offsets)
        w = _exact_width(np.maximum(k - 1, 0))
        return 4 + 4 * k + (nr * w + 7) // 8
    R = nr.size
    # int32 index arithmetic: R << 10 <= 2^24 (guard above), so
    # (row << 10) + low bits fits int32 — half the temp traffic of int64
    idx = np.empty(flat.size, np.uint32)
    np.bitwise_and(flat, np.uint32(1023), out=idx)
    idx = idx.view(np.int32)
    idx += np.repeat(_cached_arange(R, np.int32) << 10, nr)
    pres = np.zeros(R << 10, np.uint8)
    pres[idx] = 1
    klb = pres.reshape(R, -1).sum(axis=1, dtype=np.int64)
    wlb = _exact_width(np.maximum(klb - 1, 0))
    c = 4 + 4 * klb + (nr * wlb + 7) // 8
    need = np.flatnonzero(c < prior_min)
    if need.size:
        if need.size == R:
            sub_flat, sub_off = flat, offsets
        else:
            sub_flat, sub_off = _take_segments(flat, offsets[need], nr[need])
        k = _row_distinct(sub_flat, sub_off)
        w = _exact_width(np.maximum(k - 1, 0))
        c[need] = 4 + 4 * k + (nr[need] * w + 7) // 8
    return c


def row_sorted_mask(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row non-decreasing mask (bool[R]) — one vectorized
    adjacent-compare excluding row seams; the eligibility gate that lets
    the selector offer Elias-Fano only where it is defined."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    ok = np.ones(nr.size, dtype=bool)
    if flat.size >= 2:
        row_ids = np.repeat(np.arange(nr.size, dtype=np.int64), nr)
        viol = (flat[1:] < flat[:-1]) & (row_ids[1:] == row_ids[:-1])
        ok[row_ids[1:][viol]] = False
    return ok


def _exact_width(mx: np.ndarray) -> np.ndarray:
    """Vectorized bit_length per element (exact for the uint32 range)."""
    cur = mx.astype(np.uint64)
    w = np.zeros(cur.shape, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        hit = cur >= (np.uint64(1) << np.uint64(shift))
        w += np.where(hit, shift, 0)
        cur = np.where(hit, cur >> np.uint64(shift), cur)
    return w + (cur > 0)


def _row_distinct(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    nr = offsets[1:] - offsets[:-1]
    if flat.size == 0:
        return np.zeros(nr.size, dtype=np.int64)
    # composite key (row_id << 32 | value): one flat sort groups rows and
    # orders values within each row — much faster than lexsort.  Built
    # in place to avoid three 8B/value transient allocations.
    key = np.empty(flat.size, np.uint64)
    np.copyto(key, flat, casting="unsafe")
    rid = np.repeat(_cached_arange(nr.size, np.uint64), nr)
    np.left_shift(rid, np.uint64(32), out=rid)
    np.bitwise_or(key, rid, out=key)
    key.sort()
    new = np.empty(key.size, np.uint8)
    new[0] = 1
    np.not_equal(key[1:], key[:-1], out=new[1:].view(bool))
    return _seg_sum(new, offsets)  # sort preserves row segment boundaries


# FSST-inspired symbol-table codec over the little-endian byte serialization
# of each row, at fixed 2-byte stride (Boncz/Neumann/Leis, VLDB 2020).
# Row layout: 1B k | k*2B ascending symbol table | ceil(m/8)B escape bitmap
# (1 = literal) | one code byte per table hit | 2 literal bytes per escaped
# pair, where m = 2n byte pairs.  The table holds the row's top
# _FSST_MAX_SYMBOLS pairs ranked by (count desc, pair value desc) among pairs
# seen >= 3 times (a symbol saves space only if freq*1 > 2, its table cost);
# the rank is a STABLE lexsort, so which equal-count pairs enter a full table
# is deterministic.
_FSST_MAX_SYMBOLS = 255


def _fsst_sizes(nr: np.ndarray, k: np.ndarray, n_hit: np.ndarray) -> np.ndarray:
    """Per-row fsst stream length (see the layout above) of nr values with
    a k-symbol table and n_hit table hits; 0 for an empty row."""
    m = 2 * nr
    return np.where(nr > 0, 1 + 2 * k + (m + 7) // 8 + n_hit
                    + 2 * (m - n_hit), 0)


def _fsst_tables(flat: np.ndarray, nr: np.ndarray):
    """Every row's fsst symbol table, the one ranking that both _fsst_costs
    and _fsst_encode_rows read, so cost(v) == len(encode(v)) by
    construction.  Returns (pairs, key, uniq, take, k, n_hit): the byte
    pairs in stream order and their (row << 16 | pair) keys; the distinct
    keys ascending, and which enter their row's table; per row the table
    size and its hits.  `flat` must be non-empty."""
    R = nr.size
    pairs = np.empty(2 * flat.size, dtype=np.uint32)
    pairs[0::2] = flat & np.uint32(0xFFFF)
    pairs[1::2] = flat >> np.uint32(16)
    key = np.repeat(np.arange(R, dtype=np.uint64), 2 * nr) << np.uint64(16)
    key |= pairs
    # a sort, and in the encoder a searchsorted: ~2x cheaper than
    # np.unique(return_inverse=True), whose inverse needs a full argsort
    skey = np.sort(key)
    new = np.empty(skey.size, dtype=bool)
    new[0] = True
    np.not_equal(skey[1:], skey[:-1], out=new[1:])
    grp_start = np.flatnonzero(new)
    uniq = skey[grp_start]
    cnt = np.diff(np.append(grp_start, skey.size))
    grp_row = (uniq >> np.uint64(16)).astype(np.int64)
    grp_off = np.searchsorted(grp_row, np.arange(R + 1))  # row r's groups
    # rank each row's pairs by (count desc, pair desc) for the cap; the
    # stable lexsort keeps each row's span of uniq (grp_row is primary)
    order = np.lexsort((-(uniq & np.uint64(0xFFFF)).astype(np.int64), -cnt,
                        grp_row))
    rank = np.arange(uniq.size) - np.repeat(grp_off[:-1], np.diff(grp_off))
    take = np.zeros(uniq.size, dtype=bool)
    take[order] = (rank < _FSST_MAX_SYMBOLS) & (cnt[order] >= 3)
    k = _seg_sum(take, grp_off)
    n_hit = _seg_sum(np.where(take, cnt, 0), grp_off)
    return pairs, key, uniq, take, k, n_hit


def _fsst_costs(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row fsst cost, exactly len(fsst encode) per row: the encoder's
    own tables (_fsst_tables) priced by _fsst_sizes."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    if flat.size == 0:
        return np.zeros(nr.size, dtype=np.int64)
    *_, k, n_hit = _fsst_tables(flat, nr)
    return _fsst_sizes(nr, k, n_hit)


def _fsst_encode_rows(flat: np.ndarray, offsets: np.ndarray):
    """Whole-batch fsst encode (see the layout above): each row's table
    from _fsst_tables, then table bytes, bitmap bits, hit codes and escape
    literals scattered with segment copies — no per-row Python."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    R = nr.size
    if flat.size == 0:
        return np.zeros(0, np.uint8), np.zeros(R + 1, dtype=np.int64)
    pairs, key, uniq, take, k, n_hit = _fsst_tables(flat, nr)
    m = 2 * nr
    pair_off = 2 * offsets
    k_off = np.concatenate([[0], np.cumsum(k)])
    # code of a taken group = its ascending-pair rank within the row's taken
    # set; uniq is (row, pair)-ascending, so taken groups are already in
    # symbol-table order — one global cumsum gives the table index
    code_by_group = np.cumsum(take, dtype=np.int64) - 1 \
        - k_off[(uniq >> np.uint64(16)).astype(np.int64)]
    inverse = np.searchsorted(uniq, key)
    in_table = take[inverse]                 # per pair, original order
    bm_len = (m + 7) // 8
    out_offsets = np.concatenate([[0], np.cumsum(_fsst_sizes(nr, k, n_hit))])
    out = np.empty(int(out_offsets[-1]), dtype=np.uint8)
    live = nr > 0
    out[out_offsets[:-1][live]] = k[live].astype(np.uint8)
    # symbol tables (ascending u16 LE per row)
    table_bytes = (uniq[take] & np.uint64(0xFFFF)).astype("<u2").view(np.uint8)
    _copy_segments(out, out_offsets[:-1] + 1, table_bytes, 2 * k_off[:-1],
                   2 * k)
    # escape bitmap: per-row byte-aligned LSB-first bits (1 = literal),
    # matching np.packbits(~in_table, bitorder='little') per row
    bm_off = np.concatenate([[0], np.cumsum(bm_len)])
    dense = np.zeros(int(bm_off[-1]) * 8, dtype=np.uint8)
    _copy_segments(dense, 8 * bm_off[:-1], (~in_table).view(np.uint8),
                   pair_off[:-1], m)
    bitmap = np.packbits(dense, bitorder="little")
    _copy_segments(out, out_offsets[:-1] + 1 + 2 * k, bitmap, bm_off[:-1],
                   bm_len)
    # hit codes then escape literals, each row-major in stream order
    hit_codes = code_by_group[inverse][in_table].astype(np.uint8)
    _copy_segments(out, out_offsets[:-1] + 1 + 2 * k + bm_len, hit_codes,
                   np.cumsum(n_hit) - n_hit, n_hit)
    lit_bytes = pairs[~in_table].astype("<u2").view(np.uint8)
    n_lit = 2 * (m - n_hit)
    _copy_segments(out, out_offsets[:-1] + 1 + 2 * k + bm_len + n_hit,
                   lit_bytes, np.cumsum(n_lit) - n_lit, n_lit)
    return out, out_offsets


def _fsst_decode_rows(enc: np.ndarray, enc_offsets: np.ndarray,
                      n_toks: np.ndarray):
    """Inverse of _fsst_encode_rows, whole-batch: per-pair bitmap-bit gather
    classifies hit vs literal; segmented exclusive scans index each pair
    into its row's code / literal stream; table lookups are flat gathers.
    A row shorter than its header, table and bitmap, not exactly as long
    as its table, bitmap, hits and literals, or holding a code past its
    table raises StreamError naming its batch row."""
    offsets, starts, sizes, nr, check = _row_streams("fsst", enc_offsets,
                                                     n_toks, 1)
    if not nr.size:
        return np.zeros(0, dtype=np.uint32), offsets
    k = enc[starts].astype(np.int64)
    m = 2 * nr
    bm_len = (m + 7) // 8
    bm_start = starts + 1 + 2 * k
    check(sizes < 1 + 2 * k + bm_len, lambda j: f"its {k[j]} symbols and "
          f"{m[j]}-bit bitmap take {1 + 2 * k[j] + bm_len[j]} bytes")
    pair_off = np.concatenate([[0], np.cumsum(m)])
    P = int(pair_off[-1])
    intra = np.arange(P, dtype=np.int64) - np.repeat(pair_off[:-1], m)
    bm_byte = np.repeat(bm_start, m) + (intra >> 3)
    is_lit = ((enc[bm_byte] >> (intra & 7).astype(np.uint8)) & 1).astype(bool)
    hits = ~is_lit
    n_hit = _seg_sum(hits, pair_off)
    need = _fsst_sizes(nr, k, n_hit)
    check(sizes != need, lambda j: f"its {k[j]} symbols and {n_hit[j]} hits "
          f"of {m[j]} pairs take {need[j]} bytes")
    hit_off = np.concatenate([[0], np.cumsum(n_hit)])
    lit_base = np.concatenate([[0], np.cumsum(m - n_hit)])[:-1]
    hit_rank = np.cumsum(hits) - 1    # global hit index (valid at hits)
    lit_rank = np.cumsum(is_lit) - 1
    codes_start = bm_start + bm_len
    lit_start = codes_start + n_hit
    code_pos = (np.repeat(codes_start - hit_off[:-1], m) + hit_rank)[hits]
    code = enc[code_pos].astype(np.int64)
    top = _seg_reduce(np.maximum, code, hit_off, empty_val=-1)
    check(top >= k, lambda j: f"it holds code {top[j]} of {k[j]} symbols")
    pairs16 = np.empty(P, dtype=np.uint32)
    tpos = np.repeat(starts + 1, m)[hits] + 2 * code
    pairs16[hits] = enc[tpos].astype(np.uint32) | (
        enc[tpos + 1].astype(np.uint32) << np.uint32(8))
    lit_pos = (np.repeat(lit_start - 2 * lit_base, m) + 2 * lit_rank)[is_lit]
    pairs16[is_lit] = enc[lit_pos].astype(np.uint32) | (
        enc[lit_pos + 1].astype(np.uint32) << np.uint32(8))
    # rows hold an even pair count (m = 2n), so the global low/high
    # interleave reconstructs each value from its own row's pairs, and the
    # rows with values, concatenated, are the whole batch's values
    return pairs16[0::2] | (pairs16[1::2] << np.uint32(16)), offsets


def _rle_costs(flat: np.ndarray, offsets: np.ndarray, lens1234: np.ndarray,
               prior_min: np.ndarray | None = None) -> np.ndarray:
    """Per-row rle cost, 8 + (ceil(runs/4) + sum lens(run values)) +
    (ceil(runs/4) + sum lens(run lengths)): exact everywhere when
    prior_min is None; with a prior minimum, exact ONLY where rle could
    still be the argmin winner and a proven lower bound elsewhere (see
    row_costs' prune contract).  The bound counts every run length as one
    byte (a length is >= 1, so its svb length is too):
    8 + 2*ceil(runs/4) + sum lens(run values) + runs."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    if flat.size == 0:
        return np.zeros(nr.size, dtype=np.int64)
    is_start = np.empty(flat.size, np.uint8)
    is_start[0] = 1
    np.not_equal(flat[1:], flat[:-1], out=is_start[1:].view(bool))
    row_starts = offsets[:-1][nr > 0]
    is_start[row_starts] = 1
    # run-value byte lengths without gathering run_vals: a run's value is the
    # element AT the run start, so masking lens1234 by is_start sums exactly
    # the per-run value lengths
    sz_val_data = _seg_sum(lens1234 * is_start, offsets)
    runs = _seg_sum(is_start, offsets)
    c = 8 + 2 * ((runs + 3) // 4) + sz_val_data + runs
    if prior_min is None:
        need, sub, sub_off = slice(None), is_start, offsets
    else:
        need = np.flatnonzero(c < prior_min)
        if not need.size:
            return c
        sub, sub_off = _take_segments(is_start, offsets[need], nr[need])
    # run lengths: distance to next run start (row boundaries always start
    # runs, so lengths never cross rows); each adds its svb length beyond
    # the one byte the bound counted
    run_pos = np.flatnonzero(sub[:sub_off[-1]])
    run_lens = np.empty(run_pos.size, dtype=np.uint32)
    if run_pos.size:
        np.subtract(run_pos[1:], run_pos[:-1], out=run_lens[:-1],
                    casting="unsafe")
        run_lens[-1] = sub_off[-1] - run_pos[-1]
    run_off = np.zeros(sub_off.size, dtype=np.int64)
    np.cumsum(runs[need], out=run_off[1:])
    c[need] += _seg_sum(_lens_1234(run_lens) - np.uint8(1), run_off)
    return c


# ------------------------------------------------------------ public facades

def _select(flat: np.ndarray, offsets: np.ndarray, codec: str):
    """THE codec selector of the auto mode ``codec``: (codec ids int32[R],
    sizes int64[R], svb_inputs of _cost_pass).  Each row takes the first
    minimum of the mode's pruned cost pass, whose selected cell is exact
    (see row_costs); an empty row costs 0 everywhere and takes svb."""
    names = AUTO_MODES[codec]
    costs, svb_inputs = _cost_pass(flat, offsets, names, prune=True)
    pick = np.argmin(costs, axis=1)
    sizes = costs[np.arange(pick.size), pick]
    codec_ids = np.array([CODEC_ID[c] for c in names], np.int32)[pick]
    codec_ids[offsets[1:] == offsets[:-1]] = CODEC_ID["svb"]
    return codec_ids, sizes, svb_inputs


def encode_rows(flat: np.ndarray, offsets: np.ndarray, codec: str = "auto"):
    """Encode each row with the stored codec ``codec``, or with the codec
    the auto mode ``codec`` selects per row (_select).

    Returns (out_bytes: uint8[], out_offsets: int64[R+1], codec_ids: int32[R]).

    An auto mode sizes every row from its selected cost before any kernel
    runs (cost(v) == len(encode(v))), and the svb-family encoders reuse
    the deltas and row data lengths the cost pass computed.  An unknown
    name raises ValueError listing the valid ones.
    """
    flat = np.ascontiguousarray(flat, dtype=np.uint32)
    offsets = np.asarray(offsets, dtype=np.int64)
    if check_codec(codec) in AUTO_MODES:
        codec_ids, sizes, svb_inputs = _select(flat, offsets, codec)
    else:
        codec_ids = np.full(offsets.size - 1, CODEC_ID[codec], np.int32)
        sizes, svb_inputs = None, {}

    def run(name, rows, dst):
        return _KERNELS[name][0](flat, offsets, rows=rows, dst=dst,
                                 pre=svb_inputs.get(name))

    out, out_offsets = _by_codec(codec_ids, sizes, run, np.uint8)
    return out, out_offsets, codec_ids


def size_rows(flat: np.ndarray, offsets: np.ndarray,
              codec: str = "auto") -> np.ndarray:
    """Each row's exact encoded size (int64[R]) under ``codec`` — equal to
    its length in encode_rows(flat, offsets, codec), without encoding: the
    selected size for an auto mode, row_costs' one column for a stored
    codec.  An unknown name raises ValueError listing the valid ones."""
    flat = np.ascontiguousarray(flat, dtype=np.uint32)
    offsets = np.asarray(offsets, dtype=np.int64)
    if check_codec(codec) in AUTO_MODES:
        return _select(flat, offsets, codec)[1]
    return row_costs(flat, offsets, (codec,))[:, 0]


def decode_rows(enc: np.ndarray, enc_offsets: np.ndarray, n_toks: np.ndarray,
                codec_ids: np.ndarray):
    """Decode each row; returns (flat uint32[], offsets int64[R+1]).  A
    stream whose length contradicts its count and its control bytes or
    header raises StreamError (a ValueError) naming its batch row."""
    return _decode_by_codec(enc, enc_offsets, n_toks, codec_ids, None)


def decode_prefix_rows(enc: np.ndarray, enc_offsets: np.ndarray,
                       n_toks: np.ndarray, codec_ids: np.ndarray,
                       max_len: int):
    """Decode only the FIRST min(max_len, n_tok) tokens of each row — the
    truncate-to-max-seq-len operator of a training pipeline, done without
    decoding the tail.

    svb-family rows (svb / svb0124 / svb_delta) use the true prefix path:
    control bytes address the prefix's data bytes directly, so work and
    output are O(prefix), not O(n_tok) (svb_delta's prefix sum is
    prefix-local: value i depends only on values <= i).  Codecs whose layout
    is not prefix-addressable without the header (dict tables, RLE runs,
    bit-packed words) decode fully and truncate — correct, just not cheaper.
    Returns (flat uint32[], offsets int64[R+1]) with per-row length
    min(max_len, n_tok)."""
    kk = np.minimum(np.asarray(n_toks, dtype=np.int64), max_len)
    return _decode_by_codec(enc, enc_offsets, n_toks, codec_ids, kk)


def _decode_by_codec(enc, enc_offsets, n_toks, codec_ids, n_values):
    """decode_rows (n_values None) and decode_prefix_rows: each codec group
    decodes through its table kernel, and row r keeps its first n_values[r]
    tokens (all n_toks[r] when None)."""
    enc = np.ascontiguousarray(enc, dtype=np.uint8)
    enc_offsets = np.asarray(enc_offsets, dtype=np.int64)
    n_toks = np.asarray(n_toks, dtype=np.int64)
    codec_ids = np.asarray(codec_ids, dtype=np.int32)

    def run(name, rows, dst):
        return _KERNELS[name][1](enc, enc_offsets, n_toks, n_values=n_values,
                                 rows=rows, dst=dst)

    return _by_codec(codec_ids, n_toks if n_values is None else n_values,
                     run, np.uint32)


def _by_codec(codec_ids: np.ndarray, sizes, run, dtype):
    """THE codec-group loop of encode_rows / decode_rows /
    decode_prefix_rows: returns every row's output concatenated in row
    order, with offsets.  run(name, rows, dst) runs codec `name`'s table
    kernel.

    A batch of one codec runs its kernel once over every row (rows=None,
    dst=None) and returns that kernel's output as it is — unless `sizes`
    (each row's output length, None when only the kernel knows it; never
    more than the kernel's row) asks for less in total, as a prefix decode
    of a whole-row layout does, and the rows are cut to it.  A mixed batch
    knows every row's output offset from `sizes` before any kernel runs,
    allocates the batch output once, and runs each group's kernel with its
    rows and dst = (out, starts, sizes):
    the svb family writes those rows straight into place, and the other
    layouts' outputs are copied in (_placed)."""
    groups = np.unique(codec_ids)
    whole = None
    if groups.size <= 1:
        whole = run(CODEC_NAMES[groups[0]] if groups.size else "svb",
                    None, None)
        if sizes is None or whole[1][-1] == sizes.sum():
            return whole
    offsets = np.zeros(codec_ids.size + 1, dtype=np.int64)
    np.cumsum(sizes, out=offsets[1:])
    total = int(offsets[-1])
    # 4 spare elements: an svb row's last 4-byte store may reach up to 4
    # bytes past the batch's last byte
    out = np.empty(total + 4, dtype=dtype)
    if whole is not None:  # whole rows, cut to their sizes
        _copy_segments(out, offsets[:-1], whole[0], whole[1][:-1], sizes)
    else:
        for cid in groups:
            rows = np.flatnonzero(codec_ids == cid)
            run(CODEC_NAMES[cid], rows, (out, offsets[rows], sizes[rows]))
    return out[:total], offsets


def _placed(kernel):
    """A whole-row kernel kernel(values, offsets, *per_row) -> (buf,
    buf_offsets) behind the table's interface: `rows` selects batch rows
    (their segments and per-row arguments are gathered first) and dst =
    (out, starts, sizes) copies row i's first sizes[i] output elements to
    out[starts[i]:].  n_values and pre are not used: these layouts decode
    whole rows, and dst's sizes cut a prefix.  A StreamError from a row
    subset names the row of the batch."""
    def run(values, offsets, *per_row, n_values=None, rows=None, dst=None,
            pre=None):
        if rows is not None:
            values, offsets = _take_segments(
                values, offsets[rows], offsets[rows + 1] - offsets[rows])
            per_row = [a[rows] for a in per_row]
        try:
            buf, boff = kernel(values, offsets, *per_row)
        except StreamError as e:  # name the batch row, not the subset's
            if rows is None:
                raise
            raise StreamError(int(rows[e.row]), str(e)) from None
        if dst is None:
            return buf, boff
        out, starts, sizes = dst
        _copy_segments(out, starts, buf, boff[:-1], sizes)
    return run


def subset_prefix(flat: np.ndarray, offsets: np.ndarray, kk: np.ndarray):
    """First kk[r] values of each row (vectorized truncate)."""
    return _take_segments(flat, offsets[:-1], kk)


def _segmented_cumsum_u32(d: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row uint32 wrap-around prefix sums (prev=0 per row)."""
    if d.size == 0:
        return d
    g = np.cumsum(d, dtype=np.uint32)
    base = _row_base_at(g, np.asarray(offsets[:-1], dtype=np.int64))
    nr = offsets[1:] - offsets[:-1]
    g -= np.repeat(base, nr)
    return g


# ------------------------------------------------------------ batched validate

def max_compressed_bytes_rows(n_toks: np.ndarray) -> np.ndarray:
    """Vectorized streamvbyte_max_compressedbytes
    (reference include/streamvbyte.h:33-39) per row: ceil(n/4) control
    bytes + 4n worst-case data + 16 decode pad."""
    n = np.asarray(n_toks, dtype=np.int64)
    return (n + 3) // 4 + 4 * n + 16


# ---------------------------------------------------- roundtrip fingerprint

# constants of queries._FP_BODY — the driver-gate scalar that proves
# decode(encode(x)) == x: fp = fold over tokens of ((acc*31 + t) mod p,
# normalized to [0, p)).  Both must stay in sync with the SQL text.
_FP_P = 1_000_000_007
_FP_B = 31

_fp_pow = np.ones(1, dtype=np.uint64)  # 31^k mod p, grown on demand


def _fp_powers(n: int) -> np.ndarray:
    """Power table 31^k mod p for k < n (process-lifetime cache, grows to the
    longest row ever seen — the Python extension loop runs once per size)."""
    global _fp_pow
    if _fp_pow.size < n:
        size = max(n, 2 * _fp_pow.size)
        ext = np.empty(size, np.uint64)
        ext[:_fp_pow.size] = _fp_pow
        for i in range(_fp_pow.size, size):
            ext[i] = ext[i - 1] * _FP_B % _FP_P
        _fp_pow = ext
    return _fp_pow


def fingerprint_rows(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row polynomial fingerprint, bit-identical to the SQL fold
    ``aggregate(tokens, 0L, (acc, t) -> ((acc*31 + t) % p + p) % p)``
    (queries._FP_BODY) that the DuckDB oracles compute over the ORIGINAL
    tokens.  ``flat`` carries the SIGNED token values (int32 view for
    decoded streams — zigzag rows are negative); empty rows fold to 0.

    Closed form per row: fp = (sum_j norm(t_j) * 31^(L-1-j)) mod p with
    norm(t) = t mod p in [0, p) — equal to the left fold because mod is a
    ring homomorphism.  All products stay < 2^60 (two factors < 2^30) and
    the one global cumsum stays < 2^61 for any int32-offset Arrow batch, so
    uint64 arithmetic is exact end-to-end.  Replaces the interpreted
    CodegenFallback ``aggregate()`` pass (~10x/element; CLAUDE.md) that
    previously taxed every round-trip query."""
    offsets = np.asarray(offsets, dtype=np.int64)
    nr = offsets[1:] - offsets[:-1]
    V = int(offsets[-1]) if offsets.size else 0
    if V == 0:
        return np.zeros(nr.size, dtype=np.int64)
    v = np.remainder(np.asarray(flat[:V]).astype(np.int64),
                     _FP_P).astype(np.uint64)
    pw = _fp_powers(int(nr.max()))
    # position-from-end exponent: element at global index g of row i gets
    # 31^(end_i - 1 - g)
    rev = np.repeat(offsets[1:], nr)
    rev -= 1 + np.arange(V, dtype=np.int64)
    v *= pw[rev]
    v %= np.uint64(_FP_P)
    c = np.empty(V + 1, dtype=np.uint64)
    c[0] = 0
    np.cumsum(v, out=c[1:])
    return ((c[offsets[1:]] - c[offsets[:-1]]) %
            np.uint64(_FP_P)).astype(np.int64)


def truncate_rows(enc: np.ndarray, enc_offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Drop the LAST byte of every nonempty row segment (corrupt-stream test
    harness: any valid nonzero-count stream becomes length-inconsistent)."""
    enc = np.asarray(enc, dtype=np.uint8)
    off = np.asarray(enc_offsets, dtype=np.int64)
    lens = off[1:] - off[:-1]
    keep = np.ones(enc.size, dtype=bool)
    ends = off[1:][lens > 0]
    keep[ends - 1] = False
    new_off = np.zeros(off.size, dtype=np.int64)
    np.cumsum(lens - (lens > 0), out=new_off[1:])
    return enc[keep], new_off


def validate_rows(enc: np.ndarray, enc_offsets: np.ndarray, n_toks: np.ndarray,
                  scheme0124: bool = False) -> np.ndarray:
    """Per-row streamvbyte_validate_stream (src/streamvbyte_decode.c:89-136):
    row is valid iff its control bytes' length sum matches its data length.
    Returns bool[R]. Vectorized across all rows of the batch."""
    enc = np.ascontiguousarray(enc, dtype=np.uint8)
    enc_offsets = np.asarray(enc_offsets, dtype=np.int64)
    n_toks = np.asarray(n_toks, dtype=np.int64)
    sizes = enc_offsets[1:] - enc_offsets[:-1]
    key_len = (n_toks + 3) // 4
    # reference empty rules: inCount==0 or outCount==0 -> inCount == outCount
    valid = np.zeros(n_toks.size, dtype=bool)
    empty = (sizes == 0) | (n_toks == 0)
    valid[empty] = (sizes[empty] == n_toks[empty])
    check = np.flatnonzero(~empty & (sizes >= key_len))
    if check.size:
        sub_n = n_toks[check]
        sub_key = key_len[check]
        ctrl, ctrl_starts = _take_segments(enc, enc_offsets[check], sub_key)
        codes_padded = _CTRL_CODES_U32[ctrl].view(np.uint8)
        codes, sub_off = _take_segments(codes_padded, 4 * ctrl_starts[:-1],
                                        sub_n)
        lens = _LEN_0124_U8[codes] if scheme0124 else codes + np.uint8(1)
        expected = sub_key + _seg_sum(lens, sub_off)
        valid[check] = expected == sizes[check]
    return valid


# ----------------------------------------------------- signed (zigzag) streams

def _zigzag_encode(u: np.ndarray) -> np.ndarray:
    """Signed->unsigned bijection over int32 values held as uint32
    (src/streamvbyte_zigzag.c:4-6): enc(v) = (v+v) ^ (v>>31) in wrap-around
    arithmetic."""
    sign = (u.view(np.int32) >> np.int32(31)).view(np.uint32)  # 0 or ~0
    return (u << np.uint32(1)) ^ sign


def _zigzag_decode(u: np.ndarray) -> np.ndarray:
    """dec(u) = (u>>1) ^ -(u&1) (src/streamvbyte_zigzag.c:21-23); the
    int32 result is returned as uint32."""
    return (u >> np.uint32(1)) ^ (np.uint32(0) - (u & np.uint32(1)))


def encode_signed_rows(flat_i32: np.ndarray, offsets: np.ndarray, delta: bool = False):
    """int32 rows -> zigzag (optionally per-row delta, prev=0) -> svb 1234.

    Codec names: 'svb_zigzag' / 'svb_zz_delta' (reference
    src/streamvbyte_zigzag.c:8-38 semantics, batched)."""
    offsets = np.asarray(offsets, dtype=np.int64)
    u = np.ascontiguousarray(flat_i32, dtype=np.int32).view(np.uint32)
    if delta:
        u = _row_deltas(u, offsets)
    return _svb_encode_rows(_zigzag_encode(u), offsets, False)


def decode_signed_rows(enc: np.ndarray, enc_offsets: np.ndarray, n_toks: np.ndarray,
                       delta: bool = False):
    """Inverse of encode_signed_rows; returns (flat int32, offsets)."""
    vals, offsets = _svb_decode_rows(np.ascontiguousarray(enc, dtype=np.uint8),
                                     np.asarray(enc_offsets, dtype=np.int64),
                                     np.asarray(n_toks, dtype=np.int64), False)
    u = _zigzag_decode(vals)
    if delta:
        u = _segmented_cumsum_u32(u, offsets)
    return u.view(np.int32), offsets


# --------------------------------------------- delta streams with prev chains

def encode_delta_rows_prev(flat: np.ndarray, offsets: np.ndarray,
                           prev: np.ndarray):
    """svb_delta with a per-row prev seed (chunked sequences): row r encodes
    diffs vs prev[r] (uint32 wraparound), matching streamvbyte_delta_encode's
    out-of-band prev (include/streamvbytedelta.h:17-19)."""
    flat = np.ascontiguousarray(flat, dtype=np.uint32)
    offsets = np.asarray(offsets, dtype=np.int64)
    prev = np.asarray(prev).astype(np.int64).astype(np.uint32)
    return _svb_encode_rows(_row_deltas(flat, offsets, prev), offsets, False)


def decode_delta_rows_prev(enc: np.ndarray, enc_offsets: np.ndarray,
                           n_toks: np.ndarray, prev: np.ndarray,
                           n_values: np.ndarray | None = None):
    """Inverse: decode then per-row prefix sum seeded at prev[r].

    n_values (optional) decodes only each row's first min(n_values, n_tok)
    tokens — valid for delta streams because value i depends only on deltas
    <= i, so a prefix of the stream reconstructs a prefix of the tokens."""
    out, offsets = _svb_decode_rows(
        np.ascontiguousarray(enc, dtype=np.uint8),
        np.asarray(enc_offsets, dtype=np.int64),
        np.asarray(n_toks, dtype=np.int64), False, n_values, delta=True)
    nr = offsets[1:] - offsets[:-1]
    out += np.repeat(np.asarray(prev).astype(np.int64).astype(np.uint32), nr)
    return out, offsets


# ----------------------------------------------------------------- batched rle

def _rle_runs(flat: np.ndarray, offsets: np.ndarray):
    """Global run extraction (runs never cross row boundaries)."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    is_start = np.ones(flat.size, dtype=bool)
    is_start[1:] = flat[1:] != flat[:-1]
    row_starts = offsets[:-1][nr > 0]
    is_start[row_starts] = True
    run_pos = np.flatnonzero(is_start)
    run_vals = flat[run_pos]
    run_ends = np.concatenate([run_pos[1:], [flat.size]])
    run_lens = (run_ends - run_pos).astype(np.uint32)
    runs_per_row = _seg_sum(is_start, offsets)
    run_offsets = np.concatenate([[0], np.cumsum(runs_per_row)])
    return run_vals, run_lens, runs_per_row, run_offsets


def _rle_encode_rows(flat: np.ndarray, offsets: np.ndarray):
    """Batched RLE: per row
    [nruns u32 LE][len(svb vals) u32 LE][svb(run values)][svb(run lengths)]."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    R = nr.size
    if flat.size == 0:
        return np.zeros(0, np.uint8), np.zeros(R + 1, dtype=np.int64)
    run_vals, run_lens, runs_per_row, run_offsets = _rle_runs(flat, offsets)
    sv, svo = _svb_encode_rows(run_vals, run_offsets, False)
    sl, slo = _svb_encode_rows(run_lens, run_offsets, False)
    svsz = svo[1:] - svo[:-1]
    slsz = slo[1:] - slo[:-1]
    sizes = np.where(nr > 0, 8 + svsz + slsz, 0)
    out_offsets = np.concatenate([[0], np.cumsum(sizes)])
    out = np.empty(int(out_offsets[-1]), dtype=np.uint8)
    live = nr > 0
    hdr_idx = (out_offsets[:-1][live, None] + np.arange(4, dtype=np.int64))
    out[hdr_idx] = runs_per_row[live].astype("<u4").view(np.uint8).reshape(-1, 4)
    out[hdr_idx + 4] = svsz[live].astype("<u4").view(np.uint8).reshape(-1, 4)
    _copy_segments(out, out_offsets[:-1] + 8, sv, svo[:-1], svsz)
    _copy_segments(out, out_offsets[:-1] + 8 + svsz, sl, slo[:-1], slsz)
    return out, out_offsets


def _rle_decode_rows(enc: np.ndarray, enc_offsets: np.ndarray, n_toks: np.ndarray):
    """Inverse of _rle_encode_rows, whole-batch.  A row whose stored bytes
    contradict its header or n_tok (too short for its header or its run
    streams, or runs that do not add up to n_tok) raises StreamError
    naming its batch row."""
    offsets, starts, sizes, nr, check = _row_streams("rle", enc_offsets,
                                                     n_toks, 8)
    nruns = enc[(starts[:, None] + np.arange(4, dtype=np.int64))].copy().view("<u4").ravel().astype(np.int64)
    len_sv = enc[(starts[:, None] + 4 + np.arange(4, dtype=np.int64))].copy().view("<u4").ravel().astype(np.int64)
    len_sl = sizes - 8 - len_sv
    check(len_sl < 0,
          lambda j: f"its header declares {len_sv[j]} run-value bytes")
    run_offsets = np.concatenate([[0], np.cumsum(nruns)])
    # gather the two concatenated sub-streams
    sv_cat, sv_off = _take_segments(enc, starts + 8, len_sv)
    sl_cat, sl_off = _take_segments(enc, starts + 8 + len_sv, len_sl)
    try:  # the sub-streams' rows are the rows with values
        run_vals, _ = _svb_decode_rows(sv_cat, sv_off, nruns, False)
        run_lens, _ = _svb_decode_rows(sl_cat, sl_off, nruns, False)
    except StreamError as e:
        check(np.arange(nr.size) == e.row, lambda j: f"its run stream: {e}")
    exp_sizes = _seg_sum(run_lens, run_offsets)
    check(exp_sizes != nr, lambda j: f"its runs hold {exp_sizes[j]} values")
    return np.repeat(run_vals, run_lens.astype(np.int64)), offsets


# ----------------------------------------- batched bit-pack / FOR / dictionary

def _pack_bits_rows(codes: np.ndarray, offsets: np.ndarray, widths: np.ndarray):
    """Per-row LSB-first bit packing at per-row widths (<= 32): a row's n
    values of width w fill the first ceil(n*w/8) bytes of its section,
    value j at bits [j*w, (j+1)*w), and each section starts on a byte.
    Returns (packed bytes, byte offsets per row).

    Every row is laid out in 8-value blocks: 8 values of width w fill
    exactly w bytes, so block b of a row is bytes [b*w, +w) of its section,
    and a row's last block is completed with zero values whose bits fall
    past the section.  For a byte width (8/16/24/32) a block is its
    values' low w/8 bytes, so those rows copy byte lanes, one copy per byte
    width present (a batch of one byte width is one reshape copy).  Any
    other width packs in 8 lane steps over the blocks: step i ORs value i
    of every block, shifted left by (i*w) & 7, into the 8-byte window at
    byte (i*w) >> 3 of its block (7 + 31 bits fit).  The values of one step
    never share a byte and their windows ascend: a window writes back
    unchanged the bytes past its value's bits, and any later window over
    the same bytes writes after it (the fancy |= reads every window before
    it writes any, and writes in index order).  The NumPy call count of a
    batch does not depend on how many widths it holds."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    widths = np.asarray(widths, dtype=np.int64)
    byte_off = np.zeros(nr.size + 1, dtype=np.int64)
    np.cumsum((nr * widths + 7) >> 3, out=byte_off[1:])
    total = int(byte_off[-1])
    # a lane window starts at most 27 bytes into a block that starts
    # inside the buffer, and is 8 bytes long
    out = np.zeros(total + 40, dtype=np.uint8)
    for nb in (1, 2, 3, 4):
        rows = np.flatnonzero(widths == 8 * nb)
        if rows.size:
            vals = codes[_segment_index(offsets[rows], nr[rows])]
            out[_segment_index(byte_off[rows], nb * nr[rows])] = \
                np.ascontiguousarray(vals, dtype="<u4").view(np.uint8) \
                .reshape(-1, 4)[:, :nb].reshape(-1)
    nb = np.where(widths % 8 != 0, (nr + 7) >> 3, 0)  # blocks per row
    if nb.any():
        boff = np.zeros(nr.size + 1, dtype=np.int64)
        np.cumsum(nb, out=boff[1:])
        bw = np.repeat(widths, nb)
        bstart = np.repeat(byte_off[:-1] - boff[:-1] * widths, nb) \
            + np.arange(bw.size) * bw
        lanes = np.zeros((bw.size, 8), dtype=np.uint64)
        _copy_segments(lanes.reshape(-1), 8 * boff[:-1], codes, offsets[:-1],
                       np.where(nb > 0, nr, 0))
        u64 = np.ndarray((total + 33,), np.uint64, buffer=out, strides=(1,))
        for i in range(8):
            bit = i * bw
            u64[bstart + (bit >> 3)] |= lanes[:, i] << (bit & 7).astype(
                np.uint64)
    return out[:total], byte_off


def _unpack_bits_rows(buf: np.ndarray, starts: np.ndarray, nr: np.ndarray,
                      widths: np.ndarray) -> np.ndarray:
    """Inverse of _pack_bits_rows over sections read where they lie: row
    r's nr[r] values of width widths[r] (<= 32) from byte starts[r] of
    buf.  Returns the values concatenated; a width-0 row decodes to zeros.

    Byte widths copy their byte lanes back, one copy per byte width
    present.  Reads never conflict, so every value of the other widths
    comes from one gather: value j of a row is the 8-byte window at byte
    (j*w) >> 3 of its section, shifted right by (j*w) & 7 and masked to w
    bits.  A window reaches up to 7 bytes past its section; when that is
    past the end of buf, the windows read a zero-padded copy of it."""
    nr = np.asarray(nr, dtype=np.int64)
    widths = np.asarray(widths, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    offsets = np.zeros(nr.size + 1, dtype=np.int64)
    np.cumsum(nr, out=offsets[1:])
    out = np.zeros(int(offsets[-1]), dtype=np.uint32)
    for nb in (1, 2, 3, 4):
        rows = np.flatnonzero(widths == 8 * nb)
        if rows.size:
            lanes = np.zeros((int(nr[rows].sum()), 4), dtype=np.uint8)
            lanes[:, :nb] = buf[_segment_index(starts[rows], nb * nr[rows])] \
                .reshape(-1, nb)
            out[_segment_index(offsets[rows], nr[rows])] = \
                lanes.view("<u4").reshape(-1)
    rows = np.flatnonzero((widths % 8 != 0) & (nr > 0))
    if rows.size:
        n = nr[rows]
        w = np.repeat(widths[rows], n)
        bit = (np.arange(w.size) - np.repeat(np.cumsum(n) - n, n)) * w
        pos = np.repeat(starts[rows], n) + (bit >> 3)
        end = int(pos.max()) + 8
        if buf.size < end:
            buf = np.concatenate([buf, np.zeros(end - buf.size, np.uint8)])
        u64 = np.ndarray((buf.size - 7,), np.uint64, buffer=buf,
                         strides=(1,))
        out[_segment_index(offsets[rows], n)] = \
            (u64[pos] >> (bit & 7).astype(np.uint64)) \
            & ((np.uint64(1) << w.astype(np.uint64)) - np.uint64(1))
    return out


def _bitpack_encode_rows(flat, offsets, frame_of_ref: bool):
    """Batched bitpack (header 1B width [+4B base for FOR]) per row."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    R = nr.size
    if flat.size == 0:
        return np.zeros(0, np.uint8), np.zeros(R + 1, dtype=np.int64)
    mx = _seg_reduce(np.maximum, flat, offsets).astype(np.int64)
    if frame_of_ref:
        mn = _seg_reduce(np.minimum, flat, offsets).astype(np.int64)
        base = mn.astype(np.uint32)
        shifted = flat - np.repeat(base, nr)
        widths = _exact_width(mx - mn)
        hdr = 5
    else:
        shifted = flat
        widths = _exact_width(mx)
        hdr = 1
    codes = shifted
    packed, pb_off = _pack_bits_rows(codes, offsets, widths)
    pb = pb_off[1:] - pb_off[:-1]
    sizes = np.where(nr > 0, hdr + pb, 0)
    out_offsets = np.concatenate([[0], np.cumsum(sizes)])
    out = np.empty(int(out_offsets[-1]), dtype=np.uint8)
    live = nr > 0
    out[out_offsets[:-1][live]] = widths[live].astype(np.uint8)
    if frame_of_ref:
        idx = out_offsets[:-1][live, None] + 1 + np.arange(4, dtype=np.int64)
        out[idx] = base[live].astype("<u4").view(np.uint8).reshape(-1, 4)
    _copy_segments(out, out_offsets[:-1] + hdr, packed, pb_off[:-1], pb)
    return out, out_offsets


def _bitpack_decode_rows(enc, enc_offsets, n_toks, frame_of_ref: bool):
    """Inverse of _bitpack_encode_rows.  A row whose header declares a
    width over 32, or that is not exactly its header plus ceil(n*w/8)
    bytes long, raises StreamError naming its batch row."""
    hdr = 5 if frame_of_ref else 1
    offsets, starts, sizes, nr, check = _row_streams(
        "for" if frame_of_ref else "bitpack", enc_offsets, n_toks, hdr)
    widths = enc[starts].astype(np.int64)
    check(widths > 32, lambda j: f"its header declares width {widths[j]}")
    need = hdr + ((nr * widths + 7) >> 3)
    check(sizes != need, lambda j: f"its {nr[j]} values of width "
          f"{widths[j]} take {need[j]} bytes")
    flat = _unpack_bits_rows(enc, starts + hdr, nr, widths)
    if frame_of_ref:
        base = enc[(starts[:, None] + 1 + np.arange(4, dtype=np.int64))].copy().view("<u4").ravel()
        flat += np.repeat(base, nr)
    return flat, offsets


def _ef_validate_rows(flat, offsets):
    """Loud per-row sortedness check (ef is only defined on non-decreasing
    rows) — the SAME mask as the auto_sorted eligibility gate, so the
    validator and the selector can never diverge."""
    ok = row_sorted_mask(flat, offsets)
    if not ok.all():
        raise ValueError(
            f"ef codec requires non-decreasing rows (row "
            f"{int(np.flatnonzero(~ok)[0])} is unsorted); "
            "use svb/svb_delta for unsorted values")


def _ef_params_rows(flat, offsets):
    """(nr, u, L) per row — L from the integer-division formula the DuckDB
    oracle reproduces: L = floor(log2(u div n)) clamped at 0."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    u = np.zeros(nr.size, dtype=np.int64)
    live = nr > 0
    u[live] = flat[offsets[1:][live] - 1]
    q = u // np.maximum(nr, 1)
    L = np.maximum(_exact_width(q) - 1, 0)
    return nr, u, L


def ef_encode_rows(flat, offsets):
    """Batched Elias-Fano: per-row layout 1B L + L-bit low halves
    (_pack_bits_rows) + unary upper bit vector (one global scatter of n
    ones + packbits over the batch).

    PUBLIC cross-module contract (with ef_decode_rows / subset_prefix):
    operators/chunking.py builds the chunked-EF wire format on these —
    renaming or changing their signatures changes stored bytes."""
    _ef_validate_rows(flat, offsets)
    nr, u, L = _ef_params_rows(flat, offsets)
    R = nr.size
    if flat.size == 0:
        return np.zeros(0, np.uint8), np.zeros(R + 1, dtype=np.int64)
    L_per_val = np.repeat(L, nr)
    low_codes = (flat & ((np.uint32(1) << L_per_val.astype(np.uint32))
                         - np.uint32(1)))
    low_b, low_off = _pack_bits_rows(low_codes, offsets, L)
    lb = low_off[1:] - low_off[:-1]
    high = (flat >> L_per_val.astype(np.uint32)).astype(np.int64)
    up_bits = np.where(nr > 0, nr + (u >> L), 0)
    ub = (up_bits + 7) // 8
    # global unary bit vector: each row's section starts byte-aligned
    ub_bit_off = np.concatenate([[0], np.cumsum(ub)]) * 8
    V = int(offsets[-1])
    intra = np.arange(V, dtype=np.int64) - np.repeat(offsets[:-1], nr)
    pos = np.repeat(ub_bit_off[:-1], nr) + high + intra
    dense = np.zeros(int(ub_bit_off[-1]), dtype=np.uint8)
    dense[pos] = 1
    upper = np.packbits(dense, bitorder="little")
    sizes = np.where(nr > 0, 1 + lb + ub, 0)
    out_offsets = np.concatenate([[0], np.cumsum(sizes)])
    out = np.empty(int(out_offsets[-1]), dtype=np.uint8)
    live = nr > 0
    out[out_offsets[:-1][live]] = L[live].astype(np.uint8)
    _copy_segments(out, out_offsets[:-1] + 1, low_b, low_off[:-1], lb)
    _copy_segments(out, out_offsets[:-1] + 1 + lb, upper, np.cumsum(ub) - ub,
                   ub)
    return out, out_offsets


def ef_decode_rows(enc, enc_offsets, n_toks):
    """Inverse of ef_encode_rows.  A row whose header declares L over 32,
    that is shorter than its header and ceil(n*L/8) low bytes, or whose
    upper section does not hold exactly n_tok ones raises StreamError
    naming its batch row."""
    offsets, starts, sizes, nr, check = _row_streams("ef", enc_offsets,
                                                     n_toks, 1)
    L = enc[starts].astype(np.int64)
    check(L > 32, lambda j: f"its header declares L={L[j]}")
    lb = (nr * L + 7) >> 3
    ub = sizes - 1 - lb
    check(ub < 0, lambda j: f"its {nr[j]} low halves of {L[j]} bits take "
          f"{lb[j]} bytes")
    # upper sections: gather, one global little-endian unpack, then split
    # the ascending ones positions by row (exactly nr ones per section)
    up_b, ub_off = _take_segments(enc, starts + 1 + lb, ub)
    bits = np.unpackbits(up_b, bitorder="little")
    ones = _seg_sum(bits, 8 * ub_off)
    check(ones != nr, lambda j: f"its upper section holds {ones[j]} ones")
    low = _unpack_bits_rows(enc, starts + 1, nr, L).astype(np.uint64)
    sub_off = np.concatenate([[0], np.cumsum(nr)])
    m = int(sub_off[-1])
    intra = np.arange(m, dtype=np.int64) - np.repeat(sub_off[:-1], nr)
    high = (np.flatnonzero(bits) - np.repeat(ub_off[:-1] * 8, nr)
            - intra).astype(np.uint64)
    flat = ((high << np.repeat(L, nr).astype(np.uint64)) | low) \
        .astype(np.uint32)
    return flat, offsets


def _dict_encode_rows(flat, offsets):
    """Batched dictionary codec (header 4B k + 4k B sorted uniques + packed
    codes). Per-row uniques and per-element codes from one global argsort
    of the (row<<32 | value) key space: a value's code is its key's rank
    among the row's uniques, which the sorted position already holds, so
    the codes scatter back through the sort's permutation."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    R = nr.size
    if flat.size == 0:
        return np.zeros(0, np.uint8), np.zeros(R + 1, dtype=np.int64)
    row_ids = np.repeat(np.arange(R, dtype=np.uint64), nr)
    key = (row_ids << np.uint64(32)) | flat.astype(np.uint64)
    order = np.argsort(key)
    skey = key[order]
    new = np.ones(skey.size, dtype=bool)
    new[1:] = skey[1:] != skey[:-1]
    uniq_vals = (skey[new] & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    k_per_row = _seg_sum(new, offsets)
    uniq_off = np.concatenate([[0], np.cumsum(k_per_row)])
    # the sort keeps each row in its own offsets range (the row id is the
    # key's high word), so sorted position i lies in the row of position i
    codes = np.empty(flat.size, dtype=np.uint32)
    codes[order] = np.cumsum(new) - 1 - np.repeat(uniq_off[:-1], nr)
    widths = _exact_width(np.maximum(k_per_row - 1, 0))
    packed, pb_off = _pack_bits_rows(codes, offsets, widths)
    pb = pb_off[1:] - pb_off[:-1]
    sizes = np.where(nr > 0, 4 + 4 * k_per_row + pb, 0)
    out_offsets = np.concatenate([[0], np.cumsum(sizes)])
    out = np.empty(int(out_offsets[-1]), dtype=np.uint8)
    live = nr > 0
    hdr_idx = out_offsets[:-1][live, None] + np.arange(4, dtype=np.int64)
    out[hdr_idx] = k_per_row[live].astype("<u4").view(np.uint8).reshape(-1, 4)
    _copy_segments(out, out_offsets[:-1] + 4, uniq_vals.view(np.uint8),
                   4 * uniq_off[:-1], 4 * k_per_row)
    _copy_segments(out, out_offsets[:-1] + 4 + 4 * k_per_row, packed,
                   pb_off[:-1], pb)
    return out, out_offsets


def _dict_decode_rows(enc, enc_offsets, n_toks):
    """Inverse of _dict_encode_rows.  A row whose header declares k
    values outside 1..n_tok, that is not exactly 4 + 4k + ceil(n*w/8)
    bytes long, or that holds a code >= k raises StreamError naming its
    batch row."""
    offsets, starts, sizes, nr, check = _row_streams("dict", enc_offsets,
                                                     n_toks, 4)
    k = enc[(starts[:, None] + np.arange(4, dtype=np.int64))].copy().view("<u4").ravel().astype(np.int64)
    check((k < 1) | (k > nr), lambda j: f"its header declares {k[j]} values")
    widths = _exact_width(k - 1)
    need = 4 + 4 * k + ((nr * widths + 7) >> 3)
    check(sizes != need, lambda j: f"its {k[j]} values and {nr[j]} codes "
          f"of width {widths[j]} take {need[j]} bytes")
    codes = _unpack_bits_rows(enc, starts + 4 + 4 * k, nr, widths)
    top = _seg_reduce(np.maximum, codes,
                      np.concatenate([[0], np.cumsum(nr)]))
    check(top >= k, lambda j: f"it holds code {top[j]} of {k[j]} values")
    uniq_bytes, _ = _take_segments(enc, starts + 4, 4 * k)
    uniq_vals = uniq_bytes.view("<u4")
    return uniq_vals[np.repeat(np.cumsum(k) - k, nr) + codes], offsets


# --------------------------------------------------------- codec kernel table

# THE codec -> whole-batch kernel map: encode_rows, decode_rows and
# decode_prefix_rows dispatch through it (via _by_codec) and nowhere else.
#   encode(flat, offsets, rows=None, dst=None, pre=None)
#   decode(enc, enc_offsets, n_toks, n_values=None, rows=None, dst=None)
# Without rows/dst a kernel runs over every row and returns (buffer,
# offsets); with them it runs over the batch rows `rows` and puts row
# rows[i]'s output at dst[0][dst[1][i]:] (see _by_codec).  A decode row
# holds at least its first n_values[r] tokens (None = all): the svb family
# decodes only that prefix (its control bytes address the prefix's data
# directly), the other layouts decode whole rows.  pre is the cost pass's
# input for an svb-family encoder (_cost_pass).
_KERNELS = {
    "svb": (partial(_svb_encode_rows, scheme0124=False),
            partial(_svb_decode_rows, scheme0124=False)),
    "svb0124": (partial(_svb_encode_rows, scheme0124=True),
                partial(_svb_decode_rows, scheme0124=True)),
    "svb_delta": (partial(_svb_encode_rows, scheme0124=False, delta=True),
                  partial(_svb_decode_rows, scheme0124=False, delta=True)),
    "bitpack": (_placed(partial(_bitpack_encode_rows, frame_of_ref=False)),
                _placed(partial(_bitpack_decode_rows, frame_of_ref=False))),
    "for": (_placed(partial(_bitpack_encode_rows, frame_of_ref=True)),
            _placed(partial(_bitpack_decode_rows, frame_of_ref=True))),
    "dict": (_placed(_dict_encode_rows), _placed(_dict_decode_rows)),
    "rle": (_placed(_rle_encode_rows), _placed(_rle_decode_rows)),
    "fsst": (_placed(_fsst_encode_rows), _placed(_fsst_decode_rows)),
    "ef": (_placed(ef_encode_rows), _placed(ef_decode_rows)),
}
