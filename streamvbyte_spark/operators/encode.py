"""Distributed encode/decode over the token table via mapInArrow.

The lifecycle (SURVEY.md §3.4): DataFrame (optionally repartitioned by
range on doc_id by the caller) -> ``mapInArrow`` running the
whole-batch kernels of ``codec.batched`` -> encoded table with lineage
columns.  The JVM<->Python boundary is crossed exactly once per Arrow
batch; inside a batch there is no per-row Python (input_hint
requirement).  Every kernel that decodes a stored stream reads it
through ``encoded_rows``.

Encoded schema:
  doc_id string, source string, n_tok int, codec string, encoded binary,
  in_bytes bigint, out_bytes bigint, checksum bigint, tok_min bigint,
  tok_max bigint

``checksum`` = per-row sum of token values (mod 2^63, vectorized) — cheap
lineage for resume verification; ``in_bytes`` = 4 * n_tok (raw uint32 bytes,
matching the reference perf harness's compressed-vs-raw framing,
/root/reference/tests/perf.c:87-89).
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import session
from ..arrow_rows import (binary_array, binary_flat, decode_slices,
                          kernel_schema, list_array, list_flat)
from ..codec import batched

ENCODED_SCHEMA = (
    "doc_id string, source string, n_tok int, codec string, encoded binary, "
    "in_bytes bigint, out_bytes bigint, checksum bigint, "
    "tok_min bigint, tok_max bigint"
)
DECODED_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"
DECODED_FP_SCHEMA = "doc_id string, n_tok int, source string, fingerprint bigint"
# the codec column's names, indexed by codec id
_CODEC_NAMES = pa.array(batched.CODEC_NAMES, pa.string())


def encode_table(df: DataFrame, codec: str = "auto",
                 flat_transform=None) -> DataFrame:
    """Encode tokens -> (codec, encoded, lineage).

    codec: a stored codec, or an auto mode (batched.AUTO_MODES) that picks
    each row's codec; an unknown name raises ValueError here, before any
    task runs.

    For encoded blocks aligned with doc_id ranges (scan/prune-friendly at
    the Iceberg layer), repartitionByRange on doc_id before calling this.
    flat_transform: optional elementwise uint32[V] -> uint32[V] numpy
    function applied to the flat token vector INSIDE the encode kernel — a
    cheap map-side projection fused into the encode stage instead of a
    separate column pass (a Spark ``transform()`` HOF over long arrays is a
    CodegenFallback node interpreted per element, and a pandas-UDF stage
    pays an extra Arrow crossing of the 4 B/token column).  Lineage
    (checksum, zone maps) and the round trip describe the TRANSFORMED
    values.
    """
    batched.check_codec(codec)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            flat, offsets = list_flat(batch.column(batch.schema.get_field_index("tokens")))
            flat = flat.astype(np.int32, copy=False).view(np.uint32)
            if flat_transform is not None:
                flat = flat_transform(flat)
            out, ooff, cids = batched.encode_rows(flat, offsets, codec=codec)
            nr = offsets[1:] - offsets[:-1]
            csum = batched._seg_sum(flat, offsets)
            # zone map: per-row token min/max let a reader prune encoded
            # blocks by token range WITHOUT decoding.  Empty rows are NULL,
            # not 0/0 — a 0/0 sentinel is indistinguishable from an
            # all-zeros document, so a [0, hi] range predicate would
            # wrongly match empty docs
            tmin = batched._seg_reduce(np.minimum, flat, offsets).astype(np.int64)
            tmax = batched._seg_reduce(np.maximum, flat, offsets).astype(np.int64)
            empty = nr == 0
            names = pa.DictionaryArray.from_arrays(
                pa.array(cids, pa.int32()), _CODEC_NAMES).cast(pa.string())
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("doc_id")),
                    batch.column(batch.schema.get_field_index("source")),
                    pa.array(nr.astype(np.int32), pa.int32()),
                    names,
                    binary_array(out, ooff),
                    pa.array(4 * nr, pa.int64()),
                    pa.array(ooff[1:] - ooff[:-1], pa.int64()),
                    pa.array(csum, pa.int64()),
                    pa.array(tmin, pa.int64(), mask=empty),
                    pa.array(tmax, pa.int64(), mask=empty),
                ],
                names=["doc_id", "source", "n_tok", "codec", "encoded",
                       "in_bytes", "out_bytes", "checksum",
                       "tok_min", "tok_max"],
            )

    return df.mapInArrow(run, kernel_schema(ENCODED_SCHEMA))


def size_table(df: DataFrame, codec: str = "auto", flat_transform=None,
               carry: tuple[str, ...] = ()) -> DataFrame:
    """Exact per-row encoded size WITHOUT materializing the encoded bytes —
    the table form of the reference's size-without-encode API
    (``streamvbyte_compressedbytes``, /root/reference/include/streamvbyte.h:
    41-52 and src/streamvbyte_encode.c:74,91-108): a pure cost computation
    over the token values.  ``cost(v) == len(encode(v))`` holds exactly for
    every codec (tests/test_batched.py parity + the ``auto_size`` least()
    oracle), so this returns the same ``size_bytes`` an encode pass would,
    at a fraction of the work — no output allocation, no scatters, no
    encoded column in the plan.  Per row it is ``batched.size_rows``:
    under an auto mode (``auto``, ``auto_full``, ``auto_sorted``) the size
    of the codec the selector picks.  codec and flat_transform as in
    encode_table.  ``carry`` names extra input columns passed through
    unchanged — lets a composite query compute sizes in the SAME corpus
    scan that carries its other per-doc columns instead of scanning twice
    and joining (curation_pipeline uses this)."""
    batched.check_codec(codec)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            flat, offsets = list_flat(
                batch.column(batch.schema.get_field_index("tokens")))
            flat = flat.astype(np.int32, copy=False).view(np.uint32)
            if flat_transform is not None:
                flat = flat_transform(flat)
            sizes = batched.size_rows(flat, offsets, codec)
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index("doc_id")),
                 pa.array(sizes, pa.int64())]
                + [batch.column(batch.schema.get_field_index(c))
                   for c in carry],
                names=["doc_id", "size_bytes", *carry])

    return df.mapInArrow(run, kernel_schema(
        "doc_id string, size_bytes bigint", [df.schema[c] for c in carry]))


# the codec column's ids, for index_in against a stored int32 codec column
_CODEC_IDS = pa.array(range(len(batched.CODEC_NAMES)), pa.int32())


def _raise_at(batch: pa.RecordBatch, key: str, bad, what: str):
    """ValueError naming the ``key`` value of the first row ``bad`` (a
    boolean Arrow or NumPy array) marks, or of row ``bad`` (an int)."""
    row = bad if isinstance(bad, int) else int(np.argmax(np.asarray(bad)))
    raise ValueError(f"{what} decoding {key}={batch.column(key)[row]}")


def decode_rows_at(batch: pa.RecordBatch, key: str, decode, *rows):
    """decode(*rows) for the stored rows of ``batch``; a stream whose
    length contradicts its count and its control bytes or header
    (codec.batched.StreamError) raises ValueError naming its ``key``
    value."""
    try:
        return decode(*rows)
    except batched.StreamError as e:
        _raise_at(batch, key, e.row, str(e))


def encoded_rows(batch: pa.RecordBatch, key: str, stream: str = "encoded",
                 count: str = "n_tok", codec: str | None = None):
    """(flat encoded bytes, offsets, counts, codec ids) of a batch's stored
    streams — the one reader of an encoded row.  Like the reference's
    ``streamvbyte_decode(in, out, count)``, a stream decodes only together
    with its out-of-band count (``count``) and codec: the batch's
    ``codec`` column, holding names (string, as encode_table stores them)
    or ids (int32, as the pack stages store them), or the fixed name
    ``codec`` for tables that carry no codec column (chunk tables, index
    wires).

    A NULL stream or count raises ValueError naming the row's ``key``
    value: binary_flat would read a NULL stream as an empty one, which
    decodes wrong (or fails deep in a kernel) for any count > 0.  So does
    a NULL or unknown codec name or id."""
    import pyarrow.compute as pc   # a top-level import slows worker start
    col, n = batch.column(stream), batch.column(count)
    for c, what in ((col, f"NULL {stream} stream"), (n, f"NULL {count}")):
        if c.null_count:
            _raise_at(batch, key, c.is_null(), what)
    enc, eoff = binary_flat(col)
    n = np.asarray(n, dtype=np.int64)
    if codec is not None:
        return enc, eoff, n, np.full(n.size, batched.CODEC_ID[codec],
                                     np.int32)
    col = batch.column("codec")
    names = pa.types.is_string(col.type)
    ids = pc.index_in(col, value_set=_CODEC_NAMES if names else _CODEC_IDS)
    if ids.null_count:
        _raise_at(batch, key, ids.is_null(),
                  f"NULL or unknown codec {'name' if names else 'id'}")
    return enc, eoff, n, ids.to_numpy().astype(np.int32, copy=False)


def check_checksums(batch: pa.RecordBatch, key: str, flat: np.ndarray,
                    offsets: np.ndarray):
    """Raise ValueError naming the ``key`` value of the first row whose
    decoded token sum differs from its stored ``checksum``."""
    want = np.asarray(batch.column("checksum"), dtype=np.int64)
    got = batched._seg_sum(flat, offsets)
    bad = want != got
    if bad.any():
        _raise_at(batch, key, bad, "checksum mismatch")


def _decode(enc_df: DataFrame, decode, verify_checksum: bool,
            fingerprint: bool) -> DataFrame:
    """The kernel of decode_table and decode_table_prefix:
    decode(enc, offsets, n_tok, codec ids) -> (flat, offsets) per slice
    of an input batch that decodes to at most session.ARROW_BATCH_BYTES
    of tokens (arrow_rows.decode_slices); the output n_tok is each row's
    decoded length."""
    limit = session.ARROW_BATCH_BYTES

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in decode_slices(batches, limit):
            flat, offsets = decode_rows_at(batch, "doc_id", decode,
                                           *encoded_rows(batch, "doc_id"))
            if verify_checksum:
                check_checksums(batch, "doc_id", flat, offsets)
            doc, src = batch.column("doc_id"), batch.column("source")
            nr = pa.array(np.diff(offsets).astype(np.int32), pa.int32())
            if fingerprint:
                fp = batched.fingerprint_rows(flat.view(np.int32), offsets)
                yield pa.RecordBatch.from_arrays(
                    [doc, nr, src, pa.array(fp, pa.int64())],
                    names=["doc_id", "n_tok", "source", "fingerprint"])
                continue
            yield pa.RecordBatch.from_arrays(
                [doc, list_array(flat.view(np.int32), offsets), nr, src],
                names=["doc_id", "tokens", "n_tok", "source"])

    return enc_df.mapInArrow(run, kernel_schema(
        DECODED_FP_SCHEMA if fingerprint else DECODED_SCHEMA))


def decode_table(enc_df: DataFrame, verify_checksum: bool = True,
                 fingerprint: bool = False) -> DataFrame:
    """Encoded table -> token table; bit-identical to the pre-encode input.

    fingerprint=True emits (doc_id, n_tok, source, fingerprint) instead of
    the token arrays — the round-trip queries' driver-gate shape.  The
    polynomial fold (codec.batched.fingerprint_rows) runs on the decoded
    flat vector INSIDE this kernel, so the 4 B/token column never crosses
    back to the JVM and no interpreted ``aggregate()`` pass remains.
    A NULL stream, a NULL or unknown codec name (encoded_rows), a stream
    whose length contradicts its n_tok and its control bytes or header
    (decode_rows_at) and, with verify_checksum, a checksum mismatch raise
    ValueError naming the doc_id."""
    return _decode(enc_df, batched.decode_rows, verify_checksum, fingerprint)


def decode_table_prefix(enc_df: DataFrame, max_len: int,
                        fingerprint: bool = False) -> DataFrame:
    """Decode only the first min(max_len, n_tok) tokens of each document —
    the truncate-to-max-seq-len operator of a training pipeline, pushed into
    the codec: svb-family rows decode O(prefix) work/output via the control
    bytes (codec.batched.decode_prefix_rows), never materializing the tail.
    Output n_tok is the TRUNCATED length.  fingerprint=True emits the
    in-kernel polynomial fold of the PREFIX instead of the token arrays
    (see decode_table).  The checksum covers the whole row, so a prefix
    cannot verify it; the NULL and stream-length rules of decode_table
    hold, the length checked only as far as the prefix reads."""
    return _decode(enc_df, partial(batched.decode_prefix_rows,
                                   max_len=max_len), False, fingerprint)


def verify_roundtrip(original: DataFrame, decoded: DataFrame) -> int:
    """Count rows whose decoded token array differs from the original
    (must be 0). Broadcast-free sort-merge join on doc_id."""
    o = original.select("doc_id", F.col("tokens").alias("tokens_orig"))
    d = decoded.select("doc_id", F.col("tokens").alias("tokens_dec"))
    joined = o.join(d, "doc_id", "full_outer")
    return joined.where(
        ~(F.col("tokens_orig") == F.col("tokens_dec")) |
        F.col("tokens_orig").isNull() | F.col("tokens_dec").isNull()
    ).count()
