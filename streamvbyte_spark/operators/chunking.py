"""Chunked encoding of long token sequences with delta `prev` chaining.

A 10^12-token document cannot be one encoded block; it is split into
fixed-size chunks, each an independent svb_delta stream resumable from an
out-of-band ``prev`` seed — exactly the reference's delta contract
(/root/reference/include/streamvbytedelta.h:17-29: decode takes (count,
prev)).  The chunk seam threading is THE window operator of this engine
(SURVEY.md §2.2): ``prev = lag(last_token_of_chunk) over (partition by doc_id
order by chunk_id)``.

Pipeline: chunk (slice + posexplode, no Python) -> window lag for prev ->
mapInArrow delta encode -> ... -> decode -> reassemble (groupBy + sorted
flatten).  At scale the window and the reassembly share the same
hash-partitioning on doc_id, so AQE plans a single shuffle for both.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import session
from ..arrow_rows import (binary_array, complete_runs, decode_slices,
                          kernel_schema, list_array, list_flat)
from ..codec import batched
from ..session import fanout_width
from .encode import decode_rows_at, encoded_rows

CHUNKED_ENC_SCHEMA = ("doc_id string, chunk_id int, tok_start long, "
                      "n_tok int, prev long, encoded binary, "
                      "out_bytes bigint")


def chunk_tokens(df: DataFrame, chunk_size: int = 4096) -> DataFrame:
    """tokens -> (doc_id, chunk_id, chunk, prev). Empty docs yield no chunks.

    Shape: posexplode(sequence(0, n_chunks-1)) + a plain-projection slice()
    — every expression is whole-stage-codegen'd.  The previous form built
    per-chunk structs inside a transform() lambda, a CodegenFallback node
    interpreted per chunk."""
    n_chunks = f"cast(ceil(n_tok / {chunk_size}.0) as int)"
    exploded = (df.where(F.col("n_tok") > 0)
                .select("doc_id", "tokens",
                        F.posexplode(F.expr(f"sequence(0, {n_chunks} - 1)"))
                        .alias("chunk_id", "_i"))
                .select("doc_id", "chunk_id",
                        # tok_start: the chunk's first token's position in
                        # the document — a PLAIN COLUMN, so a
                        # truncate-to-max-seq-len consumer can prune whole
                        # chunks with a pushable predicate before any
                        # shuffle or decode
                        (F.col("chunk_id").cast("long")
                         * F.lit(chunk_size)).alias("tok_start"),
                        F.expr(f"slice(tokens, chunk_id * {chunk_size} + 1, "
                               f"{chunk_size})").alias("chunk")))
    w = Window.partitionBy("doc_id").orderBy("chunk_id")
    return exploded.withColumn(
        "prev",
        F.lag(F.element_at("chunk", -1), 1, 0).over(w).cast("long"))


_CHUNK_CODECS = ("svb_delta", "ef")


def encode_chunked_delta(chunked: DataFrame,
                         codec: str = "svb_delta") -> DataFrame:
    """Each chunk -> an independent stream: svb_delta seeded at its prev
    (default), or codec='ef' — Elias-Fano over the chunk's ABSOLUTE values
    (quasi-succinct monotone lists; a sorted posting list's chunks are
    themselves non-decreasing, and EF needs no prev seed, so chunks stay
    independently decodable; loud on unsorted chunks).  The prev column is
    still produced (schema-stable) but EF decode never reads it."""
    if codec not in _CHUNK_CODECS:
        raise ValueError(f"chunk codec must be one of {_CHUNK_CODECS}, "
                         f"got {codec!r}")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            flat, offsets = list_flat(batch.column(batch.schema.get_field_index("chunk")))
            flat = flat.astype(np.int32, copy=False).view(np.uint32)
            prev = np.asarray(batch.column(batch.schema.get_field_index("prev")), dtype=np.int64)
            if codec == "ef":
                enc, eoff = batched.ef_encode_rows(flat, offsets)
            else:
                enc, eoff = batched.encode_delta_rows_prev(flat, offsets, prev)
            nr = offsets[1:] - offsets[:-1]
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index("doc_id")),
                 batch.column(batch.schema.get_field_index("chunk_id")),
                 batch.column(batch.schema.get_field_index("tok_start")),
                 pa.array(nr.astype(np.int32), pa.int32()),
                 pa.array(prev, pa.int64()),
                 binary_array(enc, eoff),
                 pa.array(eoff[1:] - eoff[:-1], pa.int64())],
                names=["doc_id", "chunk_id", "tok_start", "n_tok", "prev",
                       "encoded", "out_bytes"])

    return chunked.mapInArrow(run, kernel_schema(CHUNKED_ENC_SCHEMA))


def _decode_chunks(batch: pa.RecordBatch, codec: str,
                   max_len: int | None = None):
    """(flat, offsets) of a batch of encoded chunk rows — the chunk
    decoders' one codec switch.  svb_delta chunks decode from their stored
    prev, ef chunks from their absolute values (prev ignored).  With
    max_len each chunk keeps its first min(n_tok, max_len - tok_start)
    tokens: svb_delta decodes only that prefix, ef (no O(prefix) partial
    decode — its chunk is bounded by chunk_size) decodes whole and
    truncates.  A NULL stream (encode.encoded_rows), and a stream whose
    length contradicts its count (encode.decode_rows_at), raise
    ValueError naming the doc_id."""
    enc, eoff, n_toks, _ = encoded_rows(batch, "doc_id", codec=codec)
    kk = None if max_len is None else np.minimum(
        n_toks, max_len - np.asarray(batch.column("tok_start")))
    if codec == "ef":
        rows = decode_rows_at(batch, "doc_id", batched.ef_decode_rows, enc,
                              eoff, n_toks)
        return rows if kk is None else batched.subset_prefix(*rows, kk)
    prev = np.asarray(batch.column("prev"), dtype=np.int64)
    return decode_rows_at(batch, "doc_id", batched.decode_delta_rows_prev,
                          enc, eoff, n_toks, prev, kk)


def decode_chunked_delta(enc_df: DataFrame,
                         codec: str = "svb_delta") -> DataFrame:
    """Decode chunks (each resumable from its stored prev — or, for
    codec='ef', self-contained absolute values — no cross-chunk dependency
    at decode time: chunks of one doc decode in parallel).  A NULL
    ``encoded`` row raises ValueError naming its doc_id.  A batch decodes
    in slices of at most session.ARROW_BATCH_BYTES of tokens
    (arrow_rows.decode_slices)."""
    if codec not in _CHUNK_CODECS:
        raise ValueError(f"chunk codec must be one of {_CHUNK_CODECS}, "
                         f"got {codec!r}")
    limit = session.ARROW_BATCH_BYTES

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in decode_slices(batches, limit):
            flat, offsets = _decode_chunks(batch, codec)
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index("doc_id")),
                 batch.column(batch.schema.get_field_index("chunk_id")),
                 list_array(flat.view(np.int32), offsets)],
                names=["doc_id", "chunk_id", "chunk"])

    return enc_df.mapInArrow(run, kernel_schema(
        "doc_id string, chunk_id int, chunk array<int>"))


def reassemble(decoded_chunks: DataFrame) -> DataFrame:
    """Chunks -> whole token arrays (order restored by chunk_id).

    Materializes each document as ONE array row — a round-trip identity
    check, not the scale consumer path: a 10^9-token doc would become a 4 GB
    cell.  At scale the consumer-facing decode is ``decode_chunked_delta``
    (order-preserved (doc_id, chunk_id, chunk) rows, chunks decode in
    parallel, no whole-document cell ever exists).  The fused variant below
    fixes the SHUFFLE volume but still emits one row per document, so it
    shares this giant-cell limit."""
    return (decoded_chunks.groupBy("doc_id")
            .agg(F.flatten(F.array_sort(F.collect_list(
                F.struct("chunk_id", "chunk"))).getField("chunk")).alias("tokens"))
            .select("doc_id", "tokens", F.size("tokens").alias("n_tok")))


# Arrow list columns carry int32 offsets: one RecordBatch's flat token
# payload must stay below 2^31-1 ELEMENTS.  The fused decoder splits its
# flush at document boundaries to respect this, so a multi-billion-token
# Arrow batch does not raise; only a SINGLE document beyond the limit is
# impossible to emit as one array<int> cell.
_ARROW_MAX_FLAT = np.iinfo(np.int32).max


def _flush_doc_batches(doc_ids: np.ndarray, flat: np.ndarray,
                       doc_tok_off: np.ndarray,
                       limit: int = _ARROW_MAX_FLAT):
    """Yield (doc_id, tokens, n_tok) RecordBatches covering docs
    [0, D) with each batch's flat payload <= limit elements.

    doc_ids: one id per document; doc_tok_off: int64[D+1] token offsets into
    flat.  Splits only at document boundaries — a single document larger
    than the limit cannot exist as one array cell (Arrow int32 offsets) and
    raises with the consumer-path alternative named."""
    D = doc_ids.size
    start = 0
    while start < D:
        base = int(doc_tok_off[start])
        # furthest doc whose END stays within base + limit
        end = int(np.searchsorted(doc_tok_off, base + limit, side="right")) - 1
        if end <= start:
            raise ValueError(
                f"document {doc_ids[start]!r} holds "
                f"{int(doc_tok_off[start + 1]) - base} tokens — more than "
                f"the 2^31-1 Arrow int32 offset limit for one array<int> "
                "cell; consume such documents via decode_chunked_delta "
                "(per-chunk rows) instead of the fused reassembly")
        end = min(end, D)
        sub_off = doc_tok_off[start:end + 1] - base
        yield pa.RecordBatch.from_arrays(
            [pa.array(doc_ids[start:end], pa.string()),
             list_array(flat[base:int(doc_tok_off[end])].view(np.int32),
                        sub_off),
             pa.array((sub_off[1:] - sub_off[:-1]).astype(np.int32),
                      pa.int32())],
            names=["doc_id", "tokens", "n_tok"])
        start = end


def decode_reassemble_fused(enc_df: DataFrame,
                            max_len: int | None = None,
                            fingerprint: bool = False,
                            codec: str = "svb_delta") -> DataFrame:
    """Decode + reassemble AFTER one hash shuffle, whole-batch (mapInArrow).

    The separate decode->reassemble pipeline must re-shuffle DECODED tokens
    (4 B/token) for the groupBy, because mapInArrow drops the partitioning
    guarantee.  Fusing moves the decode to AFTER the shuffle, so the wire
    carries the ENCODED bytes (~1.5 B/token at the auto codec's measured
    ratio) — ~2.6x less shuffle traffic, the difference that matters at
    10^12 tokens.  The flush splits at document boundaries whenever a
    RecordBatch's flat payload would exceed Arrow's int32 offsets
    (_flush_doc_batches), so any number of large documents decode fine;
    only a SINGLE document beyond 2^31-1 tokens is unrepresentable as one
    array<int> cell and must take ``decode_chunked_delta`` instead (the
    error says so).

    Execution: ``repartition(W, doc_id) + sortWithinPartitions(doc_id,
    chunk_id)``, W = session.fanout_width, makes each document a
    CONTIGUOUS ordered run inside its partition; one mapInArrow stage then
    runs the segmented whole-batch delta decode
    (codec.batched.decode_delta_rows_prev) over every complete run in an
    Arrow batch — no per-group Python, no per-row pandas.  A run
    can straddle Arrow batch boundaries, so the stage reads its batches
    through ``arrow_rows.complete_runs``, which carries the open tail run
    into the next batch and flushes it at iterator end.  Each chunk decodes
    from its stored prev (reference delta contract,
    /root/reference/include/streamvbytedelta.h:17-29) and lands in chunk_id
    order by construction.

    max_len (optional) is truncate-to-max-seq-len for the CHUNKED layout —
    the shape a 10^9-token document actually takes: chunks entirely past the
    limit are dropped by a plain `tok_start < max_len` filter BEFORE the
    shuffle (a pushable predicate when the chunked table is read from
    storage), so neither the wire nor the decoder ever sees the tail; the
    one straddling chunk prefix-decodes its first (max_len - tok_start)
    tokens via the delta prefix path.

    fingerprint=True emits (doc_id, n_tok, fingerprint) — the per-document
    polynomial fold computed in-kernel over the reassembled flat vector
    (codec.batched.fingerprint_rows), never materializing token-array cells
    (and so also free of the single-doc 2^31 Arrow-cell ceiling).

    codec='ef' consumes encode_chunked_delta(codec='ef') chunks (absolute
    Elias-Fano values, prev ignored); under max_len the straddling chunk
    decodes whole and prefix-slices (batched.subset_prefix).

    A NULL ``encoded`` row raises ValueError naming its doc_id."""
    if codec not in _CHUNK_CODECS:
        raise ValueError(f"chunk codec must be one of {_CHUNK_CODECS}, "
                         f"got {codec!r}")
    cols = ["doc_id", "chunk_id", "n_tok", "prev", "encoded"]
    pruned = enc_df
    if max_len is not None:
        if max_len < 1:
            raise ValueError(f"max_len must be >= 1, got {max_len}")
        pruned = enc_df.where(F.col("tok_start") < max_len)
        cols.append("tok_start")
    # numbered with the session's width: AQE's byte-based coalescing
    # collapses a count-less repartition of byte-small-but-CPU-heavy chunk
    # data to a handful of tasks
    part = (pruned.select(*cols)
            .repartition(fanout_width(enc_df.sparkSession), "doc_id")
            .sortWithinPartitions("doc_id", "chunk_id"))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in complete_runs(batches, ("doc_id",)):
            ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            flat, offs = _decode_chunks(batch, codec, max_len)
            starts = np.concatenate(
                ([0], np.flatnonzero(ids[1:] != ids[:-1]) + 1))
            doc_tok_off = offs[np.concatenate((starts, [ids.size]))]
            if fingerprint:
                fp = batched.fingerprint_rows(flat.view(np.int32), doc_tok_off)
                nr = (doc_tok_off[1:] - doc_tok_off[:-1]).astype(np.int32)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids[starts], pa.string()),
                     pa.array(nr, pa.int32()), pa.array(fp, pa.int64())],
                    names=["doc_id", "n_tok", "fingerprint"])
                continue
            yield from _flush_doc_batches(ids[starts], flat, doc_tok_off)

    return part.mapInArrow(run, kernel_schema(
        "doc_id string, n_tok int, fingerprint bigint" if fingerprint
        else "doc_id string, tokens array<int>, n_tok int"))
