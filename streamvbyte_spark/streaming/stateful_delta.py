"""Custom stateful streaming operator: continuous delta-chain encoding.

A live ingestion stream delivers token chunks per document across many
micro-batches.  svb_delta needs each chunk's ``prev`` seed = last token of the
previous chunk (/root/reference/include/streamvbytedelta.h:17-29) — state that
must survive between micro-batches.  ``applyInPandasWithState`` keeps
``(last_chunk_id, prev)`` per doc_id in the streaming state store, so chunk
k of a document can arrive an hour after chunk k-1 and still encode into the
same resumable delta chain.

Ordering contract: chunk ids per document must arrive contiguously
(duplicates allowed).  The operator RAISES on a gap or reordering — because
contiguity is enforced, any chunk_id <= last_chunk_id is provably a
redelivery of an already-encoded chunk, so skipping it is exact-once dedupe
rather than silent data loss.

This is the engine's custom stateful operator (template category
"streaming: state"): the reference has no streaming at all, so the semantics
are additive — but the byte format produced is exactly the batch chunked
encoder's (operators.chunking), verified by test round-trip.  Encoding is
whole-group vectorized (codec.batched.encode_delta_rows_prev); no per-row
Python in the group body.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..arrow_rows import binary_array, list_flat

OUT_SCHEMA = ("doc_id string, chunk_id int, n_tok int, prev long, "
              "encoded binary, out_bytes bigint")
STATE_SCHEMA = "last_chunk_id int, prev long"
_OUT_COLS = ["doc_id", "chunk_id", "n_tok", "prev", "encoded", "out_bytes"]


def _encode_doc_chunks(key: Tuple[str], pdf_iter: Iterator[pd.DataFrame],
                       state: GroupState) -> Iterator[pd.DataFrame]:
    from ..codec import batched

    doc_id = key[0]
    last_chunk_id, prev = state.get if state.exists else (-1, 0)
    frames = [pdf for pdf in pdf_iter if len(pdf)]
    if not frames:
        state.update((last_chunk_id, prev))
        yield pd.DataFrame(columns=_OUT_COLS)
        return

    pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
    order = np.argsort(pdf["chunk_id"].to_numpy(np.int64), kind="stable")
    pdf = pdf.iloc[order]
    cids = pdf["chunk_id"].to_numpy(np.int64)
    # first-occurrence-wins WITHIN the micro-batch too (at-least-once
    # sources can redeliver a chunk in the same batch); sorted order makes
    # the keep-first mask a single adjacent-difference pass
    first = np.concatenate(([True], cids[1:] != cids[:-1]))
    fresh = first & (cids > last_chunk_id)
    new_cids = cids[fresh]
    # contiguity guard (see module docstring): a gap or an unseen late chunk
    # must fail loudly, not silently mis-chain or drop data
    expect_from = last_chunk_id + 1
    if not np.array_equal(new_cids,
                          np.arange(expect_from, expect_from + new_cids.size)):
        raise ValueError(
            f"doc {doc_id}: non-contiguous chunk ids {new_cids.tolist()} "
            f"(expected consecutive from {expect_from}); redelivered "
            f"duplicates are tolerated, gaps/reordering are not")
    if not new_cids.size:
        state.update((last_chunk_id, prev))
        yield pd.DataFrame(columns=_OUT_COLS)
        return

    pdf = pdf.iloc[np.flatnonzero(fresh)]
    flat, offsets = list_flat(pa.array(pdf["chunk"], pa.list_(pa.int64())))
    flat = flat.astype(np.uint32)
    lens = np.diff(offsets)

    # per-chunk prev chain: last token of the latest preceding NONEMPTY chunk
    # (empty chunks pass prev through), seeded from streaming state
    last_of = np.zeros(lens.size, dtype=np.int64)
    nz = lens > 0
    last_of[nz] = flat[offsets[1:][nz] - 1].astype(np.int64)
    latest_nz = np.maximum.accumulate(
        np.where(nz, np.arange(lens.size), -1))
    prev_row = np.full(lens.size, prev, dtype=np.int64)
    if lens.size > 1:
        prior = latest_nz[:-1]
        prev_row[1:] = np.where(prior >= 0, last_of[np.maximum(prior, 0)], prev)

    enc, eoff = batched.encode_delta_rows_prev(flat, offsets, prev_row)
    new_prev = int(last_of[latest_nz[-1]]) if latest_nz[-1] >= 0 else int(prev)
    state.update((int(new_cids[-1]), new_prev))
    yield pd.DataFrame({
        "doc_id": doc_id,
        "chunk_id": new_cids.astype(np.int32),
        "n_tok": lens.astype(np.int32),
        "prev": prev_row,
        "encoded": binary_array(enc, eoff).to_pandas(),
        "out_bytes": eoff[1:] - eoff[:-1],
    })


def stateful_delta_encode(chunk_stream: DataFrame) -> DataFrame:
    """Streaming (doc_id, chunk_id, chunk) -> encoded delta chunks with
    cross-micro-batch prev chaining."""
    return (chunk_stream.groupBy("doc_id")
            .applyInPandasWithState(_encode_doc_chunks, OUT_SCHEMA, STATE_SCHEMA,
                                    "update", GroupStateTimeout.NoTimeout))
