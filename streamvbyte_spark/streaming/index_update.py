"""Custom stateful streaming operator: incremental inverted-index maintenance.

The batch build (operators/index.build_index_chunked) groups the corpus by
``(term, did div span)`` and Elias-Fano-encodes each bounded chunk.  A LIVE
ingestion pipeline needs the same index as documents ARRIVE:
``applyInPandasWithState`` keyed by ``(term, chunk_id)`` keeps each chunk's
CURRENT ENCODED BYTES as the state value — every micro-batch decodes the
touched chunks, set-merges the new doc ids, re-encodes, and emits the
updated chunk row.  The state store IS the index; a consumer upserting the
emitted rows by ``(term, chunk_id)`` maintains the exact table the batch
build would produce over the union of all arrived documents.

Correctness properties (all pinned by the replay test):

* **No ordering contract.**  Chunk content is a SET of doc ids; merge is a
  set union, so any arrival order across micro-batches converges to the
  same chunk bytes — unlike pack_assign's prefix-sum state, which needs
  non-decreasing delivery.
* **Redelivery-safe.**  An at-least-once source replaying documents merges
  already-present ids: a no-op.  Updates are emitted only when a chunk
  actually GREW, so n_tok strictly increases along one chunk's emission
  history (the latest generation of a chunk is its max-n_tok row).
* **Bounded state.**  A chunk holds <= span ids (did div span partitions
  doc-id space), so decode+union+encode per touched chunk is O(span)
  whatever the corpus size; a hot stopword term spreads across
  n_docs/span state keys exactly like the batch build's reducers.  The
  state store shards by key hash across executors — the streaming twin of
  the batch build's skew story.

Wire parity: state and upserts are read and written only through
operators/index's wire table (INDEX_WIRES via encode_wire / decode_wire),
the one definition the batch builds and serving kernels share, and the
replay tests assert the drained stream's chunks byte-equal the batch
build's.  All three index wires stream: set (EF dids), TF (EF dids + svb
tfs), and positional (+ svb doc-major positions — the phrase-serving
wire), each draining byte-equal to its batch build and folding into a
stored table via operators/index.merge_index_updates.  Each merge below
holds only its wire's merge arithmetic.

Reference hook: sorted-postings delta/EF is the codec family's canonical
application (/root/reference/README.md:54-59,253); this operator is the
engine's own streaming extension (the reference is a batch codec library).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.index import (INDEX_CHUNK_SPAN, INDEX_WIRES, decode_wire,
                               encode_wire, term_doc_pairs,
                               term_doc_pos_pairs, wire_columns,
                               wire_schema)


def _stateful_merge(kind: str, merge):
    """The applyInPandasWithState function of the ``kind`` wire; the state
    is the chunk's wire_columns values.  merge(pdf, old) is the wire's
    merge arithmetic: pdf = the micro-batch's rows of the chunk, old = the
    stored chunk's decoded streams in wire order (None for a new chunk);
    it returns the merged streams' values in wire order, or None when
    nothing grew.  Empty input or a pure redelivery keeps the state and
    emits nothing; otherwise the re-encoded chunk becomes the state and
    the one emitted upsert row."""
    out_cols = ["term", "chunk_id", *wire_columns(kind)]
    names = [s[0] for s in INDEX_WIRES[kind][1]]

    def run(key: Tuple[str, int], pdf_iter: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
        pdfs = [pdf for pdf in pdf_iter if len(pdf)]
        merged = None
        if pdfs:
            old = ([flat for flat, _ in
                    decode_wire(kind, (key[1], *state.get))]
                   if state.exists else None)
            merged = merge(pd.concat(pdfs), old)
        if merged is None:
            if state.exists:
                state.update(state.get)
            yield pd.DataFrame(columns=out_cols)
            return
        cols, _ = encode_wire(kind, {
            c: (v, np.array([0, v.size], dtype=np.int64))
            for c, v in zip(names, merged)})
        state.update(tuple(c[0].as_py() for c in cols))
        yield pa.RecordBatch.from_arrays(
            [pa.array([key[0]], pa.string()),
             pa.array([key[1]], pa.int32()), *cols],
            names=out_cols).to_pandas()

    return run


def _merge_set(pdf, old):
    """Set union of the chunk's doc ids."""
    merged = np.unique(pdf["did"].to_numpy(np.int64))
    if old is not None:
        merged = np.union1d(old[0].astype(np.int64), merged)
        if merged.size == old[0].size:
            return None
    return (merged,)


def _occurrences(pdf):
    """The micro-batch's distinct (did << 32 | pos) keys, doc-major: a
    document redelivered within this same micro-batch contributes
    exact-duplicate (did, pos) pairs (immutable docs -> identical
    positions), so the pair dedup recovers the true occurrences where a
    raw count would double them."""
    return np.unique((pdf["did"].to_numpy(np.int64) << np.int64(32))
                     | pdf["pos"].to_numpy(np.int64))


def _merge_tf(pdf, old):
    dids, tfs = np.unique(_occurrences(pdf) >> np.int64(32),
                          return_counts=True)
    if old is None:
        return dids, tfs
    old_dids, old_tfs = old[0].astype(np.int64), old[1]
    # a doc's tf for a term is COMPLETE within the micro-batch that
    # delivered the doc (explode keeps a row's words together), so a did
    # already present is a redelivery: keep the stored count — adding
    # would double it.  Only FRESH dids insert.
    fresh = ~np.isin(dids, old_dids)
    if not fresh.any():
        return None
    md = np.union1d(old_dids, dids[fresh])
    tf = np.zeros(md.size, dtype=np.uint32)
    tf[np.searchsorted(md, old_dids)] = old_tfs
    tf[np.searchsorted(md, dids[fresh])] = tfs[fresh]
    return md, tf


def _merge_pos(pdf, old):
    """Positional twin of _merge_tf: a did already in the chunk is a
    redelivery (its stored positions stay) and only FRESH dids insert,
    doc-major via one packed (did << 32 | pos) sort."""
    occ = _occurrences(pdf)
    if old is not None:
        old_dids, old_tfs, old_pos = (v.astype(np.int64) for v in old)
        nd = np.unique(occ >> np.int64(32))
        fresh = ~np.isin(nd, old_dids)
        if not fresh.any():
            return None
        old_occ = (np.repeat(old_dids, old_tfs) << np.int64(32)) | old_pos
        keep = np.isin(occ >> np.int64(32), nd[fresh])
        # disjoint did sets: concatenate + sort restores doc-major order
        occ = np.sort(np.concatenate([old_occ, occ[keep]]))
    dids, tfs = np.unique(occ >> np.int64(32), return_counts=True)
    return dids, tfs, occ & np.int64(0xFFFFFFFF)


def _update_stream(pairs: DataFrame, span: int, kind: str,
                   merge) -> DataFrame:
    """(term, did[, pos]) pairs -> the ``kind`` wire's upsert rows, keyed
    by (term, did div span) like the batch build's chunks."""
    return (pairs.withColumn("chunk_id",
                             F.expr(f"did div {span}").cast("int"))
            .groupBy("term", "chunk_id")
            .applyInPandasWithState(
                _stateful_merge(kind, merge),
                f"term string, chunk_id int, {wire_schema(kind)}",
                wire_schema(kind), "update", GroupStateTimeout.NoTimeout))


def index_update_stream(docs: DataFrame,
                        span: int = INDEX_CHUNK_SPAN) -> DataFrame:
    """documents stream (doc_id, text, ...) -> upsert rows (term, chunk_id,
    n_tok, encoded) for every chunk a micro-batch grew; state = one encoded
    EF chunk per (term, chunk_id).  The pairs are the batch build's
    explode (operators/index.term_doc_pairs: tokenizer parity, the same
    loud non-negative-int32 id guard), duplicates kept — the set merge
    uniques them.  The set stream stays position-free: its merge is a set
    union, so there is no reason to widen its stateful shuffle by
    4 B/occurrence."""
    return _update_stream(term_doc_pairs(docs), span, "set", _merge_set)


def index_update_stream_tf(docs: DataFrame,
                           span: int = INDEX_CHUNK_SPAN) -> DataFrame:
    """TF twin: state and upserts carry BOTH streams of the TF index (EF
    dids + svb tfs, operators/index.build_index_tf_chunked parity).
    Contract beyond the set form: doc ids are unique and documents
    immutable — tf addition is not idempotent, so redeliveries are
    neutralized at BOTH granularities: across micro-batches a did already
    in the chunk keeps its stored count, and within one micro-batch the
    (did, pos) pair dedup collapses a twice-delivered document to its true
    counts before they are ever added.  The pairs are the batch family's
    positional explode (operators/index.term_doc_pos_pairs — shared
    tokenizer, id guard, and raw-split positions); the position is what
    makes the merge idempotent WITHIN a micro-batch."""
    return _update_stream(term_doc_pos_pairs(docs), span, "tf", _merge_tf)


def index_update_stream_pos(docs: DataFrame,
                            span: int = INDEX_CHUNK_SPAN) -> DataFrame:
    """Positional twin: maintains the full phrase-serving wire (EF dids +
    svb tfs + svb doc-major positions) incrementally — the streaming
    source of the generations merge_index_updates folds into a stored
    positional table.  Same redelivery/immutability contract as the TF
    form; drained generations byte-equal the batch
    build_index_pos_chunked over the union corpus (replay-tested)."""
    return _update_stream(term_doc_pos_pairs(docs), span, "pos", _merge_pos)
