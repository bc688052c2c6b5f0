"""The fused decoder's Arrow batch handling.  Its flush must split
RecordBatches at document boundaries so no batch's flat token payload
exceeds Arrow's int32 offsets — and must fail loudly (naming the
consumer-path alternative) only when one DOCUMENT exceeds the limit.  Its
carry across input batch seams (arrow_rows.complete_runs) must never split
a run."""

from __future__ import annotations

import numpy as np
import pytest

from streamvbyte_spark.operators.chunking import _flush_doc_batches


def _mk(doc_lens):
    ids = np.array([f"d{i}" for i in range(len(doc_lens))], dtype=object)
    off = np.concatenate([[0], np.cumsum(doc_lens)]).astype(np.int64)
    flat = np.arange(off[-1], dtype=np.uint32)
    return ids, flat, off


def test_flush_splits_at_doc_boundaries():
    ids, flat, off = _mk([5, 7, 3, 10, 1])
    batches = list(_flush_doc_batches(ids, flat, off, limit=12))
    # every batch under the limit; together they cover all docs in order
    got_ids, got_toks = [], []
    for b in batches:
        tok = b.column(1)
        assert len(tok.values) <= 12
        got_ids += b.column(0).to_pylist()
        got_toks += [np.asarray(t) for t in tok.to_pylist()]
        np.testing.assert_array_equal(np.asarray(b.column(2)),
                                      [len(t) for t in tok.to_pylist()])
    assert got_ids == [f"d{i}" for i in range(5)]
    for i, t in enumerate(got_toks):
        np.testing.assert_array_equal(t, np.arange(off[i], off[i + 1]))
    assert len(batches) >= 3  # the limit genuinely forced splits


def test_flush_single_batch_when_under_limit():
    ids, flat, off = _mk([4, 4])
    batches = list(_flush_doc_batches(ids, flat, off))
    assert len(batches) == 1 and batches[0].num_rows == 2


def test_flush_oversized_document_raises_with_alternative():
    ids, flat, off = _mk([3, 20, 2])
    with pytest.raises(ValueError, match="decode_chunked_delta"):
        list(_flush_doc_batches(ids, flat, off, limit=10))
    # docs BEFORE the oversized one still flush
    it = _flush_doc_batches(ids, flat, off, limit=10)
    first = next(it)
    assert first.column(0).to_pylist() == ["d0"]
    with pytest.raises(ValueError):
        next(it)


def test_flush_empty_docs_between_large_ones():
    ids, flat, off = _mk([6, 0, 0, 6])
    batches = list(_flush_doc_batches(ids, flat, off, limit=6))
    got_ids = [i for b in batches for i in b.column(0).to_pylist()]
    assert got_ids == ["d0", "d1", "d2", "d3"]
    lens = [n for b in batches for n in np.asarray(b.column(2)).tolist()]
    assert lens == [6, 0, 0, 6]


def test_complete_runs_never_split_a_run():
    """arrow_rows.complete_runs (the fused decoder's and the pack
    assembler's carry across Arrow batch seams): the yielded batches hold
    the input rows in order, binary payloads intact, and no run of equal
    keys is split between two of them, and each run is yielded once it
    closes — with NULL-key and (a, 2) runs spanning several batches, an
    empty batch, seams that close a run exactly and runs that differ only
    in the second key."""
    import pyarrow as pa
    from streamvbyte_spark.arrow_rows import complete_runs

    # Spark's ascending sort puts NULL keys first
    src = [None, None, None, "a", "a", "a", "a", "a", "b", "b", "b"]
    pid = [0, 0, 0, 1, 1, 2, 2, 2, 2, 3, 3]
    enc = [bytes([i]) * i for i in range(len(src))]
    whole = pa.record_batch([pa.array(src), pa.array(pid),
                             pa.array(enc, pa.binary())],
                            names=["source", "pack_id", "encoded"])
    cuts = [0, 2, 4, 7, 7, 8, 9, 11]   # batch i = rows cuts[i]:cuts[i+1]
    batches = [whole.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]
    out = list(complete_runs(iter(batches), ("source", "pack_id")))
    rows = [r for b in out for r in zip(b.column(0).to_pylist(),
                                        b.column(1).to_pylist(),
                                        b.column(2).to_pylist())]
    assert rows == list(zip(src, pid, enc))
    keys = [{(s, p) for s, p in zip(b.column(0).to_pylist(),
                                    b.column(1).to_pylist())} for b in out]
    for i, k in enumerate(keys):
        assert all(not (k & other) for other in keys[i + 1:]), keys
    # a run is yielded as soon as it closes, never held for a later batch
    assert [b.num_rows for b in out] == [3, 2, 3, 1, 2]
