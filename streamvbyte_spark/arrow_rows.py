"""The Arrow crossing: the only code that turns Arrow columns into NumPy
flats and back.

The reference codec works on one flat ``uint32_t`` array whose length is
kept out of band (SURVEY §1.1).  Every mapInArrow kernel, pandas UDF and
streaming function here reads a batch's list or binary column as such a
flat plus int64 row offsets rebased to 0 (``list_flat``, ``binary_flat``),
runs its NumPy kernel, and writes the flat results back as Arrow columns
(``list_array``, ``binary_array``).  Readers are zero-copy and slice-safe;
writers wrap the NumPy buffers.  ``complete_runs`` regroups a key-sorted
batch stream so that no run of equal keys is split across batches;
``decode_slices`` cuts a batch of stored rows so that what a decoder
writes back stays within the session's batch rule.  ``kernel_schema`` is
the one owner of the kernels' output schemas: their token arrays never
hold a NULL element, and they say so to Spark.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa


def list_flat(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy (flat values, int64 offsets) of an Arrow list column,
    slice-safe; the values keep the column's own value type (list<int> ->
    int32: view as uint32 for the codec kernels).

    A NULL row or a NULL element raises ValueError: neither has a flat
    form (the reference API has no NULL notion), and converting one would
    silently yield a wrong value (a NULL int element becomes 2147483648 in
    a uint32 flat).  Callers filter or coalesce first."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    values = col.flatten()  # a zero-copy slice of the child when no NULL row
    if col.null_count or values.null_count:
        raise ValueError("NULL array or NULL element in a list column; "
                         "filter or coalesce first")
    off = np.asarray(col.offsets, dtype=np.int64)
    return values.to_numpy(), off - off[0]


def binary_flat(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy (flat uint8 bytes, int64 offsets) of an Arrow binary
    column, slice-safe: the slice's offset window is rebased so
    offsets[0] == 0."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    bufs = col.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32)[
        col.offset:col.offset + len(col) + 1].astype(np.int64)
    data = np.frombuffer(bufs[2] or b"", dtype=np.uint8)
    base = off[0]
    return data[base:off[-1]], off - base


def _offsets32(offsets: np.ndarray) -> np.ndarray:
    """int64 -> int32 Arrow offsets with an overflow guard: an Arrow batch
    whose flat payload exceeds 2^31-1 bytes/elements would otherwise WRAP
    silently and corrupt the column (the session's byte bound caps what
    Spark sends, but a row longer than the bound still crosses whole, and
    a kernel's output batch — decoded tokens, assembled packs — can
    outgrow its input)."""
    offsets = np.asarray(offsets)
    if offsets.size and int(offsets[-1]) > np.iinfo(np.int32).max:
        raise ValueError(
            f"Arrow batch payload {int(offsets[-1])} exceeds int32 offsets "
            "(2^31-1); lower spark.sql.execution.arrow.maxBytesPerBatch "
            "(get_spark sets session.ARROW_BATCH_BYTES)")
    return np.ascontiguousarray(offsets, dtype=np.int32)


def list_array(values: np.ndarray, offsets: np.ndarray) -> pa.ListArray:
    """Arrow list column from flat values + int64 row offsets.  The value
    type follows values' NumPy dtype (int32 -> array<int>, so view uint32
    tokens as int32 first); the values buffer is wrapped, not copied."""
    return pa.ListArray.from_arrays(pa.array(_offsets32(offsets), pa.int32()),
                                    pa.array(values))


def binary_array(data: np.ndarray, offsets: np.ndarray) -> pa.Array:
    """Arrow binary column from flat bytes + int64 row offsets
    (py_buffer wraps the NumPy buffers directly — no serialization copy)."""
    off32 = _offsets32(offsets)
    return pa.Array.from_buffers(
        pa.binary(), len(off32) - 1,
        [None, pa.py_buffer(off32), pa.py_buffer(np.ascontiguousarray(data))])


def kernel_schema(ddl: str, carry=()):
    """The StructType of a kernel's output DDL with every array declared
    free of NULL elements (``containsNull=False``), then the ``carry``
    fields (StructFields of input columns the kernel passes through
    unchanged, declared as their input declares them).  Every package
    ``mapInArrow`` declares its output through here.  The kernels write
    arrays only through ``list_array``, which has no NULL path, so the
    declaration is true; without it Spark checks each returned element for
    NULL before copying it.  A kernel that did emit a NULL element under it
    fails its task: Arrow Java's ``IntVector.get`` refuses to read a NULL
    slot.  Input schemas of file and stream reads stay nullable.  The
    result is shared by every caller of the same DDL: never mutate it."""
    own = _kernel_struct(ddl)
    if not carry:
        return own
    from pyspark.sql.types import StructType
    return StructType(own.fields + list(carry))


@lru_cache(maxsize=None)
def _kernel_struct(ddl: str):
    """kernel_schema's parse, once per DDL string: a parse is a JVM round
    trip."""
    from pyspark.sql.types import _parse_datatype_string
    return _elements_non_null(_parse_datatype_string(ddl))


def _elements_non_null(t):
    from pyspark.sql.types import ArrayType, StructField, StructType
    if isinstance(t, ArrayType):
        return ArrayType(_elements_non_null(t.elementType), False)
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _elements_non_null(f.dataType),
                                       f.nullable, f.metadata)
                           for f in t.fields])
    return t


def decode_slices(batches: Iterable[pa.RecordBatch],
                  limit: int) -> Iterator[pa.RecordBatch]:
    """Zero-copy row slices of batches of stored rows, each slice decoding
    to at most ``limit`` bytes of tokens (4 B a token of its ``n_tok``
    column).  Like the reference's ``streamvbyte_decode(in, out, count)``,
    whose caller sizes the output from the out-of-band count (SURVEY
    §1.1), a decoder sizes what it writes back before it decodes: a batch
    that crossed under the session's byte bound would otherwise leave as
    ~2.7x that in tokens.  A single row over the limit is a slice of its
    own (``list_array`` still guards its int32 offsets).  A batch with a
    NULL count passes whole, for the decoder's reader to reject naming the
    row."""
    for batch in batches:
        n = batch.column("n_tok")
        if n.null_count or batch.num_rows < 2:
            yield batch
            continue
        ends = 4 * np.cumsum(np.asarray(n, dtype=np.int64))
        start = 0
        while start < batch.num_rows:
            base = int(ends[start - 1]) if start else 0
            stop = max(int(np.searchsorted(ends, base + limit, side="right")),
                       start + 1)
            yield batch.slice(start, stop - start)
            start = stop


def complete_runs(batches: Iterable[pa.RecordBatch],
                  keys: tuple[str, ...]) -> Iterator[pa.RecordBatch]:
    """Regroup batches sorted by ``keys`` so every yielded batch holds only
    complete runs (maximal spans of rows with equal keys); empty batches
    are dropped.

    A run can straddle Arrow batch seams (Spark cuts batches by bytes or
    rows, whichever bound is met first).  The open tail run is carried as
    zero-copy slices and concatenated ONCE, when it closes or the stream
    ends — prepending the carried tail to every incoming batch would copy
    a K-batch run O(K^2) times.  A run whose binary payload exceeds Arrow's int32 offsets
    raises (pa.concat_arrays' offset-overflow check)."""
    pend: list[pa.RecordBatch] = []
    for batch in batches:
        if not batch.num_rows:
            continue
        cut = _last_run_start(batch, keys)
        if cut or (pend and _key_at(pend[-1], keys, -1)
                   != _key_at(batch, keys, 0)):
            yield _concat(pend + [batch.slice(0, cut)] if cut else pend)
            pend = []
        pend.append(batch.slice(cut))
    if pend:
        yield _concat(pend)


def _key_at(batch: pa.RecordBatch, keys, i: int) -> tuple:
    return tuple(batch.column(k)[i].as_py() for k in keys)


def _last_run_start(batch: pa.RecordBatch, keys) -> int:
    """Row index where the batch's last run starts (NULL keys form one
    run, like Spark's sort groups them)."""
    # imported here, not at module top: every kernel's unpickling imports
    # the package on a fresh worker, and only the run carriers need it
    import pyarrow.compute as pc
    differs = None
    for k in keys:
        col = batch.column(k)
        last = col[-1]
        m = (pc.fill_null(pc.not_equal(col, last), True) if last.is_valid
             else pc.is_valid(col))
        differs = m if differs is None else pc.or_(differs, m)
    rows = np.flatnonzero(differs.to_numpy(zero_copy_only=False))
    return int(rows[-1]) + 1 if rows.size else 0


def _concat(parts: list[pa.RecordBatch]) -> pa.RecordBatch:
    if len(parts) == 1:
        return parts[0]
    return pa.RecordBatch.from_arrays(
        [pa.concat_arrays([p.column(i) for p in parts])
         for i in range(parts[0].num_columns)],
        schema=parts[0].schema)
