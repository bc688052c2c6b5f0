"""Inverted-index build + serving over the documents corpus.

Sorted doc-id posting lists are THE canonical input of this codec family:
the reference names differential coding as the preferred mode for sorted
values (/root/reference/README.md:54-59) and points at its sibling library
for "compress and intersect sorted lists of integers"
(/root/reference/README.md:253).  This module closes that loop Spark-first:
build the index as a DataFrame job, store postings on the auto_sorted /
Elias-Fano wire, and serve boolean AND queries by decoding only the probed
terms' chunks.

Two build shapes:

* ``term_postings`` — the LOGICAL index: one row per term holding the full
  sorted doc-id list.  Exact and oracle-checkable, but ``collect_set`` puts
  a stopword's entire postings on one reducer — at 10^10 documents a df~0.8
  term is a multi-GB cell on a single task.  The flat queries use it as the
  size/round-trip showcase; it is NOT the scale build.

* ``build_index_chunked`` — the SCALE build: group by ``(term,
  did div span)`` so a term's postings land as bounded ~span-wide chunks
  across MANY reducers (a stopword spreads over n_docs/span tasks instead
  of one), then Elias-Fano-encode each chunk (a sorted list's chunks are
  themselves sorted, and EF stores absolute values — chunks stay
  independently decodable, no prev chain needed).  The chunk key is
  ``did div span`` itself: monotone in did, so ordering by it restores the
  full list, and it needs no global per-term window over posting rows.
  Skew never concentrates: the ONLY per-term sequential state
  (``tok_start``, each chunk's offset in the term's full list) is computed
  by a window over CHUNK AGGREGATES — n_docs/span rows per term, not df.

Serving (AND, k-way AND, OR, phrase, TF top-k) pairs up the probed
terms' ENCODED chunk rows by chunk_id — a common doc id can only live
where the terms share a chunk — and lets one kernel decode each chunk
tuple and run the set op, phrase probe or score in-lane.  Each op is one
:class:`_ServingOp` (wire, streams, kernel) under two plans:

* the ``*_rows`` forms (the distributed consumers) filter one side per
  term (a pushable predicate on the stored index) and equi-join the sides
  on chunk_id; AQE broadcasts the rare side, and the kernel runs in place
  and returns distributed ``did`` rows;
* the gate forms and ``topk_and_terms`` run one Spark job with one task:
  one scan reads every probed term's chunk rows (``doc_id IN (terms)``),
  ``coalesce(1)`` hands them to one mapInArrow, and :func:`_aligned`
  builds the same chunk tuples there before the same kernel runs
  (:func:`_gate_scalar` then folds the dids into one row).  The scan
  reads every partition of the index, so this plan is for serving
  requests over a staged index, not for scale consumers.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..arrow_rows import binary_array, kernel_schema, list_array, list_flat
from ..codec import batched
from ..session import fanout_scan
from .chunking import encode_chunked_delta
from .encode import decode_rows_at, encoded_rows

# chunk span in doc-id space: bounds every chunk row to <= span postings.
# Gate scale (500-5000 docs) uses a small span so multi-chunk terms exist;
# at 10^10 docs pick ~2^17 so chunk rows stay ~0.5 MB on the EF wire.
INDEX_CHUNK_SPAN = 128

# a probe term must hit at least this many documents to be selected by the
# deterministic query-term rule (the two lexicographically smallest terms
# with df >= INDEX_MIN_DF)
INDEX_MIN_DF = 5

# THE index posting wires: the one definition of what a stored chunk row
# carries.  Per wire: its count columns, then its streams as (column,
# codec, count column sizing the stream).  Every wire's FIRST stream is the
# chunk's sorted distinct doc ids on Elias-Fano, so the did-only serving
# ops read any wire; the LAST count column orders a chunk's generations in
# merge_index_updates (immutable docs + unique ids make a chunk's content
# its did set, so any content change strictly grows that count).  Builds,
# serving kernels, merge_index_updates and streaming/index_update.py name,
# encode and decode the wires only through this table (wire_schema,
# encode_wire, decode_wire); the set wire's batch build is
# chunking.encode_chunked_delta(codec="ef"), the same bytes.
_TF_STREAMS = (("enc_dids", "ef", "n_doc"), ("enc_tfs", "svb", "n_doc"))
INDEX_WIRES = {
    "set": (("n_tok",), (("encoded", "ef", "n_tok"),)),
    "tf": (("n_doc",), _TF_STREAMS),
    # the tf wire plus the doc-major token positions
    "pos": (("n_doc", "n_pos"), _TF_STREAMS + (("enc_pos", "svb", "n_pos"),)),
}


def wire_columns(kind: str) -> list[str]:
    """The wire's payload columns in stored order: counts, then streams."""
    counts, streams = INDEX_WIRES[kind]
    return [*counts, *(s[0] for s in streams)]


def wire_schema(kind: str) -> str:
    """DDL of the wire's payload columns, in wire_columns order."""
    counts, streams = INDEX_WIRES[kind]
    return ", ".join([f"{c} int" for c in counts]
                     + [f"{s[0]} binary" for s in streams])


def encode_wire(kind: str, streams: dict) -> tuple[list, np.ndarray]:
    """Encode a batch of chunks onto the ``kind`` wire.  streams maps each
    stream column to its per-row (flat uint32 values, int64 offsets).
    Returns the wire_columns as Arrow arrays (a count column holds its
    stream's row lengths) and the per-row encoded byte total (out_bytes)."""
    cols, out_bytes = {}, 0
    for col, codec, cnt in INDEX_WIRES[kind][1]:
        flat, offsets = streams[col]
        enc, eoff, _ = batched.encode_rows(flat, offsets, codec)
        cols[cnt] = pa.array(np.diff(offsets).astype(np.int32), pa.int32())
        cols[col] = binary_array(enc, eoff)
        out_bytes = out_bytes + np.diff(eoff)
    return [cols[c] for c in wire_columns(kind)], out_bytes


def decode_wire(kind: str, src, streams=None, suffix: str = "",
                key: str = "chunk_id") -> list:
    """Decode the asked ``streams`` (default: all) of the ``kind`` wire ->
    one (flat uint32 values, int64 offsets) per stream, in the order asked.
    src is an Arrow batch whose wire columns carry ``suffix`` (a serving
    side's alias, see _ServingOp), or one chunk's (chunk_id, *raw state)
    tuple, the state in wire_columns order (the streaming merges).  Each
    stream is read through encode.encoded_rows and decoded through
    encode.decode_rows_at, so a NULL stream or count, and an svb or ef
    stream whose length contradicts its count, raise ValueError naming the
    row's ``key`` value."""
    if isinstance(src, tuple):
        src = pa.RecordBatch.from_arrays([pa.array([v]) for v in src],
                                         names=["chunk_id",
                                                *wire_columns(kind)])
    spec = {s[0]: s[1:] for s in INDEX_WIRES[kind][1]}
    out = []
    for col in streams or spec:
        codec, cnt = spec[col]
        out.append(decode_rows_at(
            src, key, batched.decode_rows,
            *encoded_rows(src, key, col + suffix, cnt + suffix, codec)))
    return out


def term_doc_pairs(docs: DataFrame) -> DataFrame:
    """(term, did) rows, duplicates NOT yet removed: the explode output.
    Tokenizer parity with the SQL pipeline family: split on single space,
    empty strings dropped (pipeline_sql.Dialect.split semantics).

    Doc-id domain: non-negative int32 (the uint32 posting space every codec
    in the family shares).  Out-of-range ids fail LOUDLY: ANSI cast throws
    past int32, and the assert_true guard throws on negatives — a negative
    id in a MIXED chunk would already trip the EF sortedness check, but an
    isolated all-negative chunk preserves two's-complement order and would
    otherwise wrap silently onto the uint32 wire (probed)."""
    docs = fanout_scan(docs, "doc_id")
    return (docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("term"),
        F.col("doc_id").cast("int").alias("did"))
        .where(F.col("term") != "")
        .where(F.expr(
            "assert_true(did >= 0, 'inverted-index doc ids must be "
            "non-negative int32 (uint32 posting space)') is null")))


def term_doc_pos_pairs(docs: DataFrame) -> DataFrame:
    """(pos, term, did) rows: term_doc_pairs with the token POSITION kept
    (raw-split offsets — empties occupy slots, so positions survive the
    empty filter unchanged and adjacency means adjacency in the original
    text).  Same tokenizer and loud id guard; shared by the positional
    batch build and the TF streaming merge (whose within-batch redelivery
    dedup is keyed on (did, pos))."""
    docs = fanout_scan(docs, "doc_id")
    return (docs.select(
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "term"),
        F.col("doc_id").cast("int").alias("did"))
        .where(F.col("term") != "")
        .where(F.expr(
            "assert_true(did >= 0, 'inverted-index doc ids must be "
            "non-negative int32 (uint32 posting space)') is null")))


def term_postings(docs: DataFrame) -> DataFrame:
    """The logical index as a token table: (doc_id=term, tokens=sorted
    distinct doc ids, n_tok=df, source) — plugs straight into
    encode_table/size_table/decode_table.  collect_set dedups (a term
    appearing k times in one doc is one posting) and sort_array fixes the
    order both engines agree on.  Skew caveat in the module docstring."""
    return (term_doc_pairs(docs)
            .groupBy("term")
            .agg(F.sort_array(F.collect_set("did")).alias("tokens"))
            .select(F.col("term").alias("doc_id"),
                    F.col("tokens").cast("array<int>").alias("tokens"),
                    F.size("tokens").alias("n_tok"),
                    F.lit("documents").alias("source")))


def build_index_chunked(docs: DataFrame,
                        span: int = INDEX_CHUNK_SPAN) -> DataFrame:
    """documents -> encoded chunked postings table (the scale build).

    One shuffle builds the chunks: groupBy (term, did div span) with
    collect_set dedup — no distinct pre-pass (it would shuffle the pairs a
    second time on a key the chunk groupBy cannot reuse).  A second, chunk-
    level shuffle runs the tok_start window per term; its input is already
    span-bounded aggregates.  Output schema = chunking.CHUNKED_ENC_SCHEMA
    with doc_id = term: (doc_id, chunk_id, tok_start, n_tok, prev, encoded,
    out_bytes) — EF wire, prev unused (schema-stable zero)."""
    pairs = term_doc_pairs(docs).withColumn(
        "chunk_id", F.expr(f"did div {span}").cast("int"))
    chunks = (pairs.groupBy("term", "chunk_id")
              .agg(F.sort_array(F.collect_set("did")).alias("chunk"))
              .select("term", "chunk_id",
                      F.col("chunk").cast("array<int>").alias("chunk")))
    w = (Window.partitionBy("term").orderBy("chunk_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    chunked = (chunks
               .withColumn("tok_start",
                           F.coalesce(F.sum(F.size("chunk")).over(w),
                                      F.lit(0)).cast("long"))
               .withColumn("prev", F.lit(0).cast("long"))
               .select(F.col("term").alias("doc_id"), "chunk_id",
                       "tok_start", "chunk", "prev"))
    return encode_chunked_delta(chunked, codec="ef")


def runlength_dids(flat, offsets):
    """Run-length the per-row SORTED duplicated did streams into
    (dids, tfs, doff): distinct dids per row, each did's occurrence count,
    and int64 row offsets into the distinct streams.  Shared by the TF and
    positional batch builds (the TF STREAMING merge counts per-key instead,
    via its (did, pos) pair dedup — one chunk per group, no offsets)."""
    V = flat.size
    rid = np.repeat(np.arange(offsets.size - 1, dtype=np.int64),
                    offsets[1:] - offsets[:-1])
    new = np.ones(V, dtype=bool)
    if V > 1:
        new[1:] = (flat[1:] != flat[:-1]) | (rid[1:] != rid[:-1])
    starts = np.flatnonzero(new)
    dids = flat[starts]
    tfs = np.diff(np.append(starts, V)).astype(np.uint32)
    doff = np.zeros(offsets.size, dtype=np.int64)
    np.cumsum(np.bincount(rid[starts], minlength=offsets.size - 1),
              out=doff[1:])
    return dids, tfs, doff


def _encode_chunks(chunks: DataFrame, kind: str, streams) -> DataFrame:
    """Chunk rows (doc_id, chunk_id, ...) -> the ``kind`` wire table
    (doc_id, chunk_id, wire_columns, out_bytes); streams(batch) gives
    encode_wire each stream's (flat, offsets)."""
    names = ["doc_id", "chunk_id", *wire_columns(kind), "out_bytes"]

    def run(batches):
        for batch in batches:
            cols, out_bytes = encode_wire(kind, streams(batch))
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index("doc_id")),
                 batch.column(batch.schema.get_field_index("chunk_id")),
                 *cols, pa.array(out_bytes, pa.int64())], names=names)

    return chunks.mapInArrow(run, kernel_schema(
        f"doc_id string, chunk_id int, {wire_schema(kind)}, out_bytes bigint"))


def build_index_tf_chunked(docs: DataFrame,
                           span: int = INDEX_CHUNK_SPAN) -> DataFrame:
    """TF-weighted chunked index: each (term, did div span) chunk stores the
    sorted distinct doc ids as an Elias-Fano stream AND the per-doc term
    frequencies (in did order) as an svb stream.

    ONE posting-level shuffle, like the set build: the chunk groupBy
    collects the raw (duplicated) dids — ``sort_array(collect_list)`` —
    and the ENCODE KERNEL run-lengths each sorted chunk into (distinct
    dids, tfs) in one vectorized pass, instead of a separate
    (term, did)-keyed counting aggregate whose partitioning the chunk
    groupBy could not reuse (that form shuffles the postings twice).
    Chunk rows are bounded by span * max_tf raw values pre-dedup; the
    encoded payload by span postings."""
    pairs = term_doc_pairs(docs).withColumn(
        "chunk_id", F.expr(f"did div {span}").cast("int"))
    chunks = (pairs.groupBy("term", "chunk_id")
              .agg(F.sort_array(F.collect_list("did")).alias("raw"))
              .select(F.col("term").alias("doc_id"), "chunk_id",
                      F.col("raw").cast("array<int>").alias("raw")))

    def streams(batch):
        # run-length the sorted duplicated dids: starts mark distinct
        # (row, did) pairs; run length = that doc's tf for the term
        flat, offsets = list_flat(
            batch.column(batch.schema.get_field_index("raw")))
        dids, tfs, doff = runlength_dids(flat.view(np.uint32), offsets)
        return {"enc_dids": (dids, doff), "enc_tfs": (tfs, doff)}

    return _encode_chunks(chunks, "tf", streams)


def build_index_pos_chunked(docs: DataFrame,
                            span: int = INDEX_CHUNK_SPAN) -> DataFrame:
    """Positional chunked index: beside the TF wires, each chunk stores the
    term's token POSITIONS (doc-major, ascending within a doc) as an svb
    stream — the payload phrase queries need.  Positions are offsets in the
    RAW split (empty tokens from doubled spaces occupy a slot), so
    adjacency means adjacency in the original text.

    Same one-shuffle shape as the TF build: the chunk groupBy collects
    sorted (did, pos) structs — struct order = (did asc, pos asc), exactly
    the doc-major layout the wire wants — and the kernel run-lengths the
    did column into (distinct dids, tfs) while the pos column IS the
    position stream.  The tf stream doubles as the per-doc split of the
    positions at decode time."""
    pairs = term_doc_pos_pairs(docs).withColumn(
        "chunk_id", F.expr(f"did div {span}").cast("int"))
    chunks = (pairs.groupBy("term", "chunk_id")
              .agg(F.sort_array(F.collect_list(F.struct("did", "pos")))
                   .alias("occ"))
              .select(F.col("term").alias("doc_id"), "chunk_id",
                      F.col("occ.did").cast("array<int>").alias("dids_raw"),
                      F.col("occ.pos").cast("array<int>").alias("poss")))

    def streams(batch):
        flat, offsets = list_flat(
            batch.column(batch.schema.get_field_index("dids_raw")))
        poss, _ = list_flat(
            batch.column(batch.schema.get_field_index("poss")))
        dids, tfs, doff = runlength_dids(flat.view(np.uint32), offsets)
        return {"enc_dids": (dids, doff), "enc_tfs": (tfs, doff),
                "enc_pos": (poss.view(np.uint32), offsets)}

    return _encode_chunks(chunks, "pos", streams)


def decode_index_pos(enc_index: DataFrame) -> DataFrame:
    """Positional chunks -> flat (term, did, pos) occurrence rows: the tf
    stream repeats each did over its positions, so the kernel emits the
    occurrence table directly — no nested arrays, no JVM re-explode."""

    def run(batches):
        for batch in batches:
            (dids, _), (tfs, _), (poss, poff) = decode_wire(
                "pos", batch, key="doc_id")
            terms = batch.column(batch.schema.get_field_index(
                "doc_id")).to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(terms, np.diff(poff)), pa.string()),
                 pa.array(np.repeat(dids.view(np.int32),
                                    tfs.astype(np.int64)), pa.int32()),
                 pa.array(poss.view(np.int32), pa.int32())],
                names=["term", "did", "pos"])

    return enc_index.mapInArrow(
        run, kernel_schema("term string, did int, pos int"))


class _ServingOp(NamedTuple):
    """One co-grouped serving op.  ``kernel`` maps batches of chunk tuples
    — per probe position i, the ``streams`` of the ``kind`` wire and their
    count columns, each named column + ``suffixes[i]`` (decode_wire reads
    them back by that suffix) — to one output per batch.  ``how`` names
    the chunks a tuple exists for: "and" those every probed term
    occupies, "or" those any term occupies (a term without a row there
    reads count 0 and an empty stream)."""
    kind: str
    streams: list
    suffixes: list
    how: str
    kernel: Callable


def _side_columns(op: _ServingOp) -> dict:
    """The wire columns one probe side carries — the count columns sizing
    the op's streams, then the streams — each mapped to what a side with
    no row for a chunk reads there: count 0, an empty stream."""
    spec = {s[0]: s[2] for s in INDEX_WIRES[op.kind][1]}
    return {**{spec[s]: 0 for s in op.streams},
            **{s: b"" for s in op.streams}}


def _joined(enc_index: DataFrame, op: _ServingOp,
            terms: list[str]) -> DataFrame:
    """The rows forms' chunk tuples: one side per probe term, joined on
    chunk_id (inner for "and", full outer for "or").  AQE broadcasts the
    rare side, so a stopword's chunk rows never shuffle, where a
    chunk_id repartition would shuffle every probed term's.  Each side's
    term filter stays a pushable predicate on the stored index."""
    cols = _side_columns(op)
    # one selectExpr per side: a per-column F.col(c).alias(...) select
    # costs ~3 py4j round trips a column
    sides = [enc_index.where(F.col("doc_id") == t).selectExpr(
        "chunk_id", f"true AS `_has{s}`",
        *[f"`{c}` AS `{c}{s}`" for c in cols])
        for t, s in zip(terms, op.suffixes)]
    if op.how == "and":
        return reduce(lambda a, b: a.join(b, "chunk_id"), sides)
    outer = reduce(lambda a, b: a.join(b, "chunk_id", "full_outer"), sides)
    # only a missing side reads the default: a stored NULL stays NULL,
    # and decode_wire rejects it
    return outer.select("chunk_id", *[
        F.when(F.col(f"_has{s}").isNull(), F.lit(v))
        .otherwise(F.col(c + s)).alias(c + s)
        for s in op.suffixes for c, v in cols.items()])


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _scan(enc_index: DataFrame, op: _ServingOp,
          terms: list[str]) -> DataFrame:
    """The gate forms' input: every probed term's chunk rows in one scan
    of the index, (doc_id, chunk_id, the op's wire columns) unsuffixed —
    :func:`_aligned` pairs them up inside the kernel's task.  Built from
    SQL strings: a per-term Column chain costs py4j round trips on every
    request."""
    probe = ", ".join(_sql_string(t) for t in dict.fromkeys(terms))
    return enc_index.where(f"doc_id IN ({probe})").selectExpr(
        "doc_id", "chunk_id", *_side_columns(op))


def _aligned(batches, terms: list[str], op: _ServingOp):
    """Align one task's :func:`_scan` rows into the chunk tuples
    ``op.kernel`` reads: ``chunk_id`` and the suffixed columns the rows
    forms' chunk_id join (:func:`_joined`) gives, as one batch.  Positions
    of a repeated term read the same rows; a row whose doc_id is no probed
    term is dropped.  Tuples are selected before any decode, so the rarest
    term still bounds an AND's decode work.  Yields nothing when no chunk
    qualifies."""
    batches = list(batches)
    if not batches:
        return
    table = pa.Table.from_batches(batches)
    cols = {n: table.column(n).combine_chunks() for n in table.column_names}
    uniq = list(dict.fromkeys(terms))
    which = pc.fill_null(pc.index_in(
        cols["doc_id"], value_set=pa.array(uniq, pa.string())), -1)
    which = which.to_numpy(zero_copy_only=False)
    chunk = cols["chunk_id"].to_numpy(zero_copy_only=False)
    rows = []   # per distinct term: its row indices in chunk_id order
    for u in range(len(uniq)):
        r = np.flatnonzero(which == u)
        rows.append(r[np.argsort(chunk[r], kind="stable")])
    keep = reduce(np.intersect1d if op.how == "and" else np.union1d,
                  [chunk[r] for r in rows])
    if not keep.size:
        return
    out, names = [pa.array(keep, cols["chunk_id"].type)], ["chunk_id"]
    for t, s in zip(terms, op.suffixes):
        r = rows[uniq.index(t)]
        at = np.searchsorted(chunk[r], keep)
        hit = at < r.size
        hit[hit] = chunk[r[at[hit]]] == keep[hit]
        idx = np.zeros(keep.size, np.int64)
        idx[hit] = r[at[hit]]
        take, present = pa.array(idx), pa.array(hit)
        for c, v in _side_columns(op).items():
            # only a missing side reads the default: a stored NULL stays
            # NULL, and decode_wire rejects it
            out.append(pc.if_else(present, cols[c].take(take),
                                  pa.scalar(v, cols[c].type)))
            names.append(c + s)
    yield pa.RecordBatch.from_arrays(out, names=names)


def phrase_match_rows(enc_index: DataFrame, term_a: str,
                      term_b: str) -> DataFrame:
    """Serve the PHRASE query ``"term_a term_b"`` (adjacent, in order) from
    the positional wire, CO-GROUPED by chunk: an adjacent pair lives in ONE
    doc, hence one chunk_id on both wires — equi-join the two terms'
    ENCODED chunk rows on chunk_id and run the whole phrase match inside
    the one decode kernel: intersect the did lists in-lane, keep only
    common docs' occurrences, and probe ``pos_a + 1`` against ``pos_b``
    per doc.  No occurrence row ever
    shuffles (the earlier form decoded co-occupied chunks to (did, pos)
    rows and shuffled them into an adjacency equi-join — span x tf rows
    per stopword chunk); the join ships ~df/span encoded chunk rows and
    the kernel emits only MATCHED dids.

    Returns the DISTRIBUTED matched-doc rows (``did int``, deduped by
    construction — a did lives in one chunk pair) — the scale consumer's
    form.  The driver-gate scalar is :func:`phrase_match_terms`."""
    return _did_rows(enc_index, _phrase_op(), [term_a, term_b])


def _phrase_op() -> _ServingOp:
    """The serving op of :func:`phrase_match_rows`: its kernel yields each
    batch's matched dids."""

    def kernel(batches):
        def side(batch, suffix):
            (dids, doff), (tfs, _), (pos, _) = decode_wire(
                "pos", batch, suffix=suffix)
            kd = lane_doc_keys(np.diff(doff), dids)
            # doc key per OCCURRENCE (tf repeats), aligned with pos
            kocc = np.repeat(kd, tfs.astype(np.int64))
            return kd, kocc, pos.astype(np.int64)

        def keep(kocc, pos, common):
            # occurrences of docs in `common` (sorted unique), as
            # (dense-rank-into-common, pos)
            i = np.searchsorted(common, kocc)
            i_c = np.minimum(i, common.size - 1) if common.size else i
            m = (i < common.size) & (common.size > 0)
            if common.size:
                m &= common[i_c] == kocc
            return i_c[m], pos[m]

        for batch in batches:
            kd_a, kocc_a, pos_a = side(batch, "_a")
            kd_b, kocc_b, pos_b = side(batch, "_b")
            common = np.intersect1d(kd_a, kd_b, assume_unique=True)
            r_a, p_a = keep(kocc_a, pos_a, common)
            r_b, p_b = keep(kocc_b, pos_b, common)
            # adjacency in-lane: stride past the max position so each
            # doc rank owns a disjoint key block; pos+1 stays in-block
            stride = np.int64(max(p_a.max(initial=0),
                                  p_b.max(initial=0)) + 2)
            if common.size >= 2**62 // int(stride):
                # loud like topk's int32 guard — not assert, which
                # PYTHONOPTIMIZE would strip, silently wrapping the keys
                raise OverflowError("phrase key space overflow")
            hit = np.intersect1d(r_a * stride + p_a + 1,
                                 r_b * stride + p_b, assume_unique=True)
            ranks = np.unique(hit // stride)
            yield (common[ranks] & np.int64(0xFFFFFFFF)).astype(np.int32)

    return _ServingOp("pos", [s[0] for s in INDEX_WIRES["pos"][1]],
                      ["_a", "_b"], "and", kernel)


def phrase_match_terms(enc_index: DataFrame, term_a: str,
                       term_b: str) -> DataFrame:
    """Gate-scalar phrase serving: one row (term_a, term_b, n_docs,
    fingerprint over ascending matched ids) from the phrase kernel —
    see :func:`_gate_scalar` for the one-task plan, why the fold exists
    and why scale consumers must take :func:`phrase_match_rows`."""
    return _gate_scalar(enc_index, _phrase_op(), [term_a, term_b], "n_docs")


def decode_index_tf(enc_index: DataFrame) -> DataFrame:
    """TF chunks -> (term, did, tf) posting rows (EF dids + svb tfs decoded
    whole-batch, exploded JVM-side via arrays_zip/inline)."""

    def run(batches):
        for batch in batches:
            (dids, doff), (tfs, _) = decode_wire("tf", batch, key="doc_id")
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index("doc_id")),
                 list_array(dids.view(np.int32), doff),
                 list_array(tfs.view(np.int32), doff)],
                names=["term", "dids", "tfs"])

    lists = enc_index.mapInArrow(run, kernel_schema(
        "term string, dids array<int>, tfs array<int>"))
    return lists.select(
        "term", F.expr("inline(arrays_zip(dids, tfs))")) \
        .withColumnRenamed("dids", "did").withColumnRenamed("tfs", "tf")


def lane_doc_keys(counts, dids):
    """``(lane << 32) | did`` keys for a decoded chunk-lane batch — the
    shared invariant every co-grouped serving kernel rests on: dids are
    distinct and ascending within a lane and lanes own disjoint key
    blocks, so the keys are unique per side and ``assume_unique``
    set ops over them are exact.  counts = per-lane did counts (int64),
    dids = the flat decoded did stream (uint32)."""
    lane = np.repeat(np.arange(counts.size, dtype=np.int64), counts)
    return (lane << np.int64(32)) | dids.astype(np.int64)


def _did_stream(enc_index: DataFrame, what: str) -> tuple[str, str, str]:
    """(wire, did stream column, its count column) of the index wire this
    chunk table carries: every wire's first stream is its EF did stream,
    so the did-only serving ops (boolean AND/OR) read a stored TF or
    positional index directly instead of demanding a second set-wire
    build."""
    kind = _index_wire(enc_index, what)
    col, _codec, cnt = INDEX_WIRES[kind][1][0]
    return kind, col, cnt


def _did_rows(enc_index: DataFrame, op: _ServingOp,
              terms: list[str]) -> DataFrame:
    """The distributed ``did int`` rows of a serving op: its kernel runs
    in place over the joined chunk tuples (:func:`_joined`), one Arrow
    batch per did array it yields."""

    def run(batches):
        for dids in op.kernel(batches):
            yield pa.RecordBatch.from_arrays([pa.array(dids, pa.int32())],
                                             names=["did"])

    return _joined(enc_index, op, terms).mapInArrow(
        run, kernel_schema("did int"))


def _gate_scalar(enc_index: DataFrame, op: _ServingOp, terms: list[str],
                 count_name: str) -> DataFrame:
    """Fold a serving op's dids (deduped by construction — disjoint
    chunk did-ranges) into the ONE-ROW gate scalar:
    (term_a[, term_b, ...], <count_name>, fingerprint over ascending ids).

    One job, one stage, one task: every probed term's chunk rows come
    from one scan (:func:`_scan`), ``coalesce(1)`` (narrow, no Exchange)
    hands them to one mapInArrow, which aligns them by chunk_id
    (:func:`_aligned`), runs the op's kernel, and concatenates, sorts,
    counts and fingerprints its dids with ``batched.fingerprint_rows``
    (bit-identical to the SQL fold).  No join means no broadcast job per
    extra probe side.  One row whose doc_id is NULL (no probed term, so
    the aligner drops it) joins the scan: a zero-partition index would
    otherwise leave coalesce(1) no partition to fold in, and the
    (..., 0, 0) row would be lost.

    This fold exists ONLY because the driver's pandas canonicalizer
    rejects array-typed result columns; it concentrates the full
    result-id list on one task (SCALE.md's 10x OR run is fold-dominated),
    so it is the GATE wrapper, not the operator — scale consumers take
    the rows-returning serving functions directly."""
    if len(terms) > 26:
        # term_{chr(97+i)} runs out of alphabet past 26 terms and would
        # silently emit garbage column names (term_{, term_|, ...) — the
        # gate wrapper is for small probe lists; scale consumers take the
        # rows-returning serving functions
        raise ValueError(
            f"_gate_scalar supports at most 26 probe terms, got "
            f"{len(terms)}")
    names = [f"term_{chr(97 + i)}" for i in range(len(terms))]
    # built as one SQL statement: a per-column lit/cast/alias select costs
    # ~25 ms of py4j calls per request, the parse ~4 ms
    no_term = enc_index.sparkSession.sql(
        "SELECT CAST(NULL AS STRING) AS doc_id, 0 AS chunk_id, "
        + ", ".join(("X''" if isinstance(v, bytes) else "0") + f" AS `{c}`"
                    for c, v in _side_columns(op).items()))

    def fold(batches):
        ids = np.concatenate([np.zeros(0, np.int32),
                              *op.kernel(_aligned(batches, terms, op))])
        ids.sort()
        fp = batched.fingerprint_rows(ids, np.array([0, ids.size]))
        yield pa.RecordBatch.from_arrays(
            [pa.array([t], pa.string()) for t in terms]
            + [pa.array([ids.size], pa.int32()), pa.array(fp, pa.int64())],
            names=names + [count_name, "fingerprint"])

    schema = ", ".join([f"{n} string" for n in names]
                       + [f"{count_name} int", "fingerprint bigint"])
    return _scan(enc_index, op, terms).union(no_term).coalesce(1) \
        .mapInArrow(fold, kernel_schema(schema))


def topk_and_terms(enc_index: DataFrame, term_a: str, term_b: str,
                   k: int = 10) -> DataFrame:
    """Integer-relevance top-k for ``term_a AND term_b`` served from the
    TF index wire, CO-GROUPED by chunk (the inline reference in
    tests/test_spark_engine.py pins parity adversarially).

    The gate forms' one-task plan (:func:`_gate_scalar`): one scan reads
    both terms' ENCODED chunk rows, ``coalesce(1)`` hands them to one
    mapInArrow, the aligner keeps the co-occupied chunks (AND semantics,
    <= min(df_a, df_b)/span pairs) before any decode, and ONE kernel
    decodes each pair (EF dids + svb tfs), intersects in-lane, and scores
    in-lane (score = tf_a + tf_b, exact integers).  The kernel pre-limits
    each Arrow batch to its local top-k under the global order (score
    desc, did asc) — valid because every global top-k row is in its
    batch's local top-k — so at most k rows per batch reach the final
    TakeOrderedAndProject, which runs over the one partition: one job,
    one stage ("compress and intersect sorted lists of integers", the
    reference README:253)."""
    terms = [term_a, term_b]

    def run(batches):
        for batch in batches:
            (da, oa), (ta, _) = decode_wire("tf", batch, suffix="_a")
            (db, ob), (tb, _) = decode_wire("tf", batch, suffix="_b")
            ka = lane_doc_keys(np.diff(oa), da)
            kb = lane_doc_keys(np.diff(ob), db)
            common, ia, ib = np.intersect1d(ka, kb, assume_unique=True,
                                            return_indices=True)
            did = (common & np.int64(0xFFFFFFFF)).astype(np.int32)
            tf_a = ta[ia].astype(np.int64)
            tf_b = tb[ib].astype(np.int64)
            score = tf_a + tf_b
            if score.size and score.max() > np.int64(2**31 - 1):
                # parity with the int32 Spark-side sum (ANSI throws there)
                raise OverflowError("tf_a + tf_b exceeds int32")
            if score.size > k:
                # local top-k under the global order (score desc, did asc)
                sel = np.lexsort((did, -score))[:k]
                did, tf_a, tf_b, score = (did[sel], tf_a[sel],
                                          tf_b[sel], score[sel])
            yield pa.RecordBatch.from_arrays(
                [pa.array(did, pa.int32()),
                 pa.array(tf_a.astype(np.int32), pa.int32()),
                 pa.array(tf_b.astype(np.int32), pa.int32()),
                 pa.array(score.astype(np.int32), pa.int32())],
                names=["did", "tf_a", "tf_b", "score"])

    op = _ServingOp("tf", [s[0] for s in INDEX_WIRES["tf"][1]],
                    ["_a", "_b"], "and", run)
    scored = _scan(enc_index, op, terms).coalesce(1).mapInArrow(
        lambda batches: run(_aligned(batches, terms, op)),
        kernel_schema("did int, tf_a int, tf_b int, score int"))
    return (scored.orderBy(F.col("score").desc(), F.col("did").asc())
            .limit(k))


def union_terms_rows(enc_index: DataFrame, term_a: str,
                     term_b: str) -> DataFrame:
    """Serve ``term_a OR term_b`` from the encoded set index, CO-GROUPED
    by chunk (the OR twin of intersect_terms' shape): FULL OUTER join
    the two terms' ENCODED chunk rows on chunk_id and union the two
    sorted lists in-lane inside the one decode kernel.  Chunk did-ranges
    are disjoint (did div span), so the in-lane dedup IS the global
    dedup — the exploded-did ``distinct`` shuffle of the naive form
    (df_a + df_b posting rows) disappears; the join ships df/span encoded
    chunk rows.  Returns the DISTRIBUTED union rows (``did int``, deduped
    by construction) — the scale consumer's form; the driver-gate
    scalar is :func:`union_terms`.  Serves from any wire (see
    :func:`_did_stream`)."""
    return _did_rows(enc_index, _union_op(enc_index), [term_a, term_b])


def _union_op(enc_index: DataFrame) -> _ServingOp:
    """The serving op of :func:`union_terms_rows`: its kernel yields each
    batch's union dids; a chunk only one term occupies decodes as empty
    on the other side."""
    kind, dids, _ = _did_stream(enc_index, "union_terms_rows")

    def kernel(batches):
        for batch in batches:
            (da, oa), = decode_wire(kind, batch, [dids], "_a")
            (db, ob), = decode_wire(kind, batch, [dids], "_b")
            # in-lane union; lanes own disjoint did ranges, so this is
            # globally deduped output already
            u = np.union1d(lane_doc_keys(np.diff(oa), da),
                           lane_doc_keys(np.diff(ob), db))
            yield (u & np.int64(0xFFFFFFFF)).astype(np.int32)

    return _ServingOp(kind, [dids], ["_a", "_b"], "or", kernel)


def union_terms(enc_index: DataFrame, term_a: str,
                term_b: str) -> DataFrame:
    """Gate-scalar OR serving: one row (term_a, term_b, n_docs,
    fingerprint over ascending union ids) from the OR kernel of
    :func:`union_terms_rows` — see :func:`_gate_scalar`."""
    return _gate_scalar(enc_index, _union_op(enc_index), [term_a, term_b],
                        "n_docs")


def _index_wire(df: DataFrame, what: str) -> str:
    """Classify an index chunk table as one of INDEX_WIRES and VALIDATE
    it.  A wire is marked by the columns it adds over the wires it extends
    (pos extends tf), a marked extension outranks its base, the marks must
    name exactly one wire, and that wire's full payload must be present —
    so a positional table can never pass as a TF one and lose enc_pos."""
    cols = set(df.columns)
    wires = {k: set(wire_columns(k)) for k in INDEX_WIRES}
    marked = [k for k, c in wires.items()
              if cols & c.difference(*(b for b in wires.values() if b < c))]
    kinds = [k for k in marked if not any(wires[k] < wires[j]
                                          for j in marked)]
    if len(kinds) != 1:
        expected = " / ".join(f"{k}({', '.join(wire_columns(k))})"
                              for k in INDEX_WIRES)
        raise ValueError(
            f"{what} columns {sorted(cols)} do not identify exactly one "
            f"index wire (matched {kinds or 'none'}); expected one of "
            f"{expected}")
    missing = wires[kinds[0]] - cols
    if missing:
        raise ValueError(
            f"{what} looks like the {kinds[0]} wire but is missing "
            f"{sorted(missing)}")
    return kinds[0]


def merge_index_updates(stored: DataFrame, updates: DataFrame) -> DataFrame:
    """Fold a drained stream of index-update generations into the stored
    chunk table: per (term, chunk_id) the generation with the LARGEST
    content count wins — chunk content only ever GROWS under the streaming
    merges, so the max-count row is the latest — and stored chunks no
    update touched pass through.  Handles all three INDEX_WIRES
    (validated, same wire on both sides): set (CHUNKED_ENC_SCHEMA out,
    tok_start re-derived by the same chunk-aggregate window the batch
    build uses), tf and positional (their build schemas out).

    CONTRACT — the continuous-maintenance lifecycle only: a generation
    REPLACES the stored chunk byte-level, so the updates must come from a
    stream whose state already covers everything the stored chunk holds
    (the stored table is a previous drain of the SAME checkpointed stream,
    or the stream consumed the stored corpus before the new documents).
    A FRESH stream over only-new documents emits generations containing
    only the new ids; replacing a stored chunk with one silently DROPS the
    stored postings — merging such disjoint slices needs the content-wise
    path instead (decode both, set-union, re-encode: exactly what the
    streaming merge itself does per chunk).

    Scale shape: one hash shuffle on the chunk key over CHUNK rows (not
    postings); no decode — generations replace whole chunks byte-level."""
    up = updates.withColumnRenamed("term", "doc_id") \
        if "term" in updates.columns else updates
    st = stored.withColumnRenamed("term", "doc_id") \
        if "term" in stored.columns else stored
    kind = _index_wire(up, "merge_index_updates: updates")
    kind_st = _index_wire(st, "merge_index_updates: stored")
    if kind_st != kind:
        raise ValueError(
            f"merge_index_updates: stored is the {kind_st} wire but "
            f"updates is the {kind} wire — generations replace chunks "
            "byte-level, so both sides must carry the same wire")
    counts, streams = INDEX_WIRES[kind]
    cols = ["doc_id", "chunk_id", *wire_columns(kind), "out_bytes"]
    if "out_bytes" not in up.columns:
        up = up.withColumn("out_bytes", sum(
            (F.length(s[0]) for s in streams), F.lit(0)).cast("long"))
    allrows = st.select(*cols).unionByName(up.select(*cols))
    w = (Window.partitionBy("doc_id", "chunk_id")
         .orderBy(F.col(counts[-1]).desc()))
    merged = (allrows.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1).drop("_rn"))
    if kind != "set":
        return merged
    ts = (Window.partitionBy("doc_id").orderBy("chunk_id")
          .rowsBetween(Window.unboundedPreceding, -1))
    # CHUNKED_ENC_SCHEMA column ORDER, not just names: a positional
    # consumer (union with a batch-built table, append to an existing
    # parquet layout) must bind tok_start where the stored tables put it
    return merged.withColumn(
        "tok_start",
        F.coalesce(F.sum("n_tok").over(ts), F.lit(0)).cast("long")) \
        .withColumn("prev", F.lit(0).cast("long")) \
        .select("doc_id", "chunk_id", "tok_start", "n_tok", "prev",
                "encoded", "out_bytes")


def intersect_terms_rows(enc_index: DataFrame,
                         terms: list[str]) -> DataFrame:
    """Serve the K-WAY boolean AND ``terms[0] AND terms[1] AND ...`` from
    the ENCODED chunked index, CO-GROUPED by chunk: every wire chunks by
    ``did div span``, term-independently, so a common doc id can only
    live where ALL k terms occupy the same chunk_id — inner-equi-join the
    k terms' ENCODED chunk rows on chunk_id first, then one kernel decodes
    each co-occupied k-tuple and folds the sorted-list intersection
    in-lane over the shared
    ``lane_doc_keys`` invariant ("compress and intersect sorted lists of
    integers", the reference README:253 — the named application of
    this codec family, distributed; real boolean queries have > 2 terms).

    Why this shape at 10^10 docs: a posting-level form decodes EVERY
    chunk of every term and shuffles sum(df_i) exploded rows into a
    k-way did join.  Here the chunk join ships df/span ENCODED chunk
    rows (~0.7 B/posting EF vs 4 B/posting exploded), each inner join
    prunes ALL sides toward the co-occupied ids (<= min(df_i)/span
    k-tuples — the RAREST term bounds the decode work, the df-ordered-
    probe refinement for free, symmetrically), and no posting row ever
    shuffles: the fold happens inside the lane that decoded it, bailing
    out of remaining decodes once a batch's running intersection is
    empty.  The k probe predicates still reach the stored index scan
    pushed (plan-tested).

    Serves from ANY stored index wire: every wire's first stream is the
    same EF did stream (see :func:`_did_stream`) — so one stored TF index
    answers both top-k AND and boolean AND without a second build
    (tools/submit_index_job.py --and).

    Returns the DISTRIBUTED common-doc rows (``did int``, deduped by
    construction — disjoint chunk did-ranges).  Driver-gate scalars:
    :func:`intersect_terms` (k=2) / :func:`intersect_terms_multi`."""
    return _did_rows(enc_index, _intersect_op(enc_index, terms), terms)


def _intersect_op(enc_index: DataFrame, terms: list[str]) -> _ServingOp:
    """The serving op of :func:`intersect_terms_rows`: its kernel yields
    each batch's common dids."""
    if not terms:
        raise ValueError("intersect_terms_rows needs at least one term")
    kind, dids, _ = _did_stream(enc_index, "intersect_terms_rows")
    k = len(terms)

    def kernel(batches):
        for batch in batches:
            common = None
            for i in range(k):
                (d, off), = decode_wire(kind, batch, [dids], f"_{i}")
                # ONE vectorized intersect across all lanes per side: tag
                # each did with its lane (dids are uint32, lanes disjoint
                # -> (lane << 32 | did) keys are unique per side, so
                # assume_unique holds for the whole fold)
                keys = lane_doc_keys(np.diff(off), d)
                common = keys if common is None else np.intersect1d(
                    common, keys, assume_unique=True)
                if not common.size:
                    break  # batch-wide empty: skip the remaining decodes
            yield (common & np.int64(0xFFFFFFFF)).astype(np.int32)

    return _ServingOp(kind, [dids], [f"_{i}" for i in range(k)], "and",
                      kernel)


def intersect_terms(enc_index: DataFrame, term_a: str,
                    term_b: str) -> DataFrame:
    """Gate-scalar AND serving: one row (term_a, term_b, n_common,
    fingerprint over ascending common ids) folded from the k=2
    :func:`intersect_terms_rows` — see :func:`_gate_scalar`."""
    terms = [term_a, term_b]
    return _gate_scalar(enc_index, _intersect_op(enc_index, terms), terms,
                        "n_common")


def intersect_terms_multi(enc_index: DataFrame,
                          terms: list[str]) -> DataFrame:
    """Gate-scalar k-way AND serving: one row (term_a, term_b, term_c,
    ..., n_common, fingerprint) folded from
    :func:`intersect_terms_rows`."""
    return _gate_scalar(enc_index, _intersect_op(enc_index, terms), terms,
                        "n_common")
