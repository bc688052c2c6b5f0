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

Serving (``intersect_terms``): filter the encoded chunk table to the probed
terms (a pushable predicate on the stored index — at scale this prunes to
~df/span rows read per term), decode those chunks, and equi-join the two
exploded posting streams on doc id.  The df-ordered probe (decode the RARER
term first, semi-join the denser one) is the classic refinement; the
equi-join form here already never materializes either full list as one cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.pipeline_sql import fanout_scan
from .chunking import encode_chunked_delta

# chunk span in doc-id space: bounds every chunk row to <= span postings.
# Gate scale (500-5000 docs) uses a small span so multi-chunk terms exist;
# at 10^10 docs pick ~2^17 so chunk rows stay ~0.5 MB on the EF wire.
INDEX_CHUNK_SPAN = 128

# a probe term must hit at least this many documents to be selected by the
# deterministic query-term rule (the two lexicographically smallest terms
# with df >= INDEX_MIN_DF)
INDEX_MIN_DF = 5


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
    docs = fanout_scan(docs)
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
    docs = fanout_scan(docs)
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


TF_ENC_SCHEMA = ("doc_id string, chunk_id int, n_doc int, "
                 "enc_dids binary, enc_tfs binary, out_bytes bigint")


def runlength_dids(flat, offsets):
    """Run-length the per-row SORTED duplicated did streams into
    (dids, tfs, doff): distinct dids per row, each did's occurrence count,
    and int64 row offsets into the distinct streams.  Shared by the TF and
    positional batch builds (the TF STREAMING merge counts per-key instead,
    via its (did, pos) pair dedup — one chunk per group, no offsets)."""
    import numpy as np
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

    def run(batches):
        import numpy as np
        import pyarrow as pa
        from ..codec import batched
        from .encode import _binary_array, _list_to_flat
        for batch in batches:
            flat, offsets = _list_to_flat(
                batch.column(batch.schema.get_field_index("raw")))
            flat = np.ascontiguousarray(flat, dtype=np.uint32)
            # run-length the sorted duplicated dids: starts mark distinct
            # (row, did) pairs; run length = that doc's tf for the term
            dids, tfs, doff = runlength_dids(flat, offsets)
            enc_d, eoff_d = batched.ef_encode_rows(dids, doff)
            enc_t, eoff_t = batched.encode_rows(tfs, doff, "svb")[:2]
            n_doc = (doff[1:] - doff[:-1]).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index("doc_id")),
                 batch.column(batch.schema.get_field_index("chunk_id")),
                 pa.array(n_doc, pa.int32()),
                 _binary_array(enc_d, eoff_d),
                 _binary_array(enc_t, eoff_t),
                 pa.array((eoff_d[1:] - eoff_d[:-1])
                          + (eoff_t[1:] - eoff_t[:-1]), pa.int64())],
                names=["doc_id", "chunk_id", "n_doc", "enc_dids",
                       "enc_tfs", "out_bytes"])

    return chunks.mapInArrow(run, TF_ENC_SCHEMA)


POS_ENC_SCHEMA = ("doc_id string, chunk_id int, n_doc int, n_pos int, "
                  "enc_dids binary, enc_tfs binary, enc_pos binary, "
                  "out_bytes bigint")


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

    def run(batches):
        import numpy as np
        import pyarrow as pa
        from ..codec import batched
        from .encode import _binary_array, _list_to_flat
        for batch in batches:
            flat, offsets = _list_to_flat(
                batch.column(batch.schema.get_field_index("dids_raw")))
            flat = np.ascontiguousarray(flat, dtype=np.uint32)
            poss, _poff = _list_to_flat(
                batch.column(batch.schema.get_field_index("poss")))
            poss = np.ascontiguousarray(poss, dtype=np.uint32)
            dids, tfs, doff = runlength_dids(flat, offsets)
            enc_d, eoff_d = batched.ef_encode_rows(dids, doff)
            enc_t, eoff_t = batched.encode_rows(tfs, doff, "svb")[:2]
            enc_p, eoff_p = batched.encode_rows(poss, offsets, "svb")[:2]
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index("doc_id")),
                 batch.column(batch.schema.get_field_index("chunk_id")),
                 pa.array((doff[1:] - doff[:-1]).astype(np.int32),
                          pa.int32()),
                 pa.array((offsets[1:] - offsets[:-1]).astype(np.int32),
                          pa.int32()),
                 _binary_array(enc_d, eoff_d),
                 _binary_array(enc_t, eoff_t),
                 _binary_array(enc_p, eoff_p),
                 pa.array((eoff_d[1:] - eoff_d[:-1])
                          + (eoff_t[1:] - eoff_t[:-1])
                          + (eoff_p[1:] - eoff_p[:-1]), pa.int64())],
                names=["doc_id", "chunk_id", "n_doc", "n_pos", "enc_dids",
                       "enc_tfs", "enc_pos", "out_bytes"])

    return chunks.mapInArrow(run, POS_ENC_SCHEMA)


def decode_index_pos(enc_index: DataFrame) -> DataFrame:
    """Positional chunks -> flat (term, did, pos) occurrence rows: the tf
    stream repeats each did over its positions, so the kernel emits the
    occurrence table directly — no nested arrays, no JVM re-explode."""

    def run(batches):
        import numpy as np
        import pyarrow as pa
        from ..codec import batched
        from .encode import _flat_binary
        for batch in batches:
            idx = {n: batch.schema.get_field_index(n)
                   for n in ("doc_id", "n_doc", "n_pos", "enc_dids",
                             "enc_tfs", "enc_pos")}
            n_doc = np.asarray(batch.column(idx["n_doc"]), dtype=np.int64)
            n_pos = np.asarray(batch.column(idx["n_pos"]), dtype=np.int64)
            enc_d, eoff_d = _flat_binary(batch.column(idx["enc_dids"]))
            enc_t, eoff_t = _flat_binary(batch.column(idx["enc_tfs"]))
            enc_p, eoff_p = _flat_binary(batch.column(idx["enc_pos"]))
            svb = np.full(n_doc.size, batched.CODEC_ID["svb"], np.int32)
            dids, _ = batched.ef_decode_rows(enc_d, eoff_d, n_doc)
            tfs, _ = batched.decode_rows(enc_t, eoff_t, n_doc, svb)
            poss, _ = batched.decode_rows(enc_p, eoff_p, n_pos, svb)
            terms = batch.column(idx["doc_id"]).to_numpy(
                zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(terms, n_pos), pa.string()),
                 pa.array(np.repeat(dids.view(np.int32),
                                    tfs.astype(np.int64)), pa.int32()),
                 pa.array(poss.view(np.int32), pa.int32())],
                names=["term", "did", "pos"])

    return enc_index.mapInArrow(run, "term string, did int, pos int")


def phrase_match_rows(enc_index: DataFrame, term_a: str,
                      term_b: str) -> DataFrame:
    """Serve the PHRASE query ``"term_a term_b"`` (adjacent, in order) from
    the positional wire, CO-GROUPED by chunk (r9, completing the serving
    family): an adjacent pair lives in ONE doc, hence one chunk_id on both
    wires — equi-join the two terms' ENCODED chunk rows on chunk_id and
    run the whole phrase match inside the one decode kernel: intersect the
    did lists in-lane, keep only common docs' occurrences, and probe
    ``pos_a + 1`` against ``pos_b`` per doc.  No occurrence row ever
    shuffles (the earlier form decoded co-occupied chunks to (did, pos)
    rows and shuffled them into an adjacency equi-join — span x tf rows
    per stopword chunk); the join ships ~df/span encoded chunk rows and
    the kernel emits only MATCHED dids.

    Returns the DISTRIBUTED matched-doc rows (``did int``, deduped by
    construction — a did lives in one chunk pair) — the scale consumer's
    form (r10; previously the single-row fold was the return and scale
    consumers had to reach into the kernel output).  The driver-gate
    scalar is :func:`phrase_match_terms`."""
    a = enc_index.where(F.col("doc_id") == term_a).select(
        "chunk_id", F.col("n_doc").alias("nd_a"),
        F.col("n_pos").alias("np_a"), F.col("enc_dids").alias("ed_a"),
        F.col("enc_tfs").alias("et_a"), F.col("enc_pos").alias("ep_a"))
    b = enc_index.where(F.col("doc_id") == term_b).select(
        "chunk_id", F.col("n_doc").alias("nd_b"),
        F.col("n_pos").alias("np_b"), F.col("enc_dids").alias("ed_b"),
        F.col("enc_tfs").alias("et_b"), F.col("enc_pos").alias("ep_b"))
    pairs = a.join(b, "chunk_id")

    def run(batches):
        import numpy as np
        import pyarrow as pa
        from ..codec import batched
        from .encode import _flat_binary

        def side(batch, idx, nd_c, np_c, ed_c, et_c, ep_c):
            nd = np.asarray(batch.column(idx[nd_c]), dtype=np.int64)
            npos = np.asarray(batch.column(idx[np_c]), dtype=np.int64)
            ed, eod = _flat_binary(batch.column(idx[ed_c]))
            et, eot = _flat_binary(batch.column(idx[et_c]))
            ep, eop = _flat_binary(batch.column(idx[ep_c]))
            # per-lane codec ids: n_pos and n_doc are both one-per-lane
            # columns of this batch, so the one svb array serves both
            svb = np.full(nd.size, batched.CODEC_ID["svb"], np.int32)
            dids, _ = batched.ef_decode_rows(ed, eod, nd)
            tfs, _ = batched.decode_rows(et, eot, nd, svb)
            pos, _ = batched.decode_rows(ep, eop, npos, svb)
            kd = lane_doc_keys(nd, dids)
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

        names = ("nd_a", "np_a", "ed_a", "et_a", "ep_a",
                 "nd_b", "np_b", "ed_b", "et_b", "ep_b")
        for batch in batches:
            idx = {n: batch.schema.get_field_index(n) for n in names}
            kd_a, kocc_a, pos_a = side(batch, idx, *names[:5])
            kd_b, kocc_b, pos_b = side(batch, idx, *names[5:])
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
            yield pa.RecordBatch.from_arrays(
                [pa.array((common[ranks] &
                           np.int64(0xFFFFFFFF)).astype(np.int32),
                          pa.int32())],
                names=["did"])

    return pairs.mapInArrow(run, "did int")


def phrase_match_terms(enc_index: DataFrame, term_a: str,
                       term_b: str) -> DataFrame:
    """Gate-scalar phrase serving: one row (term_a, term_b, n_docs,
    fingerprint over ascending matched ids) folded from
    :func:`phrase_match_rows` — see :func:`_gate_scalar` for why the fold
    exists and why scale consumers must take the rows form."""
    return _gate_scalar(phrase_match_rows(enc_index, term_a, term_b),
                        [term_a, term_b], "n_docs")


def decode_index_tf(enc_index: DataFrame) -> DataFrame:
    """TF chunks -> (term, did, tf) posting rows (EF dids + svb tfs decoded
    whole-batch, exploded JVM-side via arrays_zip/inline)."""

    def run(batches):
        import numpy as np
        import pyarrow as pa
        from ..codec import batched
        from .encode import _flat_binary, _i32_offsets
        for batch in batches:
            n_doc = np.asarray(
                batch.column(batch.schema.get_field_index("n_doc")),
                dtype=np.int64)
            enc_d, eoff_d = _flat_binary(
                batch.column(batch.schema.get_field_index("enc_dids")))
            enc_t, eoff_t = _flat_binary(
                batch.column(batch.schema.get_field_index("enc_tfs")))
            dids, doff = batched.ef_decode_rows(enc_d, eoff_d, n_doc)
            tfs, _ = batched.decode_rows(
                enc_t, eoff_t, n_doc,
                np.full(n_doc.size, batched.CODEC_ID["svb"], np.int32))
            o32 = pa.array(_i32_offsets(doff), pa.int32())
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index("doc_id")),
                 pa.ListArray.from_arrays(o32, pa.array(dids.view(np.int32),
                                                        pa.int32())),
                 pa.ListArray.from_arrays(o32, pa.array(tfs.view(np.int32),
                                                        pa.int32()))],
                names=["term", "dids", "tfs"])

    lists = enc_index.mapInArrow(
        run, "term string, dids array<int>, tfs array<int>")
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
    import numpy as np
    lane = np.repeat(np.arange(counts.size, dtype=np.int64), counts)
    return (lane << np.int64(32)) | dids.astype(np.int64)


def _did_wire_cols(enc_index: DataFrame) -> tuple[str, str]:
    """(count column, EF-did-stream column) of whichever index wire this
    chunk table carries: set (n_tok, encoded) or TF/positional (n_doc,
    enc_dids — dids are EF on every wire, and n_doc is the distinct-doc
    count).  Lets the did-only serving ops (boolean AND/OR) read a stored
    TF or positional index directly instead of demanding a second
    set-wire build.  A ``term`` column is accepted for ``doc_id`` by the
    callers' filters, so only the payload columns are probed here."""
    cols = set(enc_index.columns)
    if {"n_tok", "encoded"} <= cols:
        return "n_tok", "encoded"
    if {"n_doc", "enc_dids"} <= cols:
        return "n_doc", "enc_dids"
    raise ValueError(
        f"not an index chunk table (columns {sorted(cols)}): expected "
        "the set wire (n_tok, encoded) or the tf/pos wire (n_doc, "
        "enc_dids)")


def _gate_scalar(rows: DataFrame, terms: list[str],
                 count_name: str) -> DataFrame:
    """Fold a distributed ``did int`` result (deduped by construction —
    disjoint chunk did-ranges) into the ONE-ROW driver-gate scalar:
    (term_a[, term_b, ...], <count_name>, fingerprint over ascending ids).

    This fold exists ONLY because the driver's pandas canonicalizer
    rejects array-typed result columns; it concentrates the full
    result-id list on one task (SCALE.md's 10x OR run is fold-dominated),
    so it is the GATE wrapper, not the operator — scale consumers take
    the rows-returning serving functions directly (r9 verdict item 3 /
    r10 item 5: the distributed rows are now the public return)."""
    from ..queries import spark_fingerprint
    if len(terms) > 26:
        # term_{chr(97+i)} runs out of alphabet past 26 terms and would
        # silently emit garbage column names (term_{, term_|, ...) — the
        # gate wrapper is for small probe lists; scale consumers take the
        # rows-returning serving functions (r10 advice item 1)
        raise ValueError(
            f"_gate_scalar supports at most 26 probe terms, got "
            f"{len(terms)}")
    names = [f"term_{chr(97 + i)}" for i in range(len(terms))]
    return (rows.groupBy()
            .agg(F.sort_array(F.collect_list("did")).alias("ids"))
            .select(*[F.lit(t).alias(n) for n, t in zip(names, terms)],
                    F.size("ids").alias(count_name),
                    F.expr(spark_fingerprint("ids")).alias("fingerprint")))


def topk_and_terms(enc_index: DataFrame, term_a: str, term_b: str,
                   k: int = 10) -> DataFrame:
    """Integer-relevance top-k for ``term_a AND term_b`` served from the
    TF index wire, CO-GROUPED by chunk (built r9 as the parity-pinned
    twin, wired as THE implementation r10 — the old decode-everything +
    exploded-posting-join body is retired; the inline reference in
    tests/test_spark_engine.py pins parity adversarially).

    Same shape as :func:`intersect_terms_rows`: the two terms' ENCODED
    chunk rows equi-join on chunk_id (AND semantics — co-occupied chunks
    only, <= min(df_a, df_b)/span pairs), ONE kernel decodes each pair
    (EF dids + svb tfs), intersects in-lane, and scores in-lane (score =
    tf_a + tf_b, exact integers).  The kernel pre-limits each Arrow batch
    to its local top-k under the global order (score desc, did asc) —
    valid because every global top-k row is in its batch's local top-k —
    so at most k rows per batch reach the final TakeOrderedAndProject,
    where the old form shipped the full intersection ("compress and
    intersect sorted lists of integers", /root/reference/README.md:253)."""
    a = enc_index.where(F.col("doc_id") == term_a).select(
        "chunk_id", F.col("n_doc").alias("n_a"),
        F.col("enc_dids").alias("enc_da"), F.col("enc_tfs").alias("enc_ta"))
    b = enc_index.where(F.col("doc_id") == term_b).select(
        "chunk_id", F.col("n_doc").alias("n_b"),
        F.col("enc_dids").alias("enc_db"), F.col("enc_tfs").alias("enc_tb"))
    pairs = a.join(b, "chunk_id")

    def run(batches):
        import numpy as np
        import pyarrow as pa
        from ..codec import batched
        from .encode import _flat_binary
        svb = batched.CODEC_ID["svb"]
        for batch in batches:
            idx = {n: batch.schema.get_field_index(n)
                   for n in ("n_a", "enc_da", "enc_ta",
                             "n_b", "enc_db", "enc_tb")}
            n_a = np.asarray(batch.column(idx["n_a"]), dtype=np.int64)
            n_b = np.asarray(batch.column(idx["n_b"]), dtype=np.int64)
            eda, eoda = _flat_binary(batch.column(idx["enc_da"]))
            edb, eodb = _flat_binary(batch.column(idx["enc_db"]))
            eta, eota = _flat_binary(batch.column(idx["enc_ta"]))
            etb, eotb = _flat_binary(batch.column(idx["enc_tb"]))
            da, _ = batched.ef_decode_rows(eda, eoda, n_a)
            db, _ = batched.ef_decode_rows(edb, eodb, n_b)
            ta, _ = batched.decode_rows(
                eta, eota, n_a, np.full(n_a.size, svb, np.int32))
            tb, _ = batched.decode_rows(
                etb, eotb, n_b, np.full(n_b.size, svb, np.int32))
            ka = lane_doc_keys(n_a, da)
            kb = lane_doc_keys(n_b, db)
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

    scored = pairs.mapInArrow(
        run, "did int, tf_a int, tf_b int, score int")
    return (scored.orderBy(F.col("score").desc(), F.col("did").asc())
            .limit(k))


def union_terms_rows(enc_index: DataFrame, term_a: str,
                     term_b: str) -> DataFrame:
    """Serve ``term_a OR term_b`` from the encoded set index, CO-GROUPED
    by chunk (r9, the OR twin of intersect_terms' shape): FULL OUTER join
    the two terms' ENCODED chunk rows on chunk_id and union the two
    sorted lists in-lane inside the one decode kernel.  Chunk did-ranges
    are disjoint (did div span), so the in-lane dedup IS the global
    dedup — the exploded-did ``distinct`` shuffle of the naive form
    (df_a + df_b posting rows) disappears; the join ships df/span encoded
    chunk rows.  Returns the DISTRIBUTED union rows (``did int``, deduped
    by construction) — the scale consumer's form (r10); the driver-gate
    scalar is :func:`union_terms`.  Serves from any wire carrying an EF
    did stream (see :func:`_did_wire_cols`)."""
    n_col, e_col = _did_wire_cols(enc_index)
    empty = F.lit(b"")
    a = enc_index.where(F.col("doc_id") == term_a).select(
        "chunk_id", F.col(n_col).alias("n_a"),
        F.col(e_col).alias("enc_a"))
    b = enc_index.where(F.col("doc_id") == term_b).select(
        "chunk_id", F.col(n_col).alias("n_b"),
        F.col(e_col).alias("enc_b"))
    pairs = (a.join(b, "chunk_id", "full_outer")
             .select(F.coalesce("n_a", F.lit(0)).alias("n_a"),
                     F.coalesce("enc_a", empty).alias("enc_a"),
                     F.coalesce("n_b", F.lit(0)).alias("n_b"),
                     F.coalesce("enc_b", empty).alias("enc_b")))

    def run(batches):
        import numpy as np
        import pyarrow as pa
        from ..codec import batched
        from .encode import _flat_binary
        for batch in batches:
            idx = {n: batch.schema.get_field_index(n)
                   for n in ("n_a", "enc_a", "n_b", "enc_b")}
            n_a = np.asarray(batch.column(idx["n_a"]), dtype=np.int64)
            n_b = np.asarray(batch.column(idx["n_b"]), dtype=np.int64)
            ea, eoa = _flat_binary(batch.column(idx["enc_a"]))
            eb, eob = _flat_binary(batch.column(idx["enc_b"]))
            da, _ = batched.ef_decode_rows(ea, eoa, n_a)
            db, _ = batched.ef_decode_rows(eb, eob, n_b)
            ka = lane_doc_keys(n_a, da)
            kb = lane_doc_keys(n_b, db)
            # in-lane union; lanes own disjoint did ranges, so this is
            # globally deduped output already
            u = np.union1d(ka, kb)
            yield pa.RecordBatch.from_arrays(
                [pa.array((u & np.int64(0xFFFFFFFF)).astype(np.int32),
                          pa.int32())],
                names=["did"])

    return pairs.mapInArrow(run, "did int")


def union_terms(enc_index: DataFrame, term_a: str,
                term_b: str) -> DataFrame:
    """Gate-scalar OR serving: one row (term_a, term_b, n_docs,
    fingerprint over ascending union ids) folded from
    :func:`union_terms_rows` — see :func:`_gate_scalar`."""
    return _gate_scalar(union_terms_rows(enc_index, term_a, term_b),
                        [term_a, term_b], "n_docs")


# the three index wires merge_index_updates understands.  Per wire: the
# strictly-content-monotone count column that orders generations (newest =
# largest; immutable docs + unique ids mean a chunk's content is the did
# SET, so any content change inserts a fresh did and every count below
# strictly grows — ties are byte-identical rows and pick either), the
# required payload columns, and the merged output column ORDER.
_INDEX_WIRES = {
    # set wire (CHUNKED_ENC_SCHEMA): tok_start/prev/out_bytes re-derived
    "set": ("n_tok", {"n_tok", "encoded"},
            ["doc_id", "chunk_id", "n_tok", "prev", "encoded",
             "out_bytes"]),
    "tf": ("n_doc", {"n_doc", "enc_dids", "enc_tfs"},
           ["doc_id", "chunk_id", "n_doc", "enc_dids", "enc_tfs",
            "out_bytes"]),
    "pos": ("n_pos", {"n_doc", "n_pos", "enc_dids", "enc_tfs", "enc_pos"},
            ["doc_id", "chunk_id", "n_doc", "n_pos", "enc_dids",
             "enc_tfs", "enc_pos", "out_bytes"]),
}


def _index_wire(df: DataFrame, what: str) -> str:
    """Classify an index chunk table as one of _INDEX_WIRES and VALIDATE
    it: schema-marker columns must name exactly one wire and that wire's
    full payload must be present.  Column presence alone used to pick the
    branch, so a positional table (n_doc + n_pos/enc_pos) silently flowed
    through the TF merge and the output DROPPED enc_pos — losing the
    positional stream without error (r8 advice item 1)."""
    cols = set(df.columns)
    marks = {"set": bool(cols & {"n_tok", "encoded"}),
             "pos": bool(cols & {"n_pos", "enc_pos"}),
             "tf": bool(cols & {"enc_dids", "enc_tfs"})}
    if marks["pos"]:          # pos carries the tf payload too
        marks["tf"] = False
    kinds = [k for k, m in marks.items() if m]
    if len(kinds) != 1:
        raise ValueError(
            f"merge_index_updates: {what} columns {sorted(cols)} do not "
            f"identify exactly one index wire (matched {kinds or 'none'}); "
            "expected one of set(n_tok, encoded) / tf(n_doc, enc_dids, "
            "enc_tfs) / pos(n_doc, n_pos, enc_dids, enc_tfs, enc_pos)")
    kind = kinds[0]
    missing = _INDEX_WIRES[kind][1] - cols
    if missing:
        raise ValueError(
            f"merge_index_updates: {what} looks like the {kind} wire but "
            f"is missing {sorted(missing)}")
    return kind


def merge_index_updates(stored: DataFrame, updates: DataFrame) -> DataFrame:
    """Fold a drained stream of index-update generations into the stored
    chunk table: per (term, chunk_id) the generation with the LARGEST
    content count wins — chunk content only ever GROWS under the streaming
    merges, so the max-count row is the latest — and stored chunks no
    update touched pass through.  Handles all three wires (validated, same
    wire on both sides): set (CHUNKED_ENC_SCHEMA out, tok_start re-derived
    by the same chunk-aggregate window the batch build uses), tf
    (TF_ENC_SCHEMA) and positional (POS_ENC_SCHEMA).

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
    kind = _index_wire(up, "updates")
    kind_st = _index_wire(st, "stored")
    if kind_st != kind:
        raise ValueError(
            f"merge_index_updates: stored is the {kind_st} wire but "
            f"updates is the {kind} wire — generations replace chunks "
            "byte-level, so both sides must carry the same wire")
    cnt, _need, cols = _INDEX_WIRES[kind]
    if kind == "set":
        up = (up.withColumn("prev", F.lit(0).cast("long"))
              .withColumn("out_bytes", F.length("encoded").cast("long")))
    elif "out_bytes" not in up.columns:
        payload = [F.length(c) for c in cols
                   if c.startswith("enc") and c != "encoded"]
        total = payload[0]
        for p in payload[1:]:
            total = total + p
        up = up.withColumn("out_bytes", total.cast("long"))
    allrows = st.select(*cols).unionByName(up.select(*cols))
    w = Window.partitionBy("doc_id", "chunk_id").orderBy(F.col(cnt).desc())
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
        .select("doc_id", "chunk_id", "tok_start", "n_tok", "prev",
                "encoded", "out_bytes")


def intersect_terms_rows(enc_index: DataFrame,
                         terms: list[str]) -> DataFrame:
    """Serve the K-WAY boolean AND ``terms[0] AND terms[1] AND ...`` from
    the ENCODED chunked index, CO-GROUPED by chunk (2-term r9, k-way
    r10): every wire chunks by ``did div span``, term-independently, so a
    common doc id can only live where ALL k terms occupy the same
    chunk_id — inner-equi-join the k terms' ENCODED chunk rows on
    chunk_id first, then one kernel decodes each co-occupied k-tuple and
    folds the sorted-list intersection in-lane over the shared
    ``lane_doc_keys`` invariant ("compress and intersect sorted lists of
    integers", /root/reference/README.md:253 — the named application of
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

    Serves from ANY stored index wire (r10): the set wire's per-chunk
    payload IS the EF did stream, and the TF/positional wires carry the
    same EF did stream as ``enc_dids`` (with ``n_doc`` the distinct-doc
    count) — so one stored TF index answers both top-k AND and boolean
    AND without a second build (tools/submit_index_job.py --and).

    Returns the DISTRIBUTED common-doc rows (``did int``, deduped by
    construction — disjoint chunk did-ranges).  Driver-gate scalars:
    :func:`intersect_terms` (k=2) / :func:`intersect_terms_multi`."""
    if not terms:
        raise ValueError("intersect_terms_rows needs at least one term")
    n_col, e_col = _did_wire_cols(enc_index)
    k = len(terms)
    joined = None
    for i, t in enumerate(terms):
        side = enc_index.where(F.col("doc_id") == t).select(
            "chunk_id", F.col(n_col).alias(f"n_{i}"),
            F.col(e_col).alias(f"enc_{i}"))
        joined = side if joined is None else joined.join(side, "chunk_id")

    def run(batches):
        import numpy as np
        import pyarrow as pa
        from ..codec import batched
        from .encode import _flat_binary
        for batch in batches:
            common = None
            for i in range(k):
                n = np.asarray(batch.column(
                    batch.schema.get_field_index(f"n_{i}")), dtype=np.int64)
                e, eo = _flat_binary(batch.column(
                    batch.schema.get_field_index(f"enc_{i}")))
                d, _ = batched.ef_decode_rows(e, eo, n)
                # ONE vectorized intersect across all lanes per side: tag
                # each did with its lane (dids are uint32, lanes disjoint
                # -> (lane << 32 | did) keys are unique per side, so
                # assume_unique holds for the whole fold)
                keys = lane_doc_keys(n, d)
                common = keys if common is None else np.intersect1d(
                    common, keys, assume_unique=True)
                if not common.size:
                    break  # batch-wide empty: skip the remaining decodes
            yield pa.RecordBatch.from_arrays(
                [pa.array((common & np.int64(0xFFFFFFFF)).astype(np.int32),
                          pa.int32())],
                names=["did"])

    return joined.mapInArrow(run, "did int")


def intersect_terms(enc_index: DataFrame, term_a: str,
                    term_b: str) -> DataFrame:
    """Gate-scalar AND serving: one row (term_a, term_b, n_common,
    fingerprint over ascending common ids) folded from the k=2
    :func:`intersect_terms_rows` — see :func:`_gate_scalar`."""
    return _gate_scalar(intersect_terms_rows(enc_index, [term_a, term_b]),
                        [term_a, term_b], "n_common")


def intersect_terms_multi(enc_index: DataFrame,
                          terms: list[str]) -> DataFrame:
    """Gate-scalar k-way AND serving: one row (term_a, term_b, term_c,
    ..., n_common, fingerprint) folded from
    :func:`intersect_terms_rows`."""
    return _gate_scalar(intersect_terms_rows(enc_index, terms),
                        terms, "n_common")
