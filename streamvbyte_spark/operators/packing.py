"""Encoded-wire materialized pack writer.

``queries.pack_sequences`` (the SQL form) ships raw token ids over BOTH of
its heavy shuffle legs — the prefix-sum window and the (source, pack_id)
reassembly — 2 × 4 B/token, 80 TB at N = 10^13 tokens (SCALE.md).  This
operator is the byte-budgeted variant: every shuffled row carries ENCODED
bytes — per-row auto-codec argmin by default (documents corpus: 2.30
B/token auto vs 2.76 svb-only; the bench synthetic mix measures 1.49
auto), each row carrying its codec id for the downstream decode dispatch —
so both legs together move a ~2.5x smaller wire.  Identical results by
construction, and proven: the registry entry shares `pack_sequences`'
DuckDB oracle (the single-window raw-token rebuild), so the driver gate
checks this plan's output value-for-value against the SQL algorithm.

Pipeline (three mapInArrow stages, two token-bearing shuffles):

1. map-only whole-batch encode of each document
   (codec.batched.encode_rows, per-row auto argmin — the svb family uses
   the reference stream format, /root/reference/README.md:195-244);
2. the two-level distributed prefix sum as DataFrame ops — the level-1
   window's shuffle carries the ENCODED column and its output is
   MATERIALIZED (operators.staging.materialize); the per-bucket totals are
   then read back as max(cum_local) per (source, bucket) from that
   materialized output and broadcast — a separate totals branch over the
   source table would re-scan the whole text corpus just to count words
   (see the inline rationale in pack_tokens_encoded);
3. map-only decode -> cut each doc into its per-pack segments (a
   partition of the doc's token range, so the segment offsets are just
   cut points into the decoded flat vector) -> re-encode each segment;
4. repartition on (source, pack_id) + in-partition sort, then one
   segmented mapInArrow decode+concat+fingerprint per pack run; the stage
   reads its batches through ``arrow_rows.complete_runs`` keyed on
   (source, pack_id), which carries a pack run across Arrow batch
   boundaries.

A pack is <= cap tokens, so per-run state is tiny and the 2 GiB Arrow
flush concerns of whole-document reassembly don't apply.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import session
from ..arrow_rows import (binary_array, complete_runs, decode_slices,
                          kernel_schema, list_array, list_flat)
from ..codec import batched
from ..session import fanout_width
from .encode import check_checksums, decode_rows_at, encoded_rows
from .staging import materialize

# doc_id-range bucket width shared with the SQL pack queries
from ..functions.pipeline_sql import PACK_BUCKET_WIDTH, PACK_CAP

_SEG_SCHEMA = ("source string, pack_id long, seg_st long, n_seg int, "
               "codec int, encoded binary")


def default_numeric_order(df: DataFrame) -> tuple[Column, Column]:
    """(order key, bucket) for numeric doc_ids — the SAME loud-failure key
    policy as the SQL pack queries (pipeline_sql.monotone_numeric_key_sql:
    a NULL key would silently misplace the doc)."""
    from ..functions.pipeline_sql import monotone_numeric_key_sql
    key_sql = monotone_numeric_key_sql(
        "pack_tokens_encoded", "an explicit monotone (order, bucket)")
    # integer div, NOT `/`: Column `/` is double division, which silently
    # loses precision past 2^53 on large ids
    return F.expr(key_sql), F.expr(f"({key_sql}) div {PACK_BUCKET_WIDTH}")


def derived_string_order(df: DataFrame) -> tuple[Column, Column]:
    """(order key, bucket) for string doc_ids: lexicographic order with the
    LCP-derived prefix bucket — the SAME prefix-length policy as the SQL
    pack queries (pipeline_sql.lcp_prefix_len).  Costs one column-pruned
    min/max scan of doc_id."""
    from ..functions.pipeline_sql import lcp_prefix_len
    row = df.agg(F.min(F.col("doc_id").cast("string")).alias("lo"),
                 F.max(F.col("doc_id").cast("string")).alias("hi")).first()
    key = F.col("doc_id").cast("string")
    return key, F.substring(key, 1, lcp_prefix_len(row["lo"], row["hi"]))


def _encode_docs(tok: DataFrame, codec: str,
                 carry: tuple[str, ...] = ()) -> DataFrame:
    """Map-only whole-batch encode (the selector's pick per row under an
    auto mode);
    output keeps only what the window needs plus the per-row codec id the
    downstream decode dispatches on.  `carry` names extra input columns
    passed through untouched (the curated path carries md5(text) so its
    dedup rank window can run over the ENCODED rows)."""
    fields = {f.name: f for f in tok.schema if f.name in carry}
    missing = [c for c in carry if c not in fields]
    if missing:
        raise ValueError(f"carry columns not in input: {missing}")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            idx = {n: batch.schema.get_field_index(n)
                   for n in ("doc_id", "source", "tokens", "n_tok") + carry}
            flat, off = list_flat(batch.column(idx["tokens"]))
            flat = flat.astype(np.int32, copy=False).view(np.uint32)
            out, ooff, cids = batched.encode_rows(flat, off, codec=codec)
            yield pa.RecordBatch.from_arrays(
                [batch.column(idx["doc_id"]), batch.column(idx["source"]),
                 batch.column(idx["n_tok"]), pa.array(cids, pa.int32()),
                 binary_array(out, ooff)]
                + [batch.column(idx[c]) for c in carry],
                names=["doc_id", "source", "n_tok", "codec", "encoded"]
                + list(carry))

    return tok.mapInArrow(run, kernel_schema(
        "doc_id string, source string, n_tok int, codec int, encoded binary",
        [fields[c] for c in carry]))


def _slice_segments(cum: DataFrame, cap: int, codec: str) -> DataFrame:
    """Decode each doc (dispatching on its carried codec id), cut its pack
    segments (vectorized span math over the whole batch), re-encode every
    segment — map-only, no Python per row.  Segment offsets are cut points
    into the decoded flat vector because a doc's segments partition its
    token range."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            enc, eoff, n_toks, cids = encoded_rows(batch, "st")
            st = np.asarray(batch.column("st"), dtype=np.int64)
            flat, offs = decode_rows_at(batch, "st", batched.decode_rows,
                                        enc, eoff, n_toks, cids)
            en = st + n_toks - 1
            p0, p1 = st // cap, en // cap
            nsp = p1 - p0 + 1
            doc_of_seg = np.repeat(np.arange(nsp.size, dtype=np.int64), nsp)
            first = np.zeros(nsp.size, dtype=np.int64)
            np.cumsum(nsp[:-1], out=first[1:])
            seg_rank = np.arange(doc_of_seg.size, dtype=np.int64) \
                - np.repeat(first, nsp)
            pack_id = p0[doc_of_seg] + seg_rank
            seg_st = np.maximum(st[doc_of_seg], pack_id * cap)
            seg_en = np.minimum(en[doc_of_seg], (pack_id + 1) * cap - 1)
            n_seg = seg_en - seg_st + 1
            # cut points: each doc's first segment starts at its flat start;
            # consecutive segments abut, and the next doc's first segment
            # starts where this doc ends — so appending the global end
            # yields valid row offsets for the whole batch
            g0 = offs[doc_of_seg] + (seg_st - st[doc_of_seg])
            seg_offsets = np.concatenate([g0, [offs[-1]]])
            out, ooff, seg_cids = batched.encode_rows(flat, seg_offsets,
                                                      codec=codec)
            # Arrow-native gather: no per-segment Python str objects
            src = batch.column("source").take(pa.array(doc_of_seg))
            yield pa.RecordBatch.from_arrays(
                [src,
                 pa.array(pack_id, pa.int64()),
                 pa.array(seg_st, pa.int64()),
                 pa.array(n_seg.astype(np.int32), pa.int32()),
                 pa.array(seg_cids, pa.int32()),
                 binary_array(out, ooff)],
                names=["source", "pack_id", "seg_st", "n_seg", "codec",
                       "encoded"])

    return cum.mapInArrow(run, kernel_schema(_SEG_SCHEMA))


def pack_tokens_encoded(tok: DataFrame, cap: int = PACK_CAP,
                        order_bucket: tuple[Column, Column] | None = None,
                        codec: str = "auto",
                        emit: str = "fingerprint") -> DataFrame:
    """tok (doc_id, tokens, n_tok, source) -> (source, pack_id, n_tok,
    fingerprint) with both token-bearing shuffles carrying ENCODED bytes.

    emit='encoded' turns the writer into a SINK-shaped pipeline: instead of
    fingerprinting, each assembled pack is re-encoded as ONE stream and the
    output carries (source, pack_id, n_tok, codec, checksum, encoded) — the
    storage row a dataloader-serving pack table persists (write it with
    ``df.write.parquet``; read + decode + verify via ``decode_packs``).

    order_bucket: (order key, monotone bucket) columns over doc_id —
    default `default_numeric_order`; pass `derived_string_order(tok)` for
    string-id corpora.  Both heavy exchanges — the level-1 window's (via
    an explicit pre-repartition whose partitioning the window reuses) and
    the reassembly's — are numbered with session.fanout_width: AQE's
    byte-based coalescing collapses CPU-heavy-but-byte-small ENCODED
    stages to one task (verified at 600k tokens -> 1 partition).

    codec: the wire format of both shuffle legs, a stored codec or an
    auto mode (batched.AUTO_MODES) — default 'auto', the 7-codec selector
    encode_table uses (the documents corpus measures 2.30 B/token auto vs
    2.76 svb-only — a further 17% off the wire), each row carrying its
    codec id for the downstream decode dispatch.  An unknown name raises
    ValueError here, before any task runs."""
    batched.check_codec(codec)
    nz = tok.where(F.col("n_tok") > 0)
    enc = _encode_docs(nz, codec)
    return pack_encoded_rows(enc, cap=cap,
                             order_bucket=order_bucket or
                             default_numeric_order(tok),
                             codec=codec, emit=emit)


def pack_encoded_rows(enc: DataFrame, cap: int = PACK_CAP,
                      order_bucket: tuple[Column, Column] | None = None,
                      codec: str = "auto",
                      emit: str = "fingerprint") -> DataFrame:
    """The pack machinery over ALREADY-ENCODED rows (doc_id, source, n_tok,
    codec, encoded) — `pack_tokens_encoded` minus the map-side encode.
    Entry point for pipelines that gate/filter encoded rows upstream (the
    curated composite runs its md5 dedup rank window + contamination
    anti-join over encoded rows, then packs the winners here — no raw-token
    shuffle anywhere in the composite).  codec as in pack_tokens_encoded."""
    batched.check_codec(codec)
    if emit not in ("fingerprint", "encoded"):
        # a typo'd mode would silently fall back to fingerprint output and
        # only fail much later (decode_packs missing codec/checksum cols)
        raise ValueError(
            f"emit must be 'fingerprint' or 'encoded', got {emit!r}")
    okey, bkt = order_bucket or default_numeric_order(enc)
    width = fanout_width(enc.sparkSession)
    enc = (enc.where(F.col("n_tok") > 0)
           .withColumn("okey", okey).withColumn("bkt", bkt)
           # explicit numbered repartition on the window's keys: the window
           # reuses this partitioning (no second exchange) and a
           # user-numbered exchange is exempt from AQE coalescing
           .repartition(width, "source", "bkt"))
    w1 = (Window.partitionBy("source", "bkt").orderBy("okey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # project BEFORE the checkpoint: doc_id and okey are dead after
    # the window ordering — dropping them shrinks the materialized blocks
    # (okey is a per-row string for string-id corpora)
    lvl = (enc.withColumn("cum_local",
                          F.sum(F.col("n_tok").cast("long")).over(w1))
           .select("source", "bkt", "n_tok", "codec", "encoded",
                   "cum_local"))
    # bucket totals = max(cum_local) per bucket, read from the MATERIALIZED
    # level-1 output.  Two alternatives both re-execute corpus-sized work:
    # a separate totals branch over the source table re-SCANS the whole
    # text corpus just to count words (split() reads the text column — not
    # a narrow scan at 100 TB), and reading `lvl` twice without
    # materializing re-runs scan+tokenize+encode+window per consumer (the
    # two branches column-prune differently, so not even AQE stage reuse
    # fires — verified: zero ReusedQueryStage).  materialize() is the
    # repo-wide policy for exactly this shape (SPARK_STAGES rationale):
    # scan+encode+window execute ONCE (~1.5 B/token stored;
    # spark.svb.stageCheckpointDir makes it durable on a real cluster),
    # plan-tested as ZERO parquet scans in the final query plan
    lvlm = materialize(lvl)
    tot = (lvlm.groupBy("source", "bkt")
           .agg(F.max("cum_local").alias("btot")))
    w2 = (Window.partitionBy("source").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offs = tot.withColumn(
        "boff", (F.sum("btot").over(w2) - F.col("btot")).cast("long")
    ).select("source", "bkt", "boff")
    cum = (lvlm.join(F.broadcast(offs), ["source", "bkt"])
           .withColumn("st", F.col("cum_local") + F.col("boff")
                       - F.col("n_tok").cast("long"))
           .select("source", "st", "n_tok", "codec", "encoded"))
    segs = _slice_segments(cum, cap, codec)
    part = (segs.repartition(width, "source", "pack_id")
            .sortWithinPartitions("source", "pack_id", "seg_st"))

    def asm(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in complete_runs(batches, ("source", "pack_id")):
            src = batch.column("source").to_numpy(zero_copy_only=False)
            pid = np.asarray(batch.column("pack_id"), dtype=np.int64)
            enc, eoff, nseg, cids = encoded_rows(batch, "pack_id",
                                                 count="n_seg")
            flat, offs = decode_rows_at(batch, "pack_id", batched.decode_rows,
                                        enc, eoff, nseg, cids)
            brk = (src[1:] != src[:-1]) | (pid[1:] != pid[:-1])
            starts = np.concatenate(([0], np.flatnonzero(brk) + 1))
            run_off = offs[np.concatenate((starts, [nseg.size]))]
            n_tok = (run_off[1:] - run_off[:-1]).astype(np.int32)
            # pack_id stays int64 end-to-end: with PACK_CAP tokens per pack
            # an int32 id wraps silently past ~5.5e11 tokens per source —
            # inside the N=1e13 design envelope this writer is priced for
            # (SCALE.md), and neither numpy astype nor a non-ANSI Spark cast
            # would fail on the wrap
            head = [pa.array(src[starts], pa.string()),
                    pa.array(pid[starts], pa.int64()),
                    pa.array(n_tok, pa.int32())]
            if emit == "encoded":
                # sink shape: re-encode the assembled pack as ONE stream
                # (auto argmin again — pack streams are PACK_CAP tokens, a
                # different cost regime than per-doc streams) + exact
                # token-sum checksum for read-side verification
                out, ooff, pack_cids = batched.encode_rows(flat, run_off,
                                                           codec=codec)
                cksum = batched._seg_sum(flat, run_off)
                yield pa.RecordBatch.from_arrays(
                    head + [pa.array(pack_cids, pa.int32()),
                            pa.array(cksum, pa.int64()),
                            binary_array(out, ooff)],
                    names=["source", "pack_id", "n_tok", "codec",
                           "checksum", "encoded"])
                continue
            fp = batched.fingerprint_rows(flat.view(np.int32), run_off)
            yield pa.RecordBatch.from_arrays(
                head + [pa.array(fp, pa.int64())],
                names=["source", "pack_id", "n_tok", "fingerprint"])

    return part.mapInArrow(asm, kernel_schema(
        "source string, pack_id long, n_tok int, codec int, checksum long, "
        "encoded binary" if emit == "encoded" else
        "source string, pack_id long, n_tok int, fingerprint bigint"))


def decode_packs(packs: DataFrame, verify_checksum: bool = True,
                 fingerprint: bool = True) -> DataFrame:
    """Read side of the pack sink: decode each stored pack stream
    (dispatching on its codec id), verify the exact token-sum checksum,
    and emit (source, pack_id, n_tok, fingerprint) — or the token arrays
    themselves with fingerprint=False (the dataloader shape).  A NULL
    stream, a NULL or unknown codec id (encode.encoded_rows), a stream
    whose length contradicts its count (encode.decode_rows_at) and a
    checksum mismatch raise ValueError naming the pack_id.  A batch
    decodes in slices of at most session.ARROW_BATCH_BYTES of tokens
    (arrow_rows.decode_slices)."""
    limit = session.ARROW_BATCH_BYTES

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in decode_slices(batches, limit):
            if batch.num_rows == 0:
                continue
            flat, offs = decode_rows_at(batch, "pack_id", batched.decode_rows,
                                        *encoded_rows(batch, "pack_id"))
            if verify_checksum:
                check_checksums(batch, "pack_id", flat, offs)
            head = [batch.column(c) for c in ("source", "pack_id", "n_tok")]
            if fingerprint:
                fp = batched.fingerprint_rows(flat.view(np.int32), offs)
                yield pa.RecordBatch.from_arrays(
                    head + [pa.array(fp, pa.int64())],
                    names=["source", "pack_id", "n_tok", "fingerprint"])
                continue
            yield pa.RecordBatch.from_arrays(
                head + [list_array(flat.view(np.int32), offs)],
                names=["source", "pack_id", "n_tok", "tokens"])

    return packs.mapInArrow(run, kernel_schema(
        "source string, pack_id long, n_tok int, fingerprint bigint"
        if fingerprint else
        "source string, pack_id long, n_tok int, tokens array<int>"))
