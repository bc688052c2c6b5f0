"""Corpus-wide vocabulary remapping: frequency-ranked token ids.

Token ids assigned by a tokenizer are arbitrary; byte-oriented codecs pay
for their magnitude.  Remapping ids by corpus frequency (most frequent
token -> 0) makes the common ids 1-byte values, directly shrinking svb/
svb0124/dict outputs — the classic id-reassignment trick for columnar
token storage.

Two stages, both scale-shaped:

* ``build_vocab`` — one explode + count + rank: the heavy shuffle is the
  token-count aggregation (partial map-side combine); the global
  (count desc, token) rank is a TWO-LEVEL decomposition (see the function
  docstring), never a single-task window over the whole vocabulary.
* ``remap_tokens`` — the vocab is a (sorted token ids, new ids) pair of
  int arrays broadcast to every task; the lookup is one vectorized
  ``np.searchsorted`` per Arrow batch.  Vocabularies are tokenizer-sized
  (tens of thousands of entries), far under broadcast limits even at
  10^12 documents.

The remap is exactly invertible given the vocab table, and the driver
oracle reproduces the identical rank assignment relationally
(queries.py: vocab_remap_metrics).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..arrow_rows import kernel_schema, list_array, list_flat

# token-range bucket width for build_vocab's two-level rank (power of two so
# the bucket is an arithmetic shift): bounds every rank window partition at
# <= 2^16 rows regardless of how the count distribution skews
VOCAB_TOKEN_BUCKET_BITS = 16


def build_vocab(tok_df: DataFrame) -> DataFrame:
    """(token, new_id) with new_id = 0-based rank by (count desc, token).

    The rank is a global total order, but a plain ``row_number() over
    (order by cnt desc, token)`` sorts the ENTIRE vocabulary through one
    window task — the same single-task funnel the pack/quantile queries
    decompose away.  Decomposition (exact, same rank):

    rank(t) = #{cnt' > cnt} + #{cnt' = cnt, bucket' < bucket}
              + local_rank within (cnt, bucket)

    * level 1 ranks within ``(cnt, bucket)`` where bucket = token >> 16
      (arithmetic shift = floor division, monotone in token even for
      negative ids) — every partition holds <= 2^16 tokens BY CONSTRUCTION,
      however skewed the count distribution (the cnt=1 long tail spreads
      across token-range buckets);
    * the per-bucket counts collapse to one row per (cnt, bucket) and then
      one row per distinct cnt.  The only unpartitioned window runs over
      the distinct-count table, which is PROVABLY small: distinct counts
      are distinct positive integers summing to <= N total tokens, so there
      are at most sqrt(2N) of them (~4.5M rows of two ints at N = 10^13 —
      trivial for one task, and the window input is already aggregated);
    * the within-cnt bucket offsets window partitions by cnt and holds
      <= 2^16 = 65536 bucket rows per partition (the full int32 token
      domain spans 2^32 / 2^16 buckets, negative ids included);
    * both offset tables broadcast back onto the level-1 side.

    The ``vocab_remap_metrics`` oracle recomputes the identical rank
    relationally, so the driver gate proves the decomposition exact."""
    counts = (tok_df.select(F.explode("tokens").alias("token"))
              .groupBy("token").agg(F.count("*").alias("cnt")))
    b = counts.withColumn(
        "tbkt", F.shiftright(F.col("token").cast("long"),
                             VOCAB_TOKEN_BUCKET_BITS))
    w1 = Window.partitionBy("cnt", "tbkt").orderBy("token")
    lvl = b.withColumn("lr", F.row_number().over(w1).cast("long") - 1)
    bt = b.groupBy("cnt", "tbkt").agg(F.count("*").alias("m"))
    # within-cnt bucket prefix (partitions bounded at 65536 rows: the
    # int32 token domain / 2^VOCAB_TOKEN_BUCKET_BITS buckets per cnt)
    w3 = (Window.partitionBy("cnt").orderBy("tbkt")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    bt = bt.withColumn("boff", F.sum("m").over(w3) - F.col("m"))
    # distinct-count prefix: the one unpartitioned window, over <= sqrt(2N)
    # pre-aggregated rows
    ct = bt.groupBy("cnt").agg(F.sum("m").alias("mc"))
    w2 = (Window.orderBy(F.desc("cnt"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ct = ct.withColumn("coff", F.sum("mc").over(w2) - F.col("mc"))
    offs = (bt.join(F.broadcast(ct.select("cnt", "coff")), "cnt")
            .select("cnt", "tbkt",
                    (F.col("coff") + F.col("boff")).alias("off")))
    return (lvl.join(F.broadcast(offs), ["cnt", "tbkt"])
            .select("token",
                    (F.col("off") + F.col("lr")).cast("int").alias("new_id")))


MAX_BROADCAST_VOCAB = 1 << 22  # ~4M entries = ~50 MB broadcast; tokenizer
# vocabularies are 32k-256k, so this bound is generous — anything past it is
# an open/hashed id space that must NOT be collected to the driver


def remap_tokens(tok_df: DataFrame, vocab_df: DataFrame,
                 max_vocab: int = MAX_BROADCAST_VOCAB) -> DataFrame:
    """Rewrite every token array through the vocab (all tokens must be in
    the vocab — it was built from this corpus).

    The vocab is collected to the driver and broadcast — correct for
    tokenizer-sized vocabularies.  The collect is CAPPED at max_vocab + 1
    rows (limit() bounds driver memory even when the guard trips): an
    over-limit vocabulary fails loudly with a pointer to
    ``remap_tokens_join``, the shuffle-join path that never materializes the
    vocab on the driver."""
    rows = vocab_df.select("token", "new_id").limit(max_vocab + 1).collect()
    if len(rows) > max_vocab:
        raise ValueError(
            f"vocabulary exceeds max_vocab={max_vocab}: an open/hashed token "
            "id space cannot be broadcast-remapped; use remap_tokens_join "
            "(explode + shuffle join) instead")
    toks = np.array([r.token for r in rows], dtype=np.int64)
    ids = np.array([r.new_id for r in rows], dtype=np.int32)
    order = np.argsort(toks)
    sorted_toks, sorted_ids = toks[order], ids[order]
    spark = tok_df.sparkSession
    b_toks = spark.sparkContext.broadcast(sorted_toks)
    b_ids = spark.sparkContext.broadcast(sorted_ids)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        vt, vi = b_toks.value, b_ids.value
        for batch in batches:
            flat, offsets = list_flat(
                batch.column(batch.schema.get_field_index("tokens")))
            pos = np.searchsorted(vt, flat.astype(np.int64))
            if pos.size and (pos >= vt.size).any():
                raise ValueError("token outside the vocabulary")
            hit = vt[pos] == flat.astype(np.int64)
            if pos.size and not hit.all():
                raise ValueError("token outside the vocabulary")
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index("doc_id")),
                 list_array(vi[pos], offsets),
                 batch.column(batch.schema.get_field_index("n_tok")),
                 batch.column(batch.schema.get_field_index("source"))],
                names=["doc_id", "tokens", "n_tok", "source"])

    return tok_df.mapInArrow(run, kernel_schema(
        "doc_id string, tokens array<int>, n_tok int, source string"))


def remap_tokens_join(tok_df: DataFrame, vocab_df: DataFrame) -> DataFrame:
    """Shuffle-join remap for vocabularies too large to broadcast (open or
    hashed id spaces): posexplode tokens -> LEFT-join the vocab on token ->
    rebuild arrays ordered by position.  Two shuffles (join on token, re-agg
    on doc_id) instead of the broadcast path's zero — the correct trade when
    the vocab itself is data-scale.  A token with no vocab row keeps its
    position but a NULL new_id; the per-doc n_missing count turns any such
    doc into an in-query raise_error instead of a silent mis-remap."""
    exploded = tok_df.select(
        "doc_id", "n_tok", "source",
        F.posexplode_outer("tokens").alias("pos", "token"))
    joined = exploded.join(vocab_df.select("token", "new_id"), "token", "left")
    # collect_list skips nulls, so empty docs (pos null from the outer
    # explode) rebuild as []; a real token with no vocab row keeps its pos
    # but a null new_id and is counted by n_missing
    rebuilt = (joined.groupBy("doc_id", "n_tok", "source")
               .agg(F.array_sort(F.collect_list(
                        F.when(F.col("pos").isNotNull(),
                               F.struct("pos", "new_id"))))
                    .getField("new_id").alias("tokens"),
                    F.sum(F.when(F.col("pos").isNotNull()
                                 & F.col("new_id").isNull(), 1).otherwise(0))
                    .alias("n_missing")))
    return rebuilt.select(
        "doc_id",
        F.when(F.col("n_missing") == 0, F.col("tokens"))
        .otherwise(F.raise_error(F.concat(
            F.lit("remap_tokens_join: token(s) outside the vocabulary in doc "),
            F.col("doc_id")))).alias("tokens"),
        "n_tok", "source")
