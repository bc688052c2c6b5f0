"""Runnable walkthrough — the Spark-first analog of the reference's
examples/example.c (encode -> validate -> decode -> assert), plus the
table-level pipeline a user of the reference would migrate to.

Run: python examples/example.py
"""

import os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

# --- array level: the reference API on one array -----------------------------
from streamvbyte_spark import codecs
from streamvbyte_spark.codec import batched

data = np.arange(0, 800, 100, dtype=np.uint32)         # README.md worked example
svb = codecs["svb"]
buf = svb.encode(data)                                  # streamvbyte_encode
assert len(buf) == svb.cost(data)                       # streamvbyte_compressedbytes
assert len(buf) <= batched.max_compressed_bytes_rows([data.size])[0]  # ..._max_compressedbytes
one_row = [0, len(buf)]                                 # byte offsets of a one-row batch
assert batched.validate_rows(np.frombuffer(buf, np.uint8), one_row,
                             [data.size])[0]            # streamvbyte_validate_stream
out = svb.decode(buf, data.size)                        # streamvbyte_decode
np.testing.assert_array_equal(out, data)
print(f"svb: {data.size} ints -> {len(buf)} bytes, round-trip OK")

signed = np.array([0, -1, 1, -2, 2**31 - 1, -(2**31)], dtype=np.int32)
zz, zz_off = batched.encode_signed_rows(signed, [0, signed.size])  # zigzag variants
back, _ = batched.decode_signed_rows(zz, zz_off, [signed.size])
np.testing.assert_array_equal(back, signed)
print("zigzag: round-trip OK")

sorted_vals = np.cumsum(np.ones(1000, np.uint32) * 3)
d = codecs["svb_delta"].encode(sorted_vals)             # streamvbyte_delta_encode
np.testing.assert_array_equal(codecs["svb_delta"].decode(d, 1000), sorted_vals)
print(f"delta: 1000 sorted ints -> {len(d)} bytes ({len(d)/1000:.2f} B/int)")
print("sizes of the same 1000 ints:",
      {name: c.cost(sorted_vals) for name, c in codecs.items()})

# --- table level: the distributed pipeline ------------------------------------
from streamvbyte_spark import decode_table, encode_table, get_spark, verify_roundtrip
from streamvbyte_spark.sources import synthetic_tokens

spark = get_spark(app="example", master="local[4]")
spark.sparkContext.setLogLevel("ERROR")
tok = synthetic_tokens(spark, 1000, avg_len=128)
enc = encode_table(tok, codec="auto")                   # cost-model auto-select
mix = {r["codec"]: r["count"] for r in enc.groupBy("codec").count().collect()}
mismatches = verify_roundtrip(tok, decode_table(enc))
print(f"table: 1000 docs, codec mix {mix}, mismatches={mismatches}")
assert mismatches == 0

# --- long sequences: chunk -> prev-chained delta -> fused reassembly ----------
from pyspark.sql import functions as F
from streamvbyte_spark.operators.chunking import (
    chunk_tokens, decode_reassemble_fused, encode_chunked_delta)

sorted_tok = tok.select("doc_id", F.array_sort("tokens").alias("tokens"),
                        "n_tok", "source")
chunks = encode_chunked_delta(chunk_tokens(sorted_tok, chunk_size=32))
back = decode_reassemble_fused(chunks)   # shuffle carries ENCODED bytes
bad = (back.alias("a").join(sorted_tok.alias("b"), "doc_id")
       .where(F.expr("a.tokens <> b.tokens")).count())
print(f"chunked: {chunks.count()} prev-chained chunks, fused reassembly, "
      f"mismatches={bad}")
assert bad == 0

# --- dataloader path: fixed-length packs stored in the engine's format -------
import shutil, tempfile
from streamvbyte_spark.operators import decode_packs, pack_tokens_encoded
from streamvbyte_spark.operators.packing import derived_string_order

pack_dir = tempfile.mkdtemp(prefix="svb_example_packs_")
try:
    packs = pack_tokens_encoded(tok, emit="encoded",  # auto-codec pack rows
                                order_bucket=derived_string_order(tok))
    packs.write.mode("overwrite").parquet(pack_dir + "/p")
    served = decode_packs(spark.read.parquet(pack_dir + "/p"),
                          fingerprint=False)          # checksum-verified decode
    n_packs, n_tok = served.count(), served.agg(F.sum("n_tok")).first()[0]
    total = tok.agg(F.sum("n_tok")).first()[0]
    print(f"packs: {n_packs} stored sequences serving {n_tok} tokens "
          f"(corpus has {total})")
    assert n_tok == total
finally:
    shutil.rmtree(pack_dir, ignore_errors=True)

# --- search path: inverted index on the codec wire ----------------------------
# (the reference README points at "compress and intersect sorted lists of
# integers" as the companion use case — this is that loop, Spark-first)
from streamvbyte_spark.operators.index import (
    build_index_tf_chunked, topk_and_terms)

docs = spark.createDataFrame(
    [(0, "fast scan fast", "s"), (1, "fast join", "s"),
     (2, "scan join fast", "s"), (3, "join scan", "s")],
    "doc_id long, text string, source string")
idx_dir = tempfile.mkdtemp(prefix="svb_example_index_")
try:
    build_index_tf_chunked(docs).write.mode("overwrite") \
        .parquet(idx_dir + "/i")
    stored = spark.read.parquet(idx_dir + "/i")
    hits = topk_and_terms(stored, "fast", "scan", k=3).collect()
    print("index: 'fast AND scan' top-k from the stored EF+svb wire ->",
          [(r.did, r.score) for r in hits])
    assert [(r.did, r.score) for r in hits] == [(0, 3), (2, 2)]
    # the SAME stored TF wire serves boolean queries too (its did stream
    # is EF on every wire) — no second set-wire build
    from streamvbyte_spark.operators.index import intersect_terms_rows
    both = sorted(r.did for r in
                  intersect_terms_rows(stored, ["join", "scan"]).collect())
    print("index: 'join AND scan' from the same stored wire ->", both)
    assert both == [2, 3]
finally:
    shutil.rmtree(idx_dir, ignore_errors=True)

# k-way boolean AND on the set wire: the distributed rows are the
# public return; fold/collect only at the consumer's edge
from streamvbyte_spark.operators.index import (build_index_chunked,
                                               intersect_terms_rows)

set_idx = build_index_chunked(docs).localCheckpoint()
kway = sorted(r.did for r in
              intersect_terms_rows(set_idx,
                                   ["fast", "join", "scan"]).collect())
print("index: 'fast AND join AND scan' ->", kway)
assert kway == [2]
spark.stop()
