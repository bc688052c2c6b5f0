"""Spark-layer integration tests: encode/decode operators, chunked delta with
prev chaining, checkpoint-resume lineage, multimodal plumbing, disk round-trip
(the writeseq analog, /root/reference/tests/writeseq.c)."""

from __future__ import annotations

import ast
import os
import shutil
import socket
import sys
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from scalar_oracle import core
from streamvbyte_spark.operators import decode_table, encode_table, verify_roundtrip
from streamvbyte_spark.operators.chunking import (
    chunk_tokens, decode_chunked_delta, decode_reassemble_fused,
    encode_chunked_delta, reassemble)
from streamvbyte_spark.operators.lineage import (
    encode_with_checkpoint, lineage_metrics, read_encoded)
from streamvbyte_spark.operators.multimodal import extract_features, synth_media_table
from streamvbyte_spark.session import get_spark
from streamvbyte_spark.sources import synthetic_tokens, tokens_from_documents

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tok(spark):
    return tokens_from_documents(spark, SF).cache()


def test_roundtrip_all_codecs(spark, tok):
    for codec in ["svb", "svb0124", "svb_delta", "bitpack", "for", "dict", "rle", "auto"]:
        dec = decode_table(encode_table(tok, codec=codec))
        assert verify_roundtrip(tok, dec) == 0, codec


def test_size_never_exceeds_reference(spark, tok):
    """north rule: compressed size <= reference streamvbyte_encode output."""
    enc = encode_table(tok, codec="auto")
    rows = enc.select("doc_id", "out_bytes").collect()
    toks = {r.doc_id: r.tokens for r in tok.collect()}
    for r in rows:
        ref = core.compressed_size(np.array(toks[r.doc_id], dtype=np.int64))
        assert r.out_bytes <= ref


def test_chunked_delta_prev_chaining(spark):
    syn = synthetic_tokens(spark, 50, avg_len=300, seed=7, partitions=2)
    # sorted arrays exercise the delta path hardest
    sorted_tok = syn.select(
        "doc_id", F.array_sort("tokens").alias("tokens"),
        "n_tok", "source").cache()
    chunked = chunk_tokens(sorted_tok, chunk_size=64)
    enc = encode_chunked_delta(chunked)
    dec = decode_chunked_delta(enc)
    back = reassemble(dec)
    orig = sorted_tok.select("doc_id", F.col("tokens").alias("t0"))
    got = back.select("doc_id", F.col("tokens").alias("t1"))
    bad = orig.join(got, "doc_id", "full_outer").where(
        ~(F.col("t0") == F.col("t1")) | F.col("t0").isNull() | F.col("t1").isNull())
    assert bad.count() == 0
    # chunk seams: prev of chunk k must equal the last token of chunk k-1
    a = dec.select("doc_id", "chunk_id", F.element_at("chunk", -1).cast("long").alias("last_tok"))
    b = enc.select("doc_id", (F.col("chunk_id") - 1).alias("chunk_id"), "prev")
    bad_seams = a.join(b, ["doc_id", "chunk_id"]).where(
        F.col("prev") != F.col("last_tok")).count()
    assert bad_seams == 0


def test_checkpoint_resume(spark, tok):
    path = tempfile.mkdtemp(prefix="svb_ckpt_")
    try:
        r1 = encode_with_checkpoint(tok, path, n_buckets=8, fail_after_buckets=3)
        assert r1["encoded_buckets"] == 3
        r2 = encode_with_checkpoint(tok, path, n_buckets=8)
        assert r2["encoded_buckets"] == 5
        r3 = encode_with_checkpoint(tok, path, n_buckets=8)
        assert r3.get("skipped")  # nothing left to do
        enc = read_encoded(spark, path)
        assert enc.count() == tok.count()
        assert verify_roundtrip(tok, decode_table(enc.drop("bucket"))) == 0
        lin = lineage_metrics(spark, path)
        assert lin.select("bucket").distinct().count() == 8
        # lineage checksums match the data
        agg = enc.groupBy("bucket").agg(F.sum("checksum").alias("cs"))
        j = lin.join(agg, "bucket").where(F.col("cs") != F.col("checksum_sum"))
        assert j.count() == 0
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_disk_roundtrip_writeseq(spark, tok):
    """Encoded streams survive a parquet write/read cycle byte-identically
    (the tests/writeseq.c analog)."""
    path = tempfile.mkdtemp(prefix="svb_disk_")
    try:
        enc = encode_table(tok, codec="auto")
        enc.write.mode("overwrite").parquet(path + "/enc")
        back = spark.read.parquet(path + "/enc")
        assert verify_roundtrip(tok, decode_table(back)) == 0
        # byte identity of the binary column itself
        a = {r.doc_id: bytes(r.encoded) for r in enc.collect()}
        b = {r.doc_id: bytes(r.encoded) for r in back.collect()}
        assert a == b
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_multimodal_plumbing(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    media = synth_media_table(docs)
    feats = extract_features(media).collect()
    assert len(feats) == docs.count()
    texts = {str(r.doc_id): r.text for r in docs.collect()}
    for r in feats[:20]:
        raw = texts[r.doc_id].encode()
        assert r.n_bytes == len(raw)
        assert r.byte_sum == sum(raw)
        assert len(r.feature) == 16
        assert abs(sum(r.feature) - 1.0) < 1e-3


def test_multimodal_frame_sampling(spark):
    """sample_frames == pure-Python slicing reference (every 2nd 64-byte
    frame, partial tail kept), including empty payloads producing no rows."""
    from streamvbyte_spark.operators.multimodal import sample_frames
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    media = synth_media_table(docs)
    got = {}
    for r in sample_frames(media, frame_bytes=64, every=2).collect():
        got.setdefault(r.doc_id, []).append(
            (r.frame_id, r.frame_len, r.frame_sum, bytes(r.frame)))
    texts = {str(r.doc_id): r.text.encode() for r in docs.collect()}
    for doc_id, raw in texts.items():
        exp = []
        for fid in range(0, (len(raw) + 63) // 64, 2):
            chunk = raw[fid * 64:(fid + 1) * 64]
            exp.append((fid, len(chunk), sum(chunk), chunk))
        assert sorted(got.get(doc_id, [])) == exp, doc_id


def test_decode_stub_gated(spark):
    from streamvbyte_spark.operators.multimodal import (decode_audio,
                                                        decode_image)
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        decode_audio(b"RIFF")


def test_public_api_facade(spark):
    import streamvbyte_spark as svb
    assert set(svb.codecs) >= {"svb", "svb0124", "svb_delta", "bitpack",
                               "for", "dict", "rle", "fsst"}
    tok = tokens_from_documents(spark, SF)
    assert svb.verify_roundtrip(tok, svb.decode_table(svb.encode_table(tok))) == 0


def test_sql_udf_registry(spark, tok):
    """SURVEY §2.2 UDF surface: codec API callable from SQL expressions."""
    from streamvbyte_spark.functions.udfs import register_udfs
    register_udfs(spark)
    tok.createOrReplaceTempView("tok_udf")
    rows = spark.sql("""
        select doc_id,
               svb_decode(svb_encode(tokens), n_tok) as back,
               tokens,
               svb_size(tokens) as sz,
               svb_auto_size(tokens) as asz,
               length(svb_encode(tokens)) as real_sz,
               svb_validate(svb_encode(tokens), n_tok) as ok
        from tok_udf
    """).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.back == r.tokens
        assert r.sz == r.real_sz
        assert r.asz <= r.sz
        assert r.ok
    # per-codec variants round-trip too
    r2 = spark.sql("select tokens, rle_decode(rle_encode(tokens), n_tok) as b "
                   "from tok_udf limit 50").collect()
    assert all(r.b == r.tokens for r in r2)


def test_sql_udfs_match_batched_kernels_and_reject_nulls(spark):
    """The registered SQL UDFs route input extraction through the shared
    one-pass Arrow conversion (arrow_rows.list_flat / binary_flat).
    Parity: UDF outputs must equal the batched kernels byte-for-byte on the
    same frame; and a NULL ELEMENT inside an array must fail LOUDLY — the
    replaced per-row np.asarray path silently converted the flat to float64
    NaN and corrupted downstream folds.  The mapInArrow kernels read through
    the same list reader: encode_table must not encode a NULL element (as
    2147483648), and the signed round trip must not turn a NULL array into
    an empty row."""
    from streamvbyte_spark.codec import batched
    from streamvbyte_spark.functions.udfs import register_udfs
    register_udfs(spark)
    rows = [("a", [1, 70000, 3]), ("b", []), ("c", [5]),
            ("d", list(range(300, 260, -1)))]
    df = spark.createDataFrame([(d, t, len(t)) for d, t in rows],
                               "doc_id string, tokens array<int>, n_tok int")
    df.createOrReplaceTempView("udf_parity")
    got = {r.doc_id: (bytes(r.e), r.sz, list(r.zz))
           for r in spark.sql(
               "select doc_id, svb_encode(tokens) as e, svb_size(tokens) "
               "as sz, zigzag_decode(zigzag_encode(tokens), n_tok) as zz "
               "from udf_parity").collect()}
    for d, t in rows:
        flat = np.asarray(t, dtype=np.uint32)
        offs = np.array([0, len(t)], dtype=np.int64)
        out, ooff, _ = batched.encode_rows(flat, offs, codec="svb")
        assert got[d][0] == out.tobytes(), d
        assert got[d][1] == int(ooff[-1]), d
        assert got[d][2] == t, d
    nulls = spark.createDataFrame([("n", [1, None, 3], 3)],
                                  "doc_id string, tokens array<int>, n_tok int")
    nulls.createOrReplaceTempView("udf_nulls")
    with pytest.raises(Exception, match="NULL"):
        spark.sql("select svb_size(tokens) from udf_nulls").collect()
    with pytest.raises(Exception, match="NULL"):
        spark.sql("select zigzag_encode(tokens) from udf_nulls").collect()
    with pytest.raises(Exception, match="ValueError: NULL"):
        encode_table(nulls.withColumn("source", F.lit("s"))).collect()
    from streamvbyte_spark.queries import _signed_roundtrip
    null_row = spark.createDataFrame([("m", [1, 2]), ("n", None)],
                                     "doc_id string, tokens array<int>")
    with pytest.raises(Exception, match="ValueError: NULL"):
        _signed_roundtrip(null_row, "doc_id", delta=False).collect()


def test_decode_rejects_null_encoded_row(spark, tmp_path):
    """Every decoder of a stored stream reads it through
    encode.encoded_rows: a NULL stream (or count) between valid rows fails
    with a ValueError naming that row's key, the serving ops' included.
    binary_flat reads a NULL row as an empty stream, which decoded
    silently wrong (svb_delta chunks as ``prev`` repeated), or failed deep
    in a kernel with no row named.  A NULL or unknown codec name or id
    fails the same way (it was a bare KeyError, IndexError or broadcast
    error)."""
    from streamvbyte_spark.operators import decode_table_prefix
    from streamvbyte_spark.operators.chunking import decode_reassemble_fused
    from streamvbyte_spark.operators.index import (
        build_index_chunked, build_index_tf_chunked, decode_index_tf,
        intersect_terms, intersect_terms_rows, union_terms, union_terms_rows)
    from streamvbyte_spark.operators.packing import (decode_packs,
                                                     pack_tokens_encoded)

    def rejects(df, match):
        with pytest.raises(Exception, match="ValueError: " + match):
            df.collect()

    def holed(df, hole, col="encoded"):
        return df.withColumn(col, F.when(~hole, F.col(col)))

    tok = spark.createDataFrame(
        [("m", [1, 2, 3], 3, "s"), ("n", [4, 5], 2, "s"),
         ("o", [6], 1, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    enc = encode_table(tok, codec="svb").coalesce(1)
    for decode in (lambda d: decode_table(d),
                   lambda d: decode_table(d, fingerprint=True),
                   lambda d: decode_table_prefix(d, 2)):
        assert decode(enc).count() == 3
        rejects(decode(holed(enc, F.col("doc_id") == "n")),
                "NULL encoded stream decoding doc_id=n")
        rejects(decode(holed(enc, F.col("doc_id") == "n", "n_tok")),
                "NULL n_tok decoding doc_id=n")
        for name in (None, "zstd"):
            renamed = enc.withColumn("codec", F.when(
                F.col("doc_id") == "o", F.lit(name)).otherwise(F.col("codec")))
            rejects(decode(renamed),
                    "NULL or unknown codec name decoding doc_id=o")

    # stored packs: int codec ids, keyed by pack_id
    num = spark.createDataFrame(
        [(str(i), list(range(i, i + 5)), 5, "s") for i in range(6)],
        "doc_id string, tokens array<int>, n_tok int, source string")
    pack_dir = str(tmp_path / "packs")
    pack_tokens_encoded(num, cap=4, emit="encoded").write.parquet(pack_dir)
    packs = spark.read.parquet(pack_dir).coalesce(1)
    assert decode_packs(packs).count() == 8
    rejects(decode_packs(holed(packs, F.col("pack_id") == 3)),
            "NULL encoded stream decoding pack_id=3")
    for cid in (9, -1):
        bad = packs.withColumn("codec", F.when(
            F.col("pack_id") == 5, F.lit(cid)).otherwise(F.col("codec")))
        rejects(decode_packs(bad), "NULL or unknown codec id decoding "
                                   "pack_id=5")

    # chunk tables: a fixed codec, keyed by doc_id
    long_tok = spark.createDataFrame(
        [(d, list(range(10 * i, 10 * i + 40)), 40, "s")
         for i, d in enumerate("pqr")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    for codec in ("svb_delta", "ef"):
        chunks = encode_chunked_delta(chunk_tokens(long_tok, chunk_size=8),
                                      codec=codec).coalesce(1)
        bad = holed(chunks, (F.col("doc_id") == "q")
                    & (F.col("chunk_id") == 2))
        for decode in (lambda d: decode_chunked_delta(d, codec=codec),
                       lambda d: decode_reassemble_fused(d, codec=codec),
                       lambda d: decode_reassemble_fused(d, max_len=20,
                                                         codec=codec)):
            assert decode(chunks).count() > 0
            rejects(decode(bad), "NULL encoded stream decoding doc_id=q")

    # a stored TF index: streams enc_dids / enc_tfs, keyed by term
    docs = spark.createDataFrame(
        [(i, "a b c" if i % 2 else "b c d") for i in range(12)],
        "doc_id long, text string")
    idx_dir = str(tmp_path / "tf")
    build_index_tf_chunked(docs, span=4).write.parquet(idx_dir)
    index = spark.read.parquet(idx_dir).coalesce(1)
    assert decode_index_tf(index).count() == 36
    for col in ("enc_dids", "enc_tfs"):
        rejects(decode_index_tf(holed(index, F.col("doc_id") == "c", col)),
                f"NULL {col} stream decoding doc_id=c")

    # serving over a stored set index: only a probe side with no row for a
    # chunk reads the empty default; a stored NULL reaches decode_wire
    set_dir = str(tmp_path / "set")
    build_index_chunked(docs, span=4).write.parquet(set_dir)
    sets = holed(spark.read.parquet(set_dir),
                 (F.col("doc_id") == "b") & (F.col("chunk_id") == 1))
    for serve in (intersect_terms(sets, "a", "b"),
                  intersect_terms_rows(sets, ["a", "b"]),
                  union_terms(sets, "b", "d"),
                  union_terms_rows(sets, "b", "d")):
        rejects(serve, "NULL encoded_[a-z0-9]+ stream decoding chunk_id=1")


def test_decode_rejects_stream_length_mismatch(spark, tmp_path):
    """An svb-family stream whose length contradicts its n_tok and control
    bytes (a truncated tail, an overstated count) fails with a ValueError
    naming the row's key — in decode_table and decode_table_prefix, on an
    auto-encoded table whose codec groups interleave, and in
    index.decode_wire.  It decoded silently wrong, or raised a bare
    IndexError, before.  So does an rle row of the auto table, whose run
    streams are svb streams decoded as a batch of their own, an svb_delta
    or ef chunk in decode_chunked_delta (naming its doc_id; a bare
    StreamError before) and a stored pack in decode_packs (its
    pack_id)."""
    from streamvbyte_spark.operators import decode_table_prefix
    from streamvbyte_spark.operators.index import (build_index_tf_chunked,
                                                   decode_index_tf)
    from streamvbyte_spark.operators.packing import (decode_packs,
                                                     pack_tokens_encoded)

    def rejects(df, match):
        with pytest.raises(Exception, match="ValueError: .*" + match):
            df.collect()

    tok = spark.createDataFrame(
        [("m", list(range(0, 3000, 7)), 429, "s"),
         ("n", [9] * 40 + list(range(300, 340)), 80, "s"),
         ("q", [7] * 50 + [1000] * 30 + [3] * 45, 125, "s"),
         ("o", [0, 0, 5, 0] * 20, 80, "s"),
         ("p", [(i * 2654435761) % 2**31 >> (i % 32) for i in range(60)],
          60, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    for codec in ("svb", "svb_delta", "auto"):
        enc = encode_table(tok, codec=codec).coalesce(1)
        bad = ["p"]
        if codec == "auto":  # svb row p and rle row q sit between others
            got = dict(enc.select("doc_id", "codec").collect())
            assert got["p"] == "svb" and got["q"] == "rle" \
                and len(set(got.values())) > 3, got
            bad.append("q")
        for doc in bad:
            cut = enc.withColumn("encoded", F.when(
                F.col("doc_id") == doc,
                F.expr("substring(encoded, 1, length(encoded) - 1)"))
                .otherwise(F.col("encoded")))
            over = enc.withColumn("n_tok", F.when(
                F.col("doc_id") == doc, F.col("n_tok") + 5)
                .otherwise(F.col("n_tok")))
            for decode in (lambda d: decode_table(d, verify_checksum=False),
                           lambda d: decode_table_prefix(d, 10**6)):
                assert decode(enc).count() == 5
                rejects(decode(cut), f"decoding doc_id={doc}")
                rejects(decode(over), f"decoding doc_id={doc}")

    docs = spark.createDataFrame(
        [(i, "a b c" if i % 2 else "b c d") for i in range(12)],
        "doc_id long, text string")
    idx_dir = str(tmp_path / "tf")
    build_index_tf_chunked(docs, span=4).write.parquet(idx_dir)
    index = spark.read.parquet(idx_dir).coalesce(1)
    bad = index.withColumn("enc_tfs", F.when(
        F.col("doc_id") == "c",
        F.expr("substring(enc_tfs, 1, length(enc_tfs) - 1)"))
        .otherwise(F.col("enc_tfs")))
    rejects(decode_index_tf(bad), "decoding doc_id=c")

    def corrupted(df, hit):
        """df with the hit row's stream cut by a byte, then with its count
        overstated by 5."""
        yield df.withColumn("encoded", F.when(
            hit, F.expr("substring(encoded, 1, length(encoded) - 1)"))
            .otherwise(F.col("encoded")))
        yield df.withColumn("n_tok", F.when(hit, F.col("n_tok") + 5)
                            .otherwise(F.col("n_tok")))

    long_tok = spark.createDataFrame(
        [(d, list(range(10 * i, 10 * i + 40)), 40, "s")
         for i, d in enumerate("pqr")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    for codec in ("svb_delta", "ef"):
        chunks = encode_chunked_delta(chunk_tokens(long_tok, chunk_size=8),
                                      codec=codec).coalesce(1)
        assert decode_chunked_delta(chunks, codec=codec).count() == 15
        for bad in corrupted(chunks, (F.col("doc_id") == "q")
                             & (F.col("chunk_id") == 2)):
            rejects(decode_chunked_delta(bad, codec=codec),
                    "decoding doc_id=q")

    num = spark.createDataFrame(
        [(str(i), list(range(i, i + 5)), 5, "s") for i in range(6)],
        "doc_id string, tokens array<int>, n_tok int, source string")
    pack_dir = str(tmp_path / "packs")
    pack_tokens_encoded(num, cap=4, emit="encoded").write.parquet(pack_dir)
    packs = spark.read.parquet(pack_dir).coalesce(1)
    assert decode_packs(packs).count() == 8
    for bad in corrupted(packs, F.col("pack_id") == 3):
        rejects(decode_packs(bad), "decoding pack_id=3")


def test_chunked_fused_matches_unfused(spark, tok):
    """decode_reassemble_fused (mapInArrow, shuffles encoded bytes) must
    agree with the chunk->decode->reassemble pipeline and the original."""
    from streamvbyte_spark.operators.chunking import (
        chunk_tokens, decode_chunked_delta, decode_reassemble_fused,
        encode_chunked_delta, reassemble)
    enc = encode_chunked_delta(chunk_tokens(tok, chunk_size=16))
    a = {r.doc_id: list(r.tokens) for r in
         reassemble(decode_chunked_delta(enc)).collect()}
    b = {r.doc_id: list(r.tokens) for r in
         decode_reassemble_fused(enc).collect()}
    orig = {r.doc_id: list(r.tokens) for r in tok.where("n_tok > 0").collect()}
    assert a == b == orig


def test_chunked_fused_run_straddles_arrow_batches(spark, tok):
    """A document's chunk run must survive being split across Arrow batch
    boundaries inside the fused decode's partition iterator (the carried
    tail-run path): force 3-row batches so every multi-chunk doc straddles."""
    from streamvbyte_spark.operators.chunking import (
        chunk_tokens, decode_reassemble_fused, encode_chunked_delta)
    enc = encode_chunked_delta(chunk_tokens(tok, chunk_size=4))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        got = {r.doc_id: list(r.tokens) for r in
               decode_reassemble_fused(enc).collect()}
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    orig = {r.doc_id: list(r.tokens) for r in tok.where("n_tok > 0").collect()}
    assert got == orig


def test_chunked_fused_seam_placement(spark):
    """Adversarial Arrow-batch cut placement for the fused decode's carry
    logic (arrow_rows.complete_runs): (a) every batch boundary landing EXACTLY
    between two docs (2-chunk docs, 2-row batches -> the carried run always
    closes at a batch seam, exercising the flush-on-id-mismatch branch), and
    (b) one doc spanning >= 4 consecutive batches (9 chunks, 2-row batches ->
    the pending-segment list accumulates across several batches before one
    final concatenation)."""
    from streamvbyte_spark.operators.chunking import (
        chunk_tokens, decode_reassemble_fused, encode_chunked_delta)
    rng = np.random.default_rng(17)
    rows = []
    for j in range(12):          # (a) 2-chunk docs: 8 tokens, chunk_size 4
        rows.append((f"a{j:02d}", np.cumsum(rng.integers(0, 50, 8)).tolist()))
    for j in range(3):           # (b) 9-chunk docs: 36 tokens
        rows.append((f"b{j:02d}", np.cumsum(rng.integers(0, 50, 36)).tolist()))
    df = spark.createDataFrame(
        [(d, t, len(t)) for d, t in rows],
        "doc_id string, tokens array<int>, n_tok int")
    enc = encode_chunked_delta(chunk_tokens(df, chunk_size=4))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got = {r.doc_id: list(r.tokens) for r in
               decode_reassemble_fused(enc).collect()}
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == dict(rows)


def test_pack_assembler_run_straddles_arrow_batches(spark, tok):
    """A pack's segment run must survive being split across Arrow batch
    boundaries in the pack assembler (the carried-run path, keyed on
    (source, pack_id)): at 2-row batches every pack of two or more
    segments straddles a seam.  Both emit modes must give the rows they
    give at the default batch size; the encoded packs are read back through
    decode_packs (checksums verified)."""
    from streamvbyte_spark.operators.packing import (decode_packs,
                                                     derived_string_order,
                                                     pack_tokens_encoded)

    def packs():
        ob = derived_string_order(tok)
        fp = {tuple(r) for r in pack_tokens_encoded(
            tok, order_bucket=ob).collect()}
        enc = {tuple(r) for r in decode_packs(pack_tokens_encoded(
            tok, order_bucket=ob, emit="encoded")).collect()}
        return fp, enc

    want_fp, want_enc = packs()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got_fp, got_enc = packs()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(want_fp) > 10
    assert got_fp == want_fp
    assert got_enc == want_enc == want_fp


def test_chunked_truncate_decode_boundaries(spark):
    """Truncating the chunked layout must equal row[:max_len] at every cut
    placement: mid-chunk, exactly ON a chunk boundary (the boundary chunk is
    filtered, not prefix-decoded), beyond the doc, and max_len 1 — including
    with 2-row Arrow batches so carried runs mix with truncation."""
    from streamvbyte_spark.operators.chunking import (
        chunk_tokens, decode_reassemble_fused, encode_chunked_delta)
    rng = np.random.default_rng(23)
    rows = [(f"d{j:02d}", np.cumsum(rng.integers(0, 50, n)).tolist())
            for j, n in enumerate([1, 3, 4, 8, 9, 16, 17, 23, 40])]
    df = spark.createDataFrame(
        [(d, t, len(t)) for d, t in rows],
        "doc_id string, tokens array<int>, n_tok int")
    enc = encode_chunked_delta(chunk_tokens(df, chunk_size=4))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        for max_len in (1, 3, 4, 5, 8, 16, 100):
            got = {r.doc_id: (list(r.tokens), r.n_tok) for r in
                   decode_reassemble_fused(enc, max_len=max_len).collect()}
            want = {d: (t[:max_len], min(len(t), max_len)) for d, t in rows}
            assert got == want, max_len
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    with pytest.raises(ValueError, match="max_len"):
        decode_reassemble_fused(enc, max_len=0)


def test_chunked_ef_roundtrip_and_truncate(spark):
    """codec='ef' through the chunked pipeline: sorted rows chunk into
    sorted chunks encoded as ABSOLUTE Elias-Fano values (no prev seed) and
    must reassemble exactly — including under truncation at every cut
    placement (the straddling chunk decodes whole and prefix-slices,
    batched.subset_prefix) and with 2-row Arrow batches so carried runs
    mix in.
    An unsorted row must fail loudly at encode, and an unknown chunk codec
    at plan time."""
    from streamvbyte_spark.operators.chunking import (
        chunk_tokens, decode_reassemble_fused, encode_chunked_delta)
    rng = np.random.default_rng(29)
    rows = [(f"d{j:02d}", np.cumsum(rng.integers(0, 50, n)).tolist())
            for j, n in enumerate([1, 3, 4, 8, 9, 16, 17, 23, 40])]
    df = spark.createDataFrame(
        [(d, t, len(t)) for d, t in rows],
        "doc_id string, tokens array<int>, n_tok int")
    enc = encode_chunked_delta(chunk_tokens(df, chunk_size=4), codec="ef")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got = {r.doc_id: list(r.tokens) for r in
               decode_reassemble_fused(enc, codec="ef").collect()}
        assert got == dict(rows)
        for max_len in (1, 3, 4, 5, 8, 16, 100):
            got = {r.doc_id: (list(r.tokens), r.n_tok) for r in
                   decode_reassemble_fused(enc, max_len=max_len,
                                           codec="ef").collect()}
            want = {d: (t[:max_len], min(len(t), max_len)) for d, t in rows}
            assert got == want, max_len
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    bad = spark.createDataFrame([("u0", [5, 3, 9], 3)],
                                "doc_id string, tokens array<int>, n_tok int")
    with pytest.raises(Exception, match="non-decreasing"):
        encode_chunked_delta(chunk_tokens(bad, chunk_size=4),
                             codec="ef").collect()
    with pytest.raises(ValueError, match="chunk codec"):
        encode_chunked_delta(chunk_tokens(df, chunk_size=4), codec="nope")


def _one_partition_tokens(spark, rows, n_tok):
    """One partition of ``rows`` (doc_id, source, tokens, n_tok) rows in id
    order; ``n_tok`` is a SQL expression over ``id``.  Values mix widths
    from 1 to 31 bits so the auto selector picks several codecs."""
    return spark.range(0, rows, 1, numPartitions=1).selectExpr(
        "cast(id as string) as doc_id", "'s' as source",
        f"transform(sequence(1, {n_tok}), i -> cast(pmod(id * 2654435761 "
        "+ i * 40503L, shiftleft(1L, cast(id % 31 + 1 as int))) as int)) "
        "as tokens").selectExpr("*", "size(tokens) as n_tok")


def _arrow_batches(df):
    """(rows, Arrow bytes of the tokens column) of every batch a
    mapInArrow over ``df`` receives, in order."""
    import pyarrow as pa

    def run(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"rows": [b.num_rows], "nbytes": [b.column("tokens").nbytes]})

    return [(r.rows, r.nbytes) for r in
            df.mapInArrow(run, "rows long, nbytes long").collect()]


def test_session_arrow_batch_rule(spark):
    """get_spark's one Arrow batch rule: one partition of 10,000 rows of
    512 ints (~20 MB) crosses to Python as several batches, each within
    ARROW_BATCH_BYTES, instead of one batch per partition."""
    from streamvbyte_spark.session import ARROW_BATCH_BYTES, ARROW_BATCH_ROWS
    got = _arrow_batches(_one_partition_tokens(spark, 10_000, 512))
    assert sum(r for r, _ in got) == 10_000
    assert len(got) > 1
    assert all(r <= ARROW_BATCH_ROWS and b <= ARROW_BATCH_BYTES
               for r, b in got), got


def test_roundtrip_across_unequal_session_batches(spark):
    """At the session's batch rule, encode_table -> decode_table over one
    partition whose first batches hold long rows and whose last hold short
    ones round-trips exactly: a reused worker runs the short batches in
    memory the long ones freed (2,000 rows of ~6 KB fill the first batches
    by bytes, 40,000 rows of a few ints the last by rows)."""
    tok = _one_partition_tokens(
        spark, 42_000, "if(id < 2000, 1500 + cast(id % 7 as int), "
                      "1 + cast(id % 5 as int))").cache()
    try:
        got = _arrow_batches(tok)
        assert len(got) > 2
        (r0, b0), (r1, b1) = got[0], got[-1]
        assert b0 / r0 > 100 * b1 / r1  # long rows first, short rows last
        enc = encode_table(tok, codec="auto")
        assert enc.select("codec").distinct().count() > 2
        assert verify_roundtrip(tok, decode_table(enc)) == 0
    finally:
        tok.unpersist()


@pytest.fixture(scope="module")
def long_rows(spark):
    """(token table, its encode_table output), one partition each: 10,000
    rows of 512 ints (~20 MB) and, at id 7000, one row of 1,100,000 ints,
    which alone decodes to more than ARROW_BATCH_BYTES."""
    tok = _one_partition_tokens(
        spark, 10_001, "if(id = 7000, 1100000, 512)").cache()
    enc = encode_table(tok, codec="auto").cache()
    yield tok, enc
    enc.unpersist()
    tok.unpersist()


def _emitted(df, build):
    """(input batch number, rows, token bytes) of every batch the
    mapInArrow stage ``build(df)`` adds emits, in order: its kernel runs
    unchanged inside a wrapper that reports each output batch in place of
    it.  ``df`` must be one partition, so the batch numbers are one
    task's."""
    import pyarrow as pa
    cls = type(df)
    plain = cls.mapInArrow

    def spy(self, func, schema, *args, **kwargs):
        def report(batches):
            seen = 0

            def counted():
                nonlocal seen
                for b in batches:
                    seen += 1
                    yield b
            for out in func(counted()):
                col = next(c for c in out.columns if pa.types.is_list(c.type))
                yield pa.RecordBatch.from_pydict(
                    {"batch": [seen], "rows": [out.num_rows],
                     "nbytes": [4 * len(col.flatten())]})
        return plain(self, report, "batch long, rows long, nbytes long")

    cls.mapInArrow = spy
    try:
        staged = build(df)
    finally:
        cls.mapInArrow = plain
    return [tuple(r) for r in staged.collect()]


def _check_decode_slices(got, rows):
    """Every emitted batch holds at most ARROW_BATCH_BYTES of tokens,
    except the lone over-long row, which crosses whole; some input batch
    was cut into several slices; no row is lost."""
    from collections import Counter
    from streamvbyte_spark.session import ARROW_BATCH_BYTES
    assert sum(r for _, r, _ in got) == rows
    assert all(b <= ARROW_BATCH_BYTES or r == 1 for _, r, b in got), got
    assert [b for _, r, b in got if b > ARROW_BATCH_BYTES] == [4_400_000]
    assert max(Counter(k for k, _, _ in got).values()) > 1, got


def test_decode_table_slices_at_the_batch_rule(long_rows):
    """decode_table writes each encoded batch back as slices of at most
    ARROW_BATCH_BYTES of tokens (arrow_rows.decode_slices): a ~4 MiB
    encoded batch of these rows decodes to ~5.5 MB.  The round trip is
    exact across the slice seams."""
    tok, enc = long_rows
    _check_decode_slices(_emitted(enc, decode_table), 10_001)
    assert verify_roundtrip(tok, decode_table(enc)) == 0


def test_decode_packs_slices_at_the_batch_rule(long_rows):
    """decode_packs(fingerprint=False) over stored packs (here one per
    document, keyed by pack_id) slices like decode_table and round-trips
    exactly."""
    from streamvbyte_spark.operators.packing import decode_packs
    tok, enc = long_rows
    packs = enc.select("source", F.col("doc_id").cast("long").alias(
        "pack_id"), "n_tok", "codec", "checksum", "encoded")
    _check_decode_slices(
        _emitted(packs, lambda d: decode_packs(d, fingerprint=False)),
        10_001)
    back = decode_packs(packs, fingerprint=False).select(
        F.col("pack_id").cast("string").alias("doc_id"), "tokens")
    assert verify_roundtrip(tok, back) == 0


def test_decode_chunked_delta_slices_at_the_batch_rule(long_rows):
    """decode_chunked_delta slices like decode_table (chunks of up to
    2^21 tokens, so the long document is one over-long chunk) and
    round-trips exactly through reassemble."""
    tok, _ = long_rows
    chunks = encode_chunked_delta(chunk_tokens(tok, chunk_size=1 << 21)) \
        .coalesce(1).cache()
    try:
        _check_decode_slices(_emitted(chunks, decode_chunked_delta), 10_001)
        assert verify_roundtrip(
            tok, reassemble(decode_chunked_delta(chunks))) == 0
    finally:
        chunks.unpersist()


def test_sliced_decoders_name_a_null_row(spark, monkeypatch):
    """Under a batch rule small enough to cut every batch into one-row
    slices, a NULL stream or a NULL n_tok still fails decode_table,
    decode_chunked_delta and decode_packs with a ValueError naming the
    row's key (a NULL count leaves its batch whole, for encoded_rows to
    reject)."""
    from streamvbyte_spark import session
    from streamvbyte_spark.operators.packing import decode_packs
    monkeypatch.setattr(session, "ARROW_BATCH_BYTES", 16)
    tok = spark.createDataFrame(
        [(str(i), list(range(i, i + 6)), 6, "s") for i in range(6)],
        "doc_id string, tokens array<int>, n_tok int, source string")
    enc = encode_table(tok, codec="svb").coalesce(1)
    packs = enc.select("source", F.col("doc_id").cast("long").alias(
        "pack_id"), "n_tok", "codec", "checksum", "encoded")
    chunks = encode_chunked_delta(chunk_tokens(tok, chunk_size=4)) \
        .coalesce(1)
    cases = ((decode_table, enc, "doc_id", "3"),
             (lambda d: decode_packs(d, fingerprint=False), packs,
              "pack_id", "3"),
             (decode_chunked_delta, chunks, "doc_id", "3"))
    for decode, df, key, bad in cases:
        assert decode(df).count() == df.count()
        for col, what in (("encoded", "NULL encoded stream"),
                          ("n_tok", "NULL n_tok")):
            holed = df.withColumn(col, F.when(
                F.col(key).cast("string") != bad, F.col(col)))
            with pytest.raises(Exception, match=f"ValueError: {what} "
                                                f"decoding {key}={bad}"):
                decode(holed).collect()


def _package_mapinarrow_schemas():
    """(file:line, schema argument node) of every ``.mapInArrow(func,
    schema)`` call in the package source."""
    import pathlib
    import streamvbyte_spark
    root = pathlib.Path(streamvbyte_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInArrow"):
                arg = (node.args[1] if len(node.args) > 1 else
                       next(k.value for k in node.keywords
                            if k.arg == "schema"))
                yield f"{path.relative_to(root)}:{node.lineno}", arg


def test_kernel_arrays_declare_non_null_elements(spark, long_rows):
    """Every package mapInArrow declares its output through
    arrow_rows.kernel_schema, whose arrays hold no NULL element, so no
    kernel's output brings back Spark's per-element NULL check.  A
    pass-through column keeps its input's declaration."""
    from pyspark.sql.types import ArrayType, StructType
    from streamvbyte_spark.arrow_rows import kernel_schema
    from streamvbyte_spark.operators.packing import decode_packs
    from streamvbyte_spark.queries import _signed_roundtrip
    sites = list(_package_mapinarrow_schemas())
    assert len(sites) > 30
    undeclared = [site for site, arg in sites
                  if not (isinstance(arg, ast.Call) and getattr(
                      arg.func, "id", None) == "kernel_schema")]
    assert not undeclared, undeclared

    def nullable_elements(t):
        if isinstance(t, ArrayType):
            return t.containsNull or nullable_elements(t.elementType)
        if isinstance(t, StructType):
            return any(nullable_elements(f.dataType) for f in t.fields)
        return False

    s = kernel_schema("a string, b array<int>, "
                      "c array<array<float>>, d struct<e: array<int>>")
    assert not nullable_elements(s)
    assert kernel_schema("a string, b array<int>") is \
        kernel_schema("a string, b array<int>")  # parsed once
    carried = spark.createDataFrame([(1, [2])], "x int, y array<int>")
    assert nullable_elements(
        kernel_schema("a int", [carried.schema["y"]]))
    tok, enc = long_rows
    packs = enc.select("source", F.col("doc_id").cast("long").alias(
        "pack_id"), "n_tok", "codec", "checksum", "encoded")
    chunks = encode_chunked_delta(chunk_tokens(tok, chunk_size=64))
    for df in (decode_table(enc), decode_packs(packs, fingerprint=False),
               decode_chunked_delta(chunks),
               decode_reassemble_fused(chunks),
               _signed_roundtrip(tok, "doc_id", delta=True),
               synthetic_tokens(spark, 4, avg_len=8)):
        assert not nullable_elements(df.schema), df.schema


def test_null_element_under_non_null_declaration_fails_task(spark):
    """A kernel that emits a NULL element where kernel_schema declares
    none fails its task (Arrow Java's IntVector.get refuses a NULL slot)
    instead of reading it as 0."""
    import pyarrow as pa
    from streamvbyte_spark.arrow_rows import kernel_schema

    def lying(batches):
        for _ in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([[1, None, 3]], pa.list_(pa.int32()))],
                names=["x"])

    out = spark.range(0, 1, 1, numPartitions=1).mapInArrow(
        lying, kernel_schema("x array<int>"))
    for df in (out, out.selectExpr("x[1] AS y"),
               out.selectExpr("aggregate(x, 0L, (a, v) -> a + v) AS s")):
        with pytest.raises(Exception, match="Value at index is null"):
            df.collect()


def test_every_task_reads_its_input_in_quick_ack_mode(spark):
    """Each task on a reused Python worker starts with TCP_QUICKACK on its
    socket to the JVM.  Without session.py's per-task wrap the kernel puts
    the socket into delayed-ACK mode from its third task on (reads 0), and
    each task then waits ~40 ms before its first batch arrives."""
    import pyarrow as pa
    from streamvbyte_spark.session import worker_quickack

    def read(batches):
        quickack = worker_quickack()  # before the input arrives
        for _ in batches:  # a task that drains its input keeps its worker
            pass
        yield pa.RecordBatch.from_pydict({"quickack": [quickack]})

    one = spark.range(0, 1, 1, numPartitions=1)
    reads = [one.mapInArrow(read, "quickack long").collect()[0].quickack
             for _ in range(8)]
    assert reads == [1] * 8


@pytest.mark.skipif(not hasattr(socket, "TCP_QUICKACK"),
                    reason="host has no TCP_QUICKACK")
def test_quickack_helper_sets_tcp_only():
    """session._quickack turns quick ACK on for a TCP socket, also through a
    file over a dup of its fd (what the daemon hands a task), and does
    nothing, raising nothing, on a Unix socket or a closed file."""
    from streamvbyte_spark.session import _quickack
    opt = socket.IPPROTO_TCP, socket.TCP_QUICKACK
    a, b = socket.socketpair(socket.AF_UNIX)
    with a, b:
        _quickack(a)
        with os.fdopen(os.dup(a.fileno()), "rb") as f:
            _quickack(f)
    r, w = os.pipe()
    with os.fdopen(r, "rb") as pipe, os.fdopen(w, "wb"):
        _quickack(pipe)
    _quickack(pipe)  # closed
    with socket.create_server(("127.0.0.1", 0)) as lsn, \
            socket.create_connection(lsn.getsockname()) as c, \
            lsn.accept()[0] as s:
        for target in (s, c):
            target.setsockopt(*opt, 0)
            assert target.getsockopt(*opt) == 0
            _quickack(target)
            assert target.getsockopt(*opt) == 1
        s.setsockopt(*opt, 0)
        with os.fdopen(os.dup(s.fileno()), "rb") as f:
            _quickack(f)
        assert s.getsockopt(*opt) == 1


def test_quickack_wrap_installs_once_in_daemon_workers(monkeypatch):
    """The wrap replaces the daemon's ``worker_main`` once per process and
    only inside a worker; the wrapped call still runs the task with its
    files.  pyspark.daemon must keep the ``worker_main`` global the wrap
    replaces: a PySpark that renames it would silently bring the ~40 ms
    delayed-ACK wait back, so this fails first."""
    import types

    import pyspark.daemon
    from streamvbyte_spark import session
    assert callable(pyspark.daemon.worker_main)

    calls = []
    main = types.ModuleType("__main__")
    main.worker_main = lambda infile, outfile: calls.append((infile, outfile))
    monkeypatch.setitem(sys.modules, "__main__", main)
    monkeypatch.delenv("PYTHON_WORKER_FACTORY_SECRET", raising=False)
    original = main.worker_main
    session._quickack_every_task()
    assert main.worker_main is original  # not a worker: untouched
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "x")
    session._quickack_every_task()
    wrapped = main.worker_main
    session._quickack_every_task()
    assert main.worker_main is wrapped is not original
    a, b = socket.socketpair(socket.AF_UNIX)
    with a, b:
        wrapped(a, b)
    assert calls == [(a, b)]


def test_auto_sorted_selector_kernel():
    """auto_sorted: exact round-trip with mixed ef/standard codec ids, EF
    never assigned to an unsorted row, and the selected size always <= the
    plain auto size (EF only ever improves)."""
    from streamvbyte_spark.codec import batched
    rng = np.random.default_rng(31)
    rows = []
    for i in range(300):
        n = int(rng.integers(0, 60))
        v = rng.integers(0, 2**18, n).astype(np.uint32)
        if i % 2 == 0:
            v = np.sort(v)
        rows.append(v)
    flat = np.concatenate(rows)
    offs = np.concatenate(
        [[0], np.cumsum([len(r) for r in rows])]).astype(np.int64)
    out, ooff, cids = batched.encode_rows(flat, offs, codec="auto_sorted")
    dec, _ = batched.decode_rows(out, ooff, offs[1:] - offs[:-1], cids)
    assert np.array_equal(dec, flat)
    assert (np.diff(ooff) <= batched.size_rows(flat, offs, "auto")).all()
    is_ef = cids == batched.CODEC_ID["ef"]
    assert is_ef.any()
    assert not (is_ef & ~batched.row_sorted_mask(flat, offs)).any()


def test_checkpoint_resume_idempotent_across_commit_gap(spark, tok):
    """Crash between the data write and the lineage commit must not
    duplicate rows on rerun: dynamic partition overwrite REPLACES the
    uncommitted bucket partitions instead of appending to them."""
    import os
    path = tempfile.mkdtemp(prefix="svb_ckpt_gap_")
    try:
        encode_with_checkpoint(tok, path, n_buckets=8)
        n = read_encoded(spark, path).count()
        assert n == tok.count()
        # simulate the gap crash: data committed, lineage rows lost
        shutil.rmtree(os.path.join(path, "_lineage"))
        r = encode_with_checkpoint(tok, path, n_buckets=8)
        assert r["encoded_buckets"] == 8  # rerun believed nothing committed
        enc = read_encoded(spark, path)
        assert enc.count() == n  # no duplicates
        assert verify_roundtrip(tok, decode_table(enc.drop("bucket"))) == 0
        lin = lineage_metrics(spark, path)
        agg = enc.groupBy("bucket").agg(F.sum("checksum").alias("cs"))
        assert lin.join(agg, "bucket").where(
            F.col("cs") != F.col("checksum_sum")).count() == 0
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_sql_zigzag_udfs(spark):
    """Zigzag stream variants callable from SQL (reference zigzag API,
    include/streamvbyte_zigzag.h): signed arrays round-trip through both
    svb_zigzag and svb_zz_delta streams."""
    from streamvbyte_spark.functions.udfs import register_udfs
    register_udfs(spark)
    rows = [("a", [0, -1, 1, -2, 2147483647, -2147483648]),
            ("b", []),
            ("c", [-5, -4, -3, 0, 100000, -100000])]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    df.createOrReplaceTempView("zz_udf")
    got = spark.sql("""
        select doc_id, tokens,
               zigzag_decode(zigzag_encode(tokens), size(tokens)) as zz,
               zzdelta_decode(zzdelta_encode(tokens), size(tokens)) as zzd
        from zz_udf
    """).collect()
    for r in got:
        assert r.zz == r.tokens, r.doc_id
        assert r.zzd == r.tokens, r.doc_id


def test_decode_image_table_real_ppm(spark):
    """Real image decode through the Spark operator: PPM payloads built from
    known pixels decode (and resize) to exact shapes and channel means."""
    import numpy as np
    from streamvbyte_spark.operators.multimodal import decode_image_table
    from tests.test_multimodal_decode import make_ppm

    rng = np.random.default_rng(9)
    imgs = {f"m{i}": rng.integers(0, 256, (8 + i, 6, 3), dtype=np.uint8)
            for i in range(5)}
    rows = [(k, "image/ppm", bytearray(make_ppm(v))) for k, v in imgs.items()]
    df = spark.createDataFrame(rows, "doc_id string, media_type string, payload binary")
    got = {r.doc_id: r for r in decode_image_table(df).collect()}
    for k, v in imgs.items():
        r = got[k]
        assert (r.height, r.width) == v.shape[:2]
        np.testing.assert_allclose(
            [r.mean_r, r.mean_g, r.mean_b],
            v.reshape(-1, 3).mean(axis=0), rtol=1e-12)
    # resized path
    got2 = decode_image_table(df, out_w=4, out_h=4).collect()
    assert all(r.height == 4 and r.width == 4 for r in got2)


def test_image_tables_name_failing_doc_id(spark):
    """One corrupt JPEG among clean JPEG/PNG/PPM rows of one Arrow batch
    fails both image table kernels with a ValueError naming its doc_id."""
    from streamvbyte_spark.operators.jpeg import encode_gray_blocks_jpeg
    from streamvbyte_spark.operators.multimodal import (decode_image_table,
                                                        encode_png,
                                                        image_stats_table)
    from tests.test_multimodal_decode import make_ppm

    rng = np.random.default_rng(4)
    jp = encode_gray_blocks_jpeg(np.array([1, 2, 3, 4]), 2)
    sos = jp.find(b"\xff\xda")
    ent0 = sos + 2 + int.from_bytes(jp[sos + 2:sos + 4], "big")
    # sixteen 1-bits (FF00 de-stuffs to FF) match no Annex K DC code
    bad = jp[:ent0] + b"\xff\x00\xff\x00" + jp[ent0 + 4:]
    rows = [("j0", jp),
            ("p1", encode_png(rng.integers(0, 256, (5, 4, 3), np.uint8))),
            ("bad", bad),
            ("m3", make_ppm(rng.integers(0, 256, (2, 2, 3), np.uint8)))]
    df = spark.createDataFrame(
        [(d, bytearray(p)) for d, p in rows],
        "doc_id string, payload binary").coalesce(1)
    clean = df.where(F.col("doc_id") != "bad")
    for table in (image_stats_table, decode_image_table):
        assert table(clean).count() == 3
        with pytest.raises(Exception,
                           match="ValueError: invalid JPEG Huffman code "
                                 "decoding doc_id=bad"):
            table(df).collect()


def test_connected_components_known_graph(spark):
    """Label propagation must find exact components on a graph with a long
    chain (stresses multi-round convergence), a triangle, and an isolated
    edge."""
    from streamvbyte_spark.operators.components import connected_components
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),  # chain
             ("x", "y"), ("y", "z"), ("x", "z"),              # triangle
             ("p", "q")]                                      # edge
    df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
    got = {r.doc_id: r.component_id
           for r in connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "a",
                   "x": "x", "y": "x", "z": "x",
                   "p": "p", "q": "p"}


def test_million_token_doc_chunked_fused(spark):
    """A single 1M-token document survives chunk -> delta encode -> fused
    mapInArrow decode (exercises the int32-offset guard path headroom, the
    prev chain across 245 chunk seams, and the carried-run logic at real
    chunk counts)."""
    import numpy as np
    from streamvbyte_spark.operators.chunking import (
        chunk_tokens, decode_reassemble_fused, encode_chunked_delta)
    n = 1_000_000
    rng = np.random.default_rng(17)
    toks = np.cumsum(rng.integers(0, 9, n, dtype=np.int64)).astype(np.int64)
    df = spark.createDataFrame(
        [("big", toks.astype(int).tolist(), n, "stress")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    enc = encode_chunked_delta(chunk_tokens(df, chunk_size=4096))
    out = decode_reassemble_fused(enc).collect()
    assert len(out) == 1 and out[0].n_tok == n
    np.testing.assert_array_equal(np.array(out[0].tokens, dtype=np.int64), toks)


def test_jsonl_source_roundtrip(spark, tok):
    """JSONL staging format: write the canonical token table as JSON-Lines,
    read it back through tokens_from_jsonl, encode both — byte-identical."""
    from streamvbyte_spark.sources import tokens_from_jsonl, write_tokens_jsonl
    path = tempfile.mkdtemp(prefix="svb_jsonl_")
    try:
        write_tokens_jsonl(tok, path + "/j")
        back = tokens_from_jsonl(spark, path + "/j")
        assert back.count() == tok.count()
        assert verify_roundtrip(tok, back) == 0  # token arrays identical
        a = {r.doc_id: bytes(r.encoded)
             for r in encode_table(tok, codec="auto").collect()}
        b = {r.doc_id: bytes(r.encoded)
             for r in encode_table(back, codec="auto").collect()}
        assert a == b
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_compact_encoded_preserves_bytes(spark, tok):
    """Compaction must shrink the file count and leave every encoded payload
    byte-identical (and the lineage checksums still matching)."""
    import os
    from streamvbyte_spark.operators.lineage import (
        compact_encoded, encode_with_checkpoint, read_encoded)
    path = tempfile.mkdtemp(prefix="svb_compact_")
    try:
        # many writer tasks -> one file per (task, bucket): the small-file
        # problem every append/resume cycle compounds
        encode_with_checkpoint(tok.repartition(6), path, n_buckets=4)
        before = {r.doc_id: bytes(r.encoded)
                  for r in read_encoded(spark, path).collect()}
        stats = compact_encoded(spark, path, files_per_bucket=1)
        assert stats["files_after"] < stats["files_before"]
        assert stats["files_after"] <= 4
        after = {r.doc_id: bytes(r.encoded)
                 for r in read_encoded(spark, path).collect()}
        assert after == before
        assert verify_roundtrip(tok, decode_table(
            read_encoded(spark, path).drop("bucket"))) == 0
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_encoded_scan_pushes_doc_filter(spark, tok):
    """A doc_id predicate on the encoded table must reach the parquet scan
    (PushedFilters) BEFORE any decode stage — decode work is proportional to
    rows scanned, so pushdown is the decode-side scan-pruning lever."""
    path = tempfile.mkdtemp(prefix="svb_push_")
    try:
        encode_table(tok, codec="auto").write.mode("overwrite").parquet(path + "/enc")
        enc = spark.read.parquet(path + "/enc").where(F.col("doc_id") >= "doc0000000100")
        dec = decode_table(enc)
        from streamvbyte_spark.plans import plan_string
        plan = plan_string(dec, "formatted")
        assert "PushedFilters" in plan and "GreaterThanOrEqual(doc_id" in plan, plan
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_vocab_remap_invertible_and_smaller(spark, tok):
    """Frequency-rank remap: bijective over the corpus vocab (invertible
    given the vocab table), rank 0 = most frequent token, and the auto-codec
    output must shrink on the zipf-ish corpus."""
    from streamvbyte_spark.operators.vocab import build_vocab, remap_tokens
    vocab = build_vocab(tok)
    v = {r.token: r.new_id for r in vocab.collect()}
    assert sorted(v.values()) == list(range(len(v)))  # bijection onto 0..K-1
    remapped = remap_tokens(tok, vocab)
    back = {r.doc_id: [  # invert through the vocab
        inv[t] for t in r.tokens] for r in remapped.collect()
        for inv in [{nid: tk for tk, nid in v.items()}]}
    orig = {r.doc_id: list(r.tokens) for r in tok.collect()}
    assert back == orig
    before = encode_table(tok, codec="auto").agg(F.sum("out_bytes")).collect()[0][0]
    after = encode_table(remapped, codec="auto").agg(F.sum("out_bytes")).collect()[0][0]
    assert after < before


def test_vocab_remap_guard_and_join_fallback(spark, tok):
    """An over-limit vocabulary must fail loudly instead of silently
    collecting an open id space to the driver; the shuffle-join fallback
    must produce the identical remap without any driver-side vocab."""
    from streamvbyte_spark.operators.vocab import (build_vocab, remap_tokens,
                                                   remap_tokens_join)
    vocab = build_vocab(tok)
    with pytest.raises(ValueError, match="max_vocab"):
        remap_tokens(tok, vocab, max_vocab=5)  # corpus vocab >> 5
    a = {r.doc_id: list(r.tokens) for r in remap_tokens(tok, vocab).collect()}
    b = {r.doc_id: list(r.tokens)
         for r in remap_tokens_join(tok, vocab).collect()}
    assert a == b
    # a token missing from the vocab must raise, not silently mis-remap
    df = spark.createDataFrame(
        [("d0", [1, 2, 999], 3, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    small = spark.createDataFrame([(1, 0), (2, 1)], "token int, new_id int")
    with pytest.raises(Exception, match="outside the vocabulary"):
        remap_tokens_join(df, small).collect()


def test_connected_components_rejects_bad_max_iters(spark):
    from streamvbyte_spark.operators.components import connected_components
    pairs = spark.createDataFrame([("a", "b")], "doc_a string, doc_b string")
    with pytest.raises(ValueError, match="max_iters"):
        connected_components(pairs, max_iters=0)


def test_jsonl_missing_tokens_fails_loudly(spark):
    from streamvbyte_spark.sources import tokens_from_jsonl
    import os
    path = tempfile.mkdtemp(prefix="svb_jsonl_bad_")
    try:
        with open(os.path.join(path, "a.json"), "w") as f:
            f.write('{"doc_id": "ok", "tokens": [1, 2], "source": "s"}\n')
            f.write('{"doc_id": "bad", "source": "s"}\n')  # tokens missing
        with pytest.raises(Exception) as ei:
            tokens_from_jsonl(spark, path).collect()
        assert "missing tokens" in str(ei.value)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_csv_non_integer_token_fails_loudly(spark):
    """FAILFAST can't see inside the space-joined token column (it's read as
    a string); the reader's own guard must reject a non-numeric token id
    instead of letting the non-ANSI cast silently NULL it."""
    from streamvbyte_spark.sources import tokens_from_csv
    import os
    path = tempfile.mkdtemp(prefix="svb_csv_bad_")
    try:
        with open(os.path.join(path, "a.csv"), "w") as f:
            f.write("doc_id,toks,source\n")
            f.write("ok,1 2 3,s\n")
            f.write("bad,1 x 3,s\n")  # 'x' is not an int token id
        with pytest.raises(Exception) as ei:
            tokens_from_csv(spark, path).collect()
        assert "non-integer token" in str(ei.value)
        # the good-only file still reads
        with open(os.path.join(path, "a.csv"), "w") as f:
            f.write("doc_id,toks,source\n")
            f.write("ok,1 2 3,s\n")
        rows = tokens_from_csv(spark, path).collect()
        assert rows[0].tokens == [1, 2, 3] and rows[0].n_tok == 3
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_compact_files_per_bucket_splits(spark, tok):
    """files_per_bucket > 1 must actually split each bucket's rows into
    multiple files (the salt path; repartition on bucket alone cannot)."""
    from streamvbyte_spark.operators.lineage import (
        compact_encoded, encode_with_checkpoint, read_encoded)
    path = tempfile.mkdtemp(prefix="svb_compact2_")
    try:
        encode_with_checkpoint(tok, path, n_buckets=2)
        before = {r.doc_id: bytes(r.encoded)
                  for r in read_encoded(spark, path).collect()}
        stats = compact_encoded(spark, path, files_per_bucket=3)
        assert stats["files_after"] > 2  # more than one file per bucket
        after = {r.doc_id: bytes(r.encoded)
                 for r in read_encoded(spark, path).collect()}
        assert after == before
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_zone_map_null_for_empty_docs(spark):
    """Empty token arrays must produce NULL zone-map bounds, not 0/0 (a 0/0
    sentinel is indistinguishable from an all-zeros doc)."""
    df = spark.createDataFrame(
        [("e", [], 0, "s"), ("z", [0, 0], 2, "s"), ("v", [5, 9], 2, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    rows = {r.doc_id: r for r in encode_table(df, codec="auto").collect()}
    assert rows["e"].tok_min is None and rows["e"].tok_max is None
    assert rows["z"].tok_min == 0 and rows["z"].tok_max == 0
    assert rows["v"].tok_min == 5 and rows["v"].tok_max == 9


def test_vectorized_tokenizer_matches_sql_expression(spark):
    """tokenize_rows (the numpy UTF-8 kernel fused into doc_simhash_text /
    doc_fingerprint_text) must be value-identical to the dialect-paired SQL
    tokenizer expression (tokens_from_documents) on real testdata AND on
    adversarial texts (empty, repeated spaces, multibyte, astral-plane
    emoji, 8+-char words hitting the 2^24 arm)."""
    import pyarrow as pa
    from streamvbyte_spark.functions.sqlpair import spark_tokens_expr
    from streamvbyte_spark.functions.text_udfs import tokenize_rows
    from streamvbyte_spark.arrow_rows import binary_flat

    def kernel_tokens(texts):
        data, off = binary_flat(pa.array(texts, pa.string()).cast(pa.binary()))
        flat, toff = tokenize_rows(data, off)
        return [flat[toff[i]:toff[i + 1]].tolist() for i in range(len(texts))]

    rows = (tokens_from_documents(spark, SF)
            .select("doc_id", "tokens", "n_tok").collect())
    texts_by_id = {r.doc_id: r.text for r in spark.read.parquet(
        f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text").collect()}
    got = kernel_tokens([texts_by_id[r.doc_id] for r in rows])
    for r, ktok in zip(rows, got):
        assert r.tokens == ktok and r.n_tok == len(ktok), r.doc_id

    texts = ["", "a", "a b", "a  b", " lead", "trail ", " ", "  ",
             "héllo wörld ünïcode tęst", "日本語 の テスト 文書 です",
             "emoji 🙂 in 🚀 text 🌍 here",
             "longword12345 another-long-word", "dup dup dup"]
    sql = [r.t for r in spark.createDataFrame(
        [(t,) for t in texts], "text string").select(
        F.expr(spark_tokens_expr("text")).alias("t")).collect()]
    assert kernel_tokens(texts) == sql
    # int32 overflow (astral char at a >=5-char word 3rd position): BOTH
    # forms must refuse, like the engines' ANSI cast
    with pytest.raises(Exception, match="(?i)overflow"):
        kernel_tokens(["🙂🙂🙂🙂🙂🙂🙂🙂"])
    with pytest.raises(Exception, match="(?i)overflow"):
        spark.createDataFrame([("🙂🙂🙂🙂🙂🙂🙂🙂",)], "text string").select(
            F.expr(spark_tokens_expr("text")).alias("t")).collect()


def test_size_table_matches_encode_out_bytes(spark):
    """size_table (cost-only, the reference compressedbytes shape) must
    equal the encode pass's out_bytes for every row and codec path."""
    from streamvbyte_spark.operators import size_table
    from streamvbyte_spark.sources import posting_lists
    for codec in ("auto", "svb", "svb0124", "rle"):
        got = {r.doc_id: r.size_bytes for r in size_table(
            tokens_from_documents(spark, SF), codec=codec).collect()}
        want = {r.doc_id: r.out_bytes for r in encode_table(
            tokens_from_documents(spark, SF), codec=codec).collect()}
        assert got == want, codec
    for codec in ("svb_delta", "auto_sorted"):
        got = {r.doc_id: r.size_bytes for r in size_table(
            posting_lists(spark, SF), codec=codec).collect()}
        want = {r.doc_id: r.out_bytes for r in encode_table(
            posting_lists(spark, SF), codec=codec).collect()}
        assert got == want, codec


def test_unknown_codec_name_raises_on_the_driver(tok):
    """An unknown codec name raises ValueError listing the valid names from
    the batched kernels and, when called — before any task runs, as no
    action is taken here — from the encode UDF factory and every DataFrame
    entry point taking one."""
    from streamvbyte_spark.codec import batched
    from streamvbyte_spark.functions.udfs import make_encode_udf
    from streamvbyte_spark.operators import size_table
    from streamvbyte_spark.operators.packing import (pack_encoded_rows,
                                                     pack_tokens_encoded)
    flat, off = np.arange(5, dtype=np.uint32), np.array([0, 5])
    for call in (lambda: batched.encode_rows(flat, off, "bogus"),
                 lambda: batched.size_rows(flat, off, "bogus"),
                 lambda: make_encode_udf("bogus"),
                 lambda: encode_table(tok, codec="bogus"),
                 lambda: size_table(tok, codec="bogus"),
                 lambda: pack_tokens_encoded(tok, codec="bogus"),
                 lambda: pack_encoded_rows(encode_table(tok), codec="bogus")):
        with pytest.raises(ValueError, match="unknown codec 'bogus'; "
                           "expected one of svb, .*, auto_sorted$"):
            call()


def test_fused_text_paths_reject_null_text(spark):
    """NULL text must raise loudly on the fused-tokenizer path (the SQL
    forms yield NULL tokens; silently tokenizing null-as-'' would emit
    token [0] and diverge from the oracles)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from streamvbyte_spark.functions.text_udfs import doc_fingerprint_text
    tmp = tempfile.mkdtemp(prefix="svb_nulltext_")
    try:
        pq.write_table(pa.table({
            "doc_id": ["a", "b"], "text": ["ok doc", None],
            "source": ["s", "s"]}), f"{tmp}/documents.parquet")
        docs = spark.read.parquet(f"{tmp}/documents.parquet")
        with pytest.raises(Exception, match="NULL"):
            docs.select(doc_fingerprint_text("text")).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------- inverted index

_IDX_ROWS = [
    (0, "a b a c", "s"),      # duplicate word within one doc -> one posting
    (1, "", "s"),             # empty text -> no terms
    (127, "a  b", "s"),       # double space -> empty token dropped
    (128, "b c", "s"),        # exact chunk-span boundary (span = 128)
    (129, "a", "s"),
    (300, "c a", "s"),
    (4096, "a", "s"),         # far, sparse chunk
]


def _idx_docs(spark):
    return spark.createDataFrame(
        _IDX_ROWS, "doc_id long, text string, source string")


def test_index_chunked_matches_logical(spark):
    """The skew-proof chunked build (groupBy (term, did div span), EF per
    chunk) must reassemble to EXACTLY the logical full-list index, across
    chunk-span boundaries, duplicate in-doc terms, and empty texts."""
    from streamvbyte_spark.operators.chunking import decode_chunked_delta
    from streamvbyte_spark.operators.index import (build_index_chunked,
                                                   term_postings)
    docs = _idx_docs(spark)
    enc = build_index_chunked(docs)
    got: dict[str, list] = {}
    for r in decode_chunked_delta(enc, codec="ef").collect():
        got.setdefault(r.doc_id, []).append((r.chunk_id, list(r.chunk)))
    rebuilt = {t: [d for _, ch in sorted(v) for d in ch]
               for t, v in got.items()}
    want = {r.doc_id: list(r.tokens) for r in term_postings(docs).collect()}
    assert rebuilt == want
    assert want["a"] == [0, 127, 129, 300, 4096]
    # the span really split a term across chunks
    assert max(len(v) for v in got.values()) >= 3
    # tok_start is each chunk's offset in the term's full list
    starts = {(r.doc_id, r.chunk_id): r.tok_start for r in enc.collect()}
    for term, chunks in got.items():
        off = 0
        for cid, ch in sorted(chunks):
            assert starts[(term, cid)] == off, (term, cid)
            off += len(ch)


def test_index_intersect_terms(spark):
    """Serving from the encoded wire: AND of two terms = the exact set
    intersection, fingerprinted over ascending ids; absent/disjoint terms
    yield the (0, 0) row, not an empty result."""
    from streamvbyte_spark.operators.index import (build_index_chunked,
                                                   intersect_terms)
    enc = build_index_chunked(_idx_docs(spark)).localCheckpoint()
    row = intersect_terms(enc, "a", "c").collect()[0]
    # a -> {0,127,129,300,4096}; c -> {0,128,300}; common {0,300}
    p, fp = 10**9 + 7, 0
    for t in [0, 300]:
        fp = (fp * 31 + t) % p
    assert (row.term_a, row.term_b, row.n_common) == ("a", "c", 2)
    assert row.fingerprint == fp
    empty = intersect_terms(enc, "b", "zzz").collect()[0]
    assert (empty.n_common, empty.fingerprint) == (0, 0)


def test_index_tf_chunked_and_topk(spark):
    """The TF build's in-kernel run-length (sorted duplicated dids ->
    (distinct did, tf)) must reproduce exact per-(term, doc) counts, and
    the AND top-k must score tf_a + tf_b with deterministic
    (score desc, did asc) order."""
    from collections import Counter
    from streamvbyte_spark.operators.index import (build_index_tf_chunked,
                                                   decode_index_tf,
                                                   topk_and_terms)
    docs = _idx_docs(spark)
    enc = build_index_tf_chunked(docs).localCheckpoint()
    got = {(r.term, r.did): r.tf for r in decode_index_tf(enc).collect()}
    want = Counter()
    for did, text, _ in _IDX_ROWS:
        for w in text.split(" "):
            if w:
                want[(w, did)] += 1
    assert got == dict(want)
    # a AND c: doc 0 has a twice + c once (score 3), doc 300 once each (2)
    rows = topk_and_terms(enc, "a", "c", k=10).collect()
    assert [(r.did, r.tf_a, r.tf_b, r.score) for r in rows] == \
        [(0, 2, 1, 3), (300, 1, 1, 2)]
    # k cuts the list, order preserved
    assert [r.did for r in topk_and_terms(enc, "a", "c", k=1).collect()] == [0]


def _topk_reference(enc, a, b, k):
    """Driver-side reference for the co-grouped top-k (the retired r9
    decode-everything plan, re-derived from the decoded posting rows):
    exact per-(term, doc) tfs, score = tf_a + tf_b, (score desc, did asc)
    order, cut at k."""
    from streamvbyte_spark.operators.index import decode_index_tf
    posts = [(r.term, r.did, r.tf) for r in decode_index_tf(enc).collect()]
    ta = {did: tf for t, did, tf in posts if t == a}
    tb = {did: tf for t, did, tf in posts if t == b}
    rows = [(did, ta[did], tb[did], ta[did] + tb[did])
            for did in set(ta) & set(tb)]
    rows.sort(key=lambda r: (-r[3], r[0]))
    return rows[:k]


def test_index_topk_cogrouped_parity(spark):
    """The co-grouped top-k (one scan, chunks aligned by chunk_id inside
    the kernel, in-lane score + per-batch local top-k) must return
    EXACTLY what a driver-side reference computes from the decoded
    posting rows — rows, order, and ties — on the fixture corpus and on a
    denser multi-chunk corpus with tf > 1 and score ties; and its plan
    must be the one-scan shape (one kernel over the doc_id IN scan, no
    posting explode, no join)."""
    import random
    from streamvbyte_spark.operators.index import (build_index_tf_chunked,
                                                   topk_and_terms)
    from streamvbyte_spark.plans.explain import plan_string

    enc = build_index_tf_chunked(_idx_docs(spark)).localCheckpoint()
    for a, b, k in [("a", "c", 10), ("a", "c", 1), ("b", "zzz", 5),
                    ("c", "c", 10)]:
        want = _topk_reference(enc, a, b, k)
        got = [(r.did, r.tf_a, r.tf_b, r.score) for r in
               topk_and_terms(enc, a, b, k=k).collect()]
        assert got == want, (a, b, k)

    # denser corpus: 300 docs over 3+ chunks (span 128), tf in [1, 4],
    # many equal scores so the did-asc tie-break is actually exercised
    rng = random.Random(7)
    rows = []
    for did in range(0, 3000, 10):
        words = []
        for w in ("x", "y", "z"):
            words += [w] * rng.randint(0, 4)
        rows.append((did, " ".join(words), "s"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                 "source string")
    enc2 = build_index_tf_chunked(docs).localCheckpoint()
    for k in (1, 10, 10_000):
        want = _topk_reference(enc2, "x", "y", k)
        got = [(r.did, r.tf_a, r.tf_b, r.score) for r in
               topk_and_terms(enc2, "x", "y", k=k).collect()]
        assert got == want, k
    plan = plan_string(topk_and_terms(enc2, "x", "y"), "simple")
    assert plan.count("MapInArrow") == 1, plan
    assert "Generate" not in plan, plan
    assert "Join" not in plan, plan
    assert "doc_id#" in plan and " IN (x,y)" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_index_intersect_multi_kway(spark):
    """K-way AND serving: the k-way chunk_id join + in-lane
    intersect fold must reproduce the exact set intersection for k = 1,
    2, 3 — including k = 2 parity with the gate-scalar intersect_terms,
    a term absent from the index (empty result row), and a k = 3 probe
    whose pairwise intersections are non-empty but whose 3-way
    intersection is smaller; the distributed rows form must carry the
    same ids it folds."""
    from streamvbyte_spark.operators.index import (build_index_chunked,
                                                   intersect_terms,
                                                   intersect_terms_multi,
                                                   intersect_terms_rows)
    # a -> {0,127,129,300,4096}; c -> {0,128,300}; d -> {300,4096}
    rows = [
        (0, "a c", "s"), (127, "a", "s"), (128, "c", "s"),
        (129, "a", "s"), (300, "a c d", "s"), (4096, "a d", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                 "source string")
    enc = build_index_chunked(docs).localCheckpoint()

    def fold(ids):
        p, fp = 10**9 + 7, 0
        for t in ids:
            fp = (fp * 31 + t) % p
        return fp

    # k=3: a&c = {0,300}, a&d = {300,4096}, c&d = {300}; 3-way = {300}
    row = intersect_terms_multi(enc, ["a", "c", "d"]).collect()[0]
    assert (row.term_a, row.term_b, row.term_c) == ("a", "c", "d")
    assert (row.n_common, row.fingerprint) == (1, fold([300]))
    got_rows = sorted(r.did for r in
                      intersect_terms_rows(enc, ["a", "c", "d"]).collect())
    assert got_rows == [300]
    # k=2 parity with the gate-scalar wrapper
    two = intersect_terms_multi(enc, ["a", "c"]).collect()[0]
    ref = intersect_terms(enc, "a", "c").collect()[0]
    assert (two.term_a, two.term_b, two.n_common, two.fingerprint) == \
        (ref.term_a, ref.term_b, ref.n_common, ref.fingerprint)
    # k=1 degenerates to the term's own postings
    one = intersect_terms_multi(enc, ["c"]).collect()[0]
    assert (one.term_a, one.n_common, one.fingerprint) == \
        ("c", 3, fold([0, 128, 300]))
    # an absent term empties any k-way AND
    none = intersect_terms_multi(enc, ["a", "c", "zzz"]).collect()[0]
    assert (none.n_common, none.fingerprint) == (0, 0)
    import pytest
    with pytest.raises(ValueError):
        intersect_terms_rows(enc, [])
    # wire-agnostic serving: the TF wire's EF did stream answers the
    # same set queries — no second set-wire build needed
    from streamvbyte_spark.operators.index import (build_index_pos_chunked,
                                                   build_index_tf_chunked,
                                                   union_terms)
    set_row = union_terms(enc, "a", "c").collect()[0]
    for build in (build_index_tf_chunked, build_index_pos_chunked):
        enc_w = build(docs).localCheckpoint()
        assert sorted(r.did for r in intersect_terms_rows(
            enc_w, ["a", "c", "d"]).collect()) == [300], build.__name__
        assert tuple(union_terms(enc_w, "a", "c").collect()[0]) == \
            tuple(set_row), build.__name__
    with pytest.raises(ValueError):
        intersect_terms_rows(docs, ["a"])   # not an index chunk table


def test_index_store_and_serve_pushes_probe_predicate(spark):
    """The real serving path: the TF index STORED as parquet, top-k served
    from storage.  The probe filter must reach the parquet scan as a
    pushed filter (at 100 TB this is what makes a query read ~df/span
    chunk rows instead of the whole index), and the served result must
    match the in-memory build."""
    import re
    from streamvbyte_spark.operators.index import (build_index_tf_chunked,
                                                   topk_and_terms)
    from streamvbyte_spark.plans.explain import plan_string
    tmp = tempfile.mkdtemp(prefix="svb_idxstore_")
    try:
        docs = _idx_docs(spark)
        build_index_tf_chunked(docs).write.mode("overwrite") \
            .parquet(f"{tmp}/index")
        stored = spark.read.parquet(f"{tmp}/index")
        served = topk_and_terms(stored, "a", "c", k=10)
        plan = plan_string(served, "simple")
        # top-k scans the stored index once for both probed terms, with
        # the doc_id IN predicate pushed to parquet
        scans = re.findall(r"FileScan parquet.*", plan)
        assert len(scans) == 1, plan
        assert "PushedFilters: [In(doc_id, [a,c])]" in scans[0], scans[0]
        want = [(r.did, r.tf_a, r.tf_b, r.score) for r in
                topk_and_terms(build_index_tf_chunked(docs).localCheckpoint(),
                               "a", "c", k=10).collect()]
        got = [(r.did, r.tf_a, r.tf_b, r.score) for r in served.collect()]
        assert got == want == [(0, 2, 1, 3), (300, 1, 1, 2)]
        # k-way AND rows from the stored SET wire scan once per probed
        # term: all k equality predicates must reach their scans pushed
        # too, and the result must match the in-memory build
        from streamvbyte_spark.operators.index import (build_index_chunked,
                                                       intersect_terms_rows)
        build_index_chunked(docs).write.mode("overwrite") \
            .parquet(f"{tmp}/set")
        stored_set = spark.read.parquet(f"{tmp}/set")
        kway = intersect_terms_rows(stored_set, ["a", "b", "c"])
        kplan = plan_string(kway, "simple")
        kscans = re.findall(r"FileScan parquet.*", kplan)
        assert len(kscans) >= 1, kplan
        for scan in kscans:
            assert "PushedFilters" in scan and "EqualTo(doc_id" in scan, scan
        # a -> {0,127,129,300,4096}; b -> {0,127,128}; c -> {0,128,300}
        assert sorted(r.did for r in kway.collect()) == [0]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_index_positional_phrase(spark):
    """The positional wire must reproduce exact (term, did, pos)
    occurrences — positions are offsets in the RAW split, so a doubled
    space breaks adjacency — and the phrase join must find exactly the
    docs where term_b directly follows term_a."""
    from streamvbyte_spark.operators.index import (build_index_pos_chunked,
                                                   decode_index_pos,
                                                   phrase_match_terms)
    rows = [
        (0, "x y", "s"),          # adjacent
        (1, "x z y", "s"),        # not adjacent
        (2, "y x", "s"),          # wrong order
        (3, "x  y", "s"),         # doubled space -> positions 0 and 2
        (4, "w x y x y", "s"),    # two matches in one doc -> one hit
        (200, "x y", "s"),        # second chunk at span 128
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    enc = build_index_pos_chunked(docs).localCheckpoint()
    got = {(r.term, r.did, r.pos) for r in decode_index_pos(enc).collect()}
    want = set()
    for did, text, _ in rows:
        for p, w in enumerate(text.split(" ")):
            if w:
                want.add((w, did, p))
    assert got == want
    hit = phrase_match_terms(enc, "x", "y").collect()[0]
    p, fp = 10**9 + 7, 0
    for t in [0, 4, 200]:
        fp = (fp * 31 + t) % p
    assert (hit.term_a, hit.term_b, hit.n_docs, hit.fingerprint) == \
        ("x", "y", 3, fp)
    none = phrase_match_terms(enc, "y", "w").collect()[0]
    assert (none.n_docs, none.fingerprint) == (0, 0)


def test_index_union_terms(spark):
    """OR serving from the set wire (co-grouped r9: full-outer chunk_id
    join + in-lane union), same gate-scalar row shape as the AND form —
    including the null-side edges the full-outer join introduces (a term
    absent from a chunk or from the whole index coalesces to an n=0 /
    empty-bytes lane)."""
    from streamvbyte_spark.operators.index import (build_index_chunked,
                                                   union_terms)
    enc = build_index_chunked(_idx_docs(spark)).localCheckpoint()

    def fold(ids):
        p, fp = 10**9 + 7, 0
        for t in ids:
            fp = (fp * 31 + t) % p
        return fp

    row = union_terms(enc, "a", "c").collect()[0]
    # a -> {0,127,129,300,4096}; c -> {0,128,300}; union has 6 docs
    assert (row.term_a, row.term_b, row.n_docs) == ("a", "c", 6)
    assert row.fingerprint == fold([0, 127, 128, 129, 300, 4096])
    # one side absent from the index entirely: every join row is null
    # on that side; the union must be exactly the present term
    ghost = union_terms(enc, "a", "nosuchterm").collect()[0]
    assert (ghost.n_docs, ghost.fingerprint) == \
        (5, fold([0, 127, 129, 300, 4096]))
    # degenerate same-term OR: in-lane union of identical lists
    same = union_terms(enc, "c", "c").collect()[0]
    assert (same.n_docs, same.fingerprint) == (3, fold([0, 128, 300]))
    # both sides absent: empty union, zero fingerprint
    none = union_terms(enc, "ghost1", "ghost2").collect()[0]
    assert (none.n_docs, none.fingerprint) == (0, 0)


def _sql_gate_fold(rows, terms, count_name):
    """The reference gate row: the SQL fold over a serving op's
    distributed ``did`` rows — collect them on one reducer, sort, count
    and fingerprint them in SQL."""
    from streamvbyte_spark.queries import spark_fingerprint
    names = [f"term_{chr(97 + i)}" for i in range(len(terms))]
    return (rows.groupBy()
            .agg(F.sort_array(F.collect_list("did")).alias("ids"))
            .select(*[F.lit(t).alias(n) for n, t in zip(names, terms)],
                    F.size("ids").alias(count_name),
                    F.expr(spark_fingerprint("ids")).alias("fingerprint")))


def test_gate_fold_matches_sql_fold(spark):
    """Each gate-scalar serving op folds its row inside its serving kernel;
    the row equals the SQL fold over the op's own rows form on seeded did
    sets: graded densities whose results spread over several input
    partitions and many chunks, an empty intersection, an absent term,
    and a phrase."""
    from streamvbyte_spark.operators.index import (
        build_index_chunked, build_index_pos_chunked, intersect_terms,
        intersect_terms_multi, intersect_terms_rows, phrase_match_rows,
        phrase_match_terms, union_terms, union_terms_rows)
    rng = np.random.default_rng(11)
    n = 3000
    member = {t: rng.random(n) < p for t, p in
              (("a", 0.5), ("b", 0.3), ("c", 0.1), ("d", 0.02))}
    member["e"] = np.arange(n) % 2 == 0
    member["f"] = ~member["e"]                 # never shares a doc with e
    docs = spark.createDataFrame(
        [(i, " ".join(t for t in sorted(member) if member[t][i]), "s")
         for i in range(n)],
        "doc_id long, text string, source string").repartition(4)
    # cached and counted: the cache's measured size lets the probe sides
    # broadcast, so the serving kernels run over the index's 4 partitions
    enc = build_index_chunked(docs).repartition(4).cache()
    enc_pos = build_index_pos_chunked(docs).repartition(4).cache()
    assert enc.count() and enc_pos.count()
    cases = [(intersect_terms(enc, "a", "b"),
              intersect_terms_rows(enc, ["a", "b"]), ["a", "b"], "n_common")]
    for terms in (["a", "b", "c"], ["a", "c", "d"], ["e", "f"], ["a"],
                  ["a", "zzz"]):
        cases.append((intersect_terms_multi(enc, terms),
                      intersect_terms_rows(enc, terms), terms, "n_common"))
    for a, b in (("a", "d"), ("e", "f"), ("c", "zzz"), ("zzz", "yyy")):
        cases.append((union_terms(enc, a, b), union_terms_rows(enc, a, b),
                      [a, b], "n_docs"))
    for a, b in (("a", "b"), ("c", "d"), ("e", "f")):
        cases.append((phrase_match_terms(enc_pos, a, b),
                      phrase_match_rows(enc_pos, a, b), [a, b], "n_docs"))
    spread = intersect_terms_rows(enc, ["a", "b"]).rdd.glom().map(len)
    assert sum(1 for m in spread.collect() if m) > 1
    sizes = []
    for gate, rows, terms, count_name in cases:
        got = gate.collect()
        want = _sql_gate_fold(rows, terms, count_name).collect()
        assert gate.columns == want[0].__fields__, terms
        assert len(got) == 1 and tuple(got[0]) == tuple(want[0]), terms
        sizes.append(got[0][count_name])
    assert 0 in sizes and max(sizes) > 1000
    enc.unpersist()
    enc_pos.unpersist()


def test_gate_row_on_empty_inputs(spark):
    """The gate row stays exactly one (..., 0, 0) row when both terms are
    present but share no chunk (the kernel runs and yields no did), when
    a term is absent (AQE prunes the empty join to zero partitions), and
    when the index itself has zero partitions."""
    from streamvbyte_spark.operators.index import (
        build_index_chunked, build_index_pos_chunked, intersect_terms,
        intersect_terms_multi, phrase_match_terms, union_terms)
    # x occupies chunk 0 only, y chunk 1 only (span 128)
    docs = spark.createDataFrame(
        [(3, "x", "s"), (64, "x", "s"), (130, "y", "s"), (200, "y", "s")],
        "doc_id long, text string, source string")
    enc = build_index_chunked(docs).localCheckpoint()
    enc_pos = build_index_pos_chunked(docs).localCheckpoint()
    zero = spark.createDataFrame(spark.sparkContext.emptyRDD(), enc.schema)
    zero_pos = spark.createDataFrame(spark.sparkContext.emptyRDD(),
                                     enc_pos.schema)
    assert zero.rdd.getNumPartitions() == 0
    for e, ep, a, b in ((enc, enc_pos, "x", "y"), (enc, enc_pos, "x", "q"),
                        (zero, zero_pos, "x", "y")):
        for gate in (intersect_terms(e, a, b),
                     intersect_terms_multi(e, [a, b, a]),
                     phrase_match_terms(ep, a, b)):
            got = gate.collect()
            assert len(got) == 1 and tuple(got[0])[-2:] == (0, 0), (a, b)
    for e, a, b in ((zero, "x", "y"), (enc, "q", "r")):
        got = union_terms(e, a, b).collect()
        assert len(got) == 1 and tuple(got[0])[-2:] == (0, 0), (a, b)


def _py_fold(ids):
    """The gate fingerprint over ascending ids, in plain Python."""
    p, fp = 10**9 + 7, 0
    for t in sorted(ids):
        fp = (fp * 31 + t) % p
    return fp


class _DocTerms:
    """Driver-side serving reference straight off (did, text) rows: the
    raw space split, empties keeping their position slot."""

    def __init__(self, rows):
        self.occ = {}          # term -> {did: [positions]}
        for did, text, _ in rows:
            for pos, t in enumerate(text.split(" ")):
                if t:
                    self.occ.setdefault(t, {}).setdefault(did, []).append(pos)

    def dids(self, t):
        return set(self.occ.get(t, {}))

    def intersect(self, terms):
        return set.intersection(*(self.dids(t) for t in terms))

    def union(self, a, b):
        return self.dids(a) | self.dids(b)

    def phrase(self, a, b):
        pa_, pb = self.occ.get(a, {}), self.occ.get(b, {})
        return {d for d in set(pa_) & set(pb)
                if set(p + 1 for p in pa_[d]) & set(pb[d])}

    def topk(self, a, b, k):
        rows = [(d, len(self.occ[a][d]), len(self.occ[b][d]))
                for d in self.intersect([a, b])]
        rows = [(d, x, y, x + y) for d, x, y in rows]
        return sorted(rows, key=lambda r: (-r[3], r[0]))[:k]


def test_gate_aligner_matches_driver_reference(spark):
    """The one-scan gate plans align every probed term's chunk rows inside
    the kernel's task: their rows equal a driver-side reference on seeded
    term sets for k = 1..5, with repeated terms, an absent term, terms
    that share no chunk, a term that needs SQL quoting, and (under
    maxRecordsPerBatch=2) chunk rows that span Arrow batch seams inside
    the one task; the rows forms keep returning the same dids."""
    from streamvbyte_spark.operators.index import (
        build_index_chunked, build_index_pos_chunked, build_index_tf_chunked,
        intersect_terms, intersect_terms_multi, intersect_terms_rows,
        phrase_match_rows, phrase_match_terms, topk_and_terms, union_terms,
        union_terms_rows)
    rng = np.random.default_rng(5)
    vocab = ["a", "b", "c", "d", "e", "o'k\\x"]
    dens = [0.6, 0.4, 0.25, 0.1, 0.05, 0.2]
    rows = []
    for i in range(600):
        did = 3 * i
        words = [w for w, p in zip(vocab, dens) if rng.random() < p]
        words += list(rng.choice(vocab, rng.integers(0, 4)))
        words += ["lo"] if did < 512 else ["hi"] if did >= 1024 else []
        rng.shuffle(words)
        rows.append((did, " ".join(words), "s"))
    ref = _DocTerms(rows)
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                 "source string")
    enc = build_index_chunked(docs).repartition(4).localCheckpoint()
    enc_tf = build_index_tf_chunked(docs).repartition(4).localCheckpoint()
    enc_pos = build_index_pos_chunked(docs).repartition(4).localCheckpoint()

    def check_and(terms):
        want = ref.intersect(terms)
        row = tuple(intersect_terms_multi(enc, terms).collect()[0])
        assert row == (*terms, len(want), _py_fold(want)), terms
        assert sorted(r.did for r in intersect_terms_rows(
            enc, terms).collect()) == sorted(want), terms

    def check_pairs(a, b):
        want = ref.union(a, b)
        assert tuple(union_terms(enc, a, b).collect()[0]) == \
            (a, b, len(want), _py_fold(want)), (a, b)
        assert sorted(r.did for r in union_terms_rows(
            enc, a, b).collect()) == sorted(want), (a, b)
        want = ref.phrase(a, b)
        assert tuple(phrase_match_terms(enc_pos, a, b).collect()[0]) == \
            (a, b, len(want), _py_fold(want)), (a, b)
        assert sorted(r.did for r in phrase_match_rows(
            enc_pos, a, b).collect()) == sorted(want), (a, b)
        want = ref.intersect([a, b])
        assert tuple(intersect_terms(enc, a, b).collect()[0]) == \
            (a, b, len(want), _py_fold(want)), (a, b)
        got = [tuple(r) for r in topk_and_terms(enc_tf, a, b, k=7).collect()]
        assert got == (ref.topk(a, b, 7) if want else []), (a, b)

    for k in range(1, 6):
        for _ in range(2):
            check_and([str(t) for t in rng.choice(vocab, k, replace=False)])
    check_and(["a", "b", "a"])             # a repeated term
    check_and(["a", "zzz", "b"])           # an absent term
    check_and(["lo", "hi"])                # no shared chunk
    assert ref.intersect(["a", "b", "c"]) and not ref.intersect(["lo", "hi"])
    for a, b in (("a", "b"), ("c", "c"), ("b", "o'k\\x"), ("lo", "hi"),
                 ("d", "zzz"), ("zzz", "yyy")):
        check_pairs(a, b)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        # every term here holds > 2 chunk rows, so its rows straddle seams
        check_and(["a", "c", "b"])
        check_pairs("b", "c")
    finally:
        spark.conf.set(conf, before)
    zero_tf = spark.createDataFrame(spark.sparkContext.emptyRDD(),
                                    enc_tf.schema)
    assert topk_and_terms(zero_tf, "a", "b").collect() == []


def test_workers_drop_spark_archive_finders(spark):
    """A reused Python worker that ran package kernels holds no import path
    entry or cached finder under $SPARK_HOME/python/lib or $SPARK_HOME/jars:
    each such zip finder re-reads its archive on every task's
    importlib.invalidate_caches().  The reporter drains its input so its
    worker stays reusable, and references a package function so its
    unpickling imports the package the way every kernel does."""
    import json
    import os

    import pyarrow as pa

    from streamvbyte_spark.session import default_cpus

    home = os.path.realpath(os.environ["SPARK_HOME"])
    roots = tuple(os.path.join(home, d, "") for d in ("python/lib", "jars"))
    n = max(4, default_cpus())
    syn = synthetic_tokens(spark, 400, avg_len=50, seed=3, partitions=n)
    assert decode_table(encode_table(syn)).count() == 400

    def report(batches):
        import os
        import sys
        for _ in batches:
            pass
        default_cpus  # noqa: B018 -- unpickling this imports the package

        def under_spark(keys):
            return sorted(k for k in keys if isinstance(k, str)
                          and os.path.realpath(k).startswith(roots))
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(),
            "path": json.dumps(under_spark(sys.path)),
            "finders": json.dumps(under_spark(sys.path_importer_cache))}])

    rows = spark.range(0, 2 * n, numPartitions=2 * n).mapInArrow(
        report, "pid long, path string, finders string").collect()
    assert len(rows) == 2 * n
    held = {r.pid: (json.loads(r.path), json.loads(r.finders))
            for r in rows if r.path != "[]" or r.finders != "[]"}
    assert held == {}


def test_default_driver_memory_from_meminfo(tmp_path, monkeypatch):
    """Without SPARK_DRIVER_MEMORY the driver heap is a sixth of MemTotal
    in whole GiB, clamped to 1..16g; the environment variable wins."""
    from streamvbyte_spark.session import default_driver_memory

    def host(mem_kb):
        p = tmp_path / f"meminfo_{mem_kb}"
        p.write_text(f"MemFree:  1024 kB\nMemTotal: {mem_kb} kB\n")
        return str(p)

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert default_driver_memory(host(15_728_640)) == "2g"     # 15 GiB
    assert default_driver_memory(host(64 * 2**20)) == "10g"
    assert default_driver_memory(host(512 * 2**20)) == "16g"   # capped
    assert default_driver_memory(host(2 * 2**20)) == "1g"      # floored
    assert default_driver_memory(str(tmp_path / "absent")) == "16g"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert default_driver_memory(host(15_728_640)) == "3g"
