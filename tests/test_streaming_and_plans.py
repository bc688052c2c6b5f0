"""Structured-streaming encode path + physical-plan shape assertions."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from streamvbyte_spark.operators import decode_table, verify_roundtrip
from streamvbyte_spark.operators.lineage import completed_buckets
from streamvbyte_spark.plans import assert_broadcast_join, count_exchanges, plan_string
from streamvbyte_spark.plans.explain import scan_read_schema
from streamvbyte_spark.session import get_spark
from streamvbyte_spark.sources import synthetic_tokens, tokens_from_documents
from streamvbyte_spark.streaming import encode_token_stream, windowed_event_counts

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="stream-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_streaming_encode_availablenow(spark):
    tmp = tempfile.mkdtemp(prefix="svb_stream_")
    try:
        tok = synthetic_tokens(spark, 200, avg_len=64, seed=3, partitions=2)
        tok.write.mode("overwrite").parquet(tmp + "/in")
        enc_stream = encode_token_stream(spark, tmp + "/in", codec="auto")
        assert enc_stream.isStreaming
        (enc_stream.writeStream.format("parquet")
         .option("path", tmp + "/out")
         .option("checkpointLocation", tmp + "/ckpt")
         .trigger(availableNow=True).start().awaitTermination(120))
        enc = spark.read.parquet(tmp + "/out")
        assert enc.count() == 200
        orig = spark.read.parquet(tmp + "/in")
        assert verify_roundtrip(orig, decode_table(enc)) == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_windowed_watermark(spark):
    tmp = tempfile.mkdtemp(prefix="svb_stream_ev_")
    try:
        ev = spark.read.parquet(f"{SF}/events.parquet")
        ev.write.mode("overwrite").parquet(tmp + "/in")
        stream = (spark.readStream.schema(ev.schema).parquet(tmp + "/in"))
        agg = windowed_event_counts(stream)
        assert agg.isStreaming
        (agg.writeStream.format("memory").queryName("ev_counts")
         .outputMode("append").trigger(availableNow=True).start().awaitTermination(120))
        got = spark.sql("select sum(events) as n from ev_counts").collect()[0].n
        # append mode emits only windows closed by the watermark;
        # everything except the final watermark horizon must be out
        assert got is not None and got > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_join_broadcasts_lineage(spark):
    tok = tokens_from_documents(spark, SF)
    done = spark.createDataFrame([(1,), (2,)], "bucket int")
    work = tok.withColumn("bucket", F.pmod(F.hash("doc_id"), F.lit(8))).join(
        F.broadcast(done), "bucket", "left_anti")
    assert_broadcast_join(work)


def test_encode_adds_no_shuffle(spark):
    from streamvbyte_spark.operators import encode_table
    tok = tokens_from_documents(spark, SF)
    enc = encode_table(tok, codec="auto")  # no repartition requested
    # encode_table itself is map-only: it adds ZERO exchanges over its
    # input.  (The input source may carry its own scale-adaptive scan
    # fanout exchange when the file is a single row group; that
    # exchange belongs to the source, not the encoder.)
    assert count_exchanges(enc) == count_exchanges(tok)
    assert count_exchanges(enc) <= 1


def test_size_query_prunes_columns(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    rs = scan_read_schema(docs)
    assert "lang" not in rs and "n_chars" not in rs, rs


def test_plan_has_pushed_filter(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").where(F.col("source") == "src1")
    plan = plan_string(df, "formatted")
    assert "PushedFilters: [IsNotNull(source), EqualTo(source,src1)]" in plan or \
           "EqualTo(source,src1)" in plan, plan


def test_stateful_delta_chain_across_microbatches(spark):
    """Chunks of the same doc arriving in different micro-batches must encode
    into one continuous delta chain (prev carried in streaming state)."""
    import numpy as np
    from scalar_oracle import core
    from streamvbyte_spark.streaming.stateful_delta import stateful_delta_encode

    tmp = tempfile.mkdtemp(prefix="svb_state_")
    try:
        rng = np.random.default_rng(5)
        docs = {f"d{j}": np.cumsum(rng.integers(0, 9, 400)).astype(np.int64)
                for j in range(6)}
        # chunk 100-wide; chunks 0-1 land in file batch 0, chunks 2-3 in batch 1
        for b in range(2):
            rows = [(d, c, v[c * 100:(c + 1) * 100].tolist())
                    for d, v in docs.items() for c in (2 * b, 2 * b + 1)]
            spark.createDataFrame(rows, "doc_id string, chunk_id int, chunk array<int>") \
                .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b{b}")
        stream = (spark.readStream
                  .schema("doc_id string, chunk_id int, chunk array<int>")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(tmp + "/in/*"))
        q = (stateful_delta_encode(stream).writeStream
             .format("memory").queryName("enc_chunks").outputMode("update")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = spark.sql("select * from enc_chunks").collect()
        assert len(got) == 24  # 6 docs x 4 chunks
        by_doc = {}
        for r in got:
            by_doc.setdefault(r.doc_id, []).append(r)
        for d, chunks in by_doc.items():
            chunks.sort(key=lambda r: r.chunk_id)
            out = np.concatenate([
                core.delta_decode(bytes(r.encoded), r.n_tok, prev=r.prev)
                for r in chunks]).astype(np.int64)
            np.testing.assert_array_equal(out, docs[d])
            # prev of chunk k == last token of chunk k-1 (state survived)
            for k in range(1, 4):
                assert chunks[k].prev == int(docs[d][k * 100 - 1])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_pack_assign_batch_exact(spark):
    """Replaying a doc_id-sorted corpus through micro-batches must place
    every document at EXACTLY the token offset (and pack span) the batch
    prefix sum gives it — state (last_doc_id, cum) per source carries
    across batches; a redelivered doc in a later batch is placed once."""
    import numpy as np
    from streamvbyte_spark.functions.pipeline_sql import PACK_CAP
    from streamvbyte_spark.streaming.pack_assign import pack_assign_stream

    tmp = tempfile.mkdtemp(prefix="svb_packst_")
    try:
        rng = np.random.default_rng(9)
        rows = [(f"d{j:03d}", "web" if j % 3 else "books",
                 int(rng.integers(0, 200)))  # includes n_tok == 0 docs
                for j in range(60)]
        # batch 0 = docs 0..29, batch 1 = docs 30..59 PLUS a MULTI-DOC
        # redelivery tail of batch 0 (at-least-once file replay overlap)
        spark.createDataFrame(rows[:30], "doc_id string, source string, n_tok int") \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b0")
        spark.createDataFrame(rows[26:], "doc_id string, source string, n_tok int") \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b1")
        stream = (spark.readStream
                  .schema("doc_id string, source string, n_tok int")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(tmp + "/in/*"))
        q = (pack_assign_stream(stream, order="lex").writeStream
             .format("memory").queryName("pack_spans").outputMode("update")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = {r.doc_id: (r.st, r.pack_first, r.pack_last)
               for r in spark.sql("select * from pack_spans").collect()}
        # expected placement: the batch per-source running sum in doc_id
        # order over n_tok > 0 docs
        expect = {}
        cums: dict = {}
        for d, s, n in sorted(rows):
            st = cums.get(s, 0)
            if n > 0:
                expect[d] = (st, st // PACK_CAP, (st + n - 1) // PACK_CAP)
            cums[s] = st + n
        assert got == expect
        # exactly one placement despite the redelivery
        assert len(got) == len(expect)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_pack_assign_numeric_order_and_guards(spark):
    """Numeric-id corpora place by NUMERIC order (the batch writers'
    default_numeric_order policy): lexicographic would put '10' before
    '9' and silently diverge from the batch prefix sum.  A non-numeric id
    under order='numeric' must fail loudly (the monotone_numeric_key_sql
    analog), and an invalid order value is rejected at the call site."""
    from streamvbyte_spark.streaming.pack_assign import pack_assign_stream

    tmp = tempfile.mkdtemp(prefix="svb_packnum_")
    try:
        # '9' and '10' in ONE batch: numeric order places 9 first
        spark.createDataFrame([("10", "web", 20), ("9", "web", 10)],
                              "doc_id string, source string, n_tok int") \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b0")
        stream = (spark.readStream
                  .schema("doc_id string, source string, n_tok int")
                  .parquet(tmp + "/in/*"))
        q = (pack_assign_stream(stream).writeStream
             .format("memory").queryName("pack_num").outputMode("update")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = {r.doc_id: r.st
               for r in spark.sql("select * from pack_num").collect()}
        assert got == {"9": 0, "10": 10}
        # non-numeric id under the numeric default -> loud failure
        spark.createDataFrame([("docA", "web", 5)],
                              "doc_id string, source string, n_tok int") \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/bad/b0")
        bad = (spark.readStream
               .schema("doc_id string, source string, n_tok int")
               .parquet(tmp + "/bad/*"))
        qb = (pack_assign_stream(bad).writeStream
              .format("memory").queryName("pack_badid")
              .outputMode("update").trigger(availableNow=True).start())
        with pytest.raises(Exception) as ei:
            qb.awaitTermination(180)
        assert "non-numeric doc_id" in str(ei.value)
        with pytest.raises(ValueError, match="order must be"):
            pack_assign_stream(bad, order="sorted")
        # two DISTINCT ids with equal numeric value ('7' vs '007') must
        # fail loudly, not collapse to one placement: the batch writer
        # places both as a window tie, so a silent within-batch dedup (or a
        # silent skip at the high-water mark) diverges from the batch
        # prefix sum
        spark.createDataFrame([("7", "web", 5), ("007", "web", 6)],
                              "doc_id string, source string, n_tok int") \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/coll/b0")
        coll = (spark.readStream
                .schema("doc_id string, source string, n_tok int")
                .parquet(tmp + "/coll/*"))
        qc = (pack_assign_stream(coll).writeStream
              .format("memory").queryName("pack_coll")
              .outputMode("update").trigger(availableNow=True).start())
        with pytest.raises(Exception) as ec:
            qc.awaitTermination(180)
        assert "collision-free" in str(ec.value)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_dedup_drops_duplicates(spark):
    from streamvbyte_spark.streaming.encode_stream import dedup_event_stream
    tmp = tempfile.mkdtemp(prefix="svb_dedup_")
    try:
        ev = spark.read.parquet(f"{SF}/events.parquet").limit(500)
        dup = ev.union(ev)  # every event twice
        dup.write.mode("overwrite").parquet(tmp + "/in")
        stream = spark.readStream.schema(ev.schema).parquet(tmp + "/in")
        (dedup_event_stream(stream).writeStream
         .format("memory").queryName("ev_dedup").outputMode("append")
         .trigger(availableNow=True).start().awaitTermination(120))
        got = spark.sql("select count(*) as n, count(distinct event_id) as d from ev_dedup").collect()[0]
        assert got.n == got.d == 500
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_delta_rejects_gapped_chunks(spark):
    """A gap in chunk ids must fail loudly (silently chaining prev from the
    wrong chunk, or silently dropping a late chunk, loses data)."""
    import numpy as np
    from streamvbyte_spark.streaming.stateful_delta import stateful_delta_encode

    tmp = tempfile.mkdtemp(prefix="svb_state_gap_")
    try:
        rows = [("d0", 0, list(range(10))), ("d0", 2, list(range(20, 30)))]
        spark.createDataFrame(rows, "doc_id string, chunk_id int, chunk array<int>") \
            .coalesce(1).write.mode("overwrite").parquet(tmp + "/in")
        stream = (spark.readStream
                  .schema("doc_id string, chunk_id int, chunk array<int>")
                  .parquet(tmp + "/in"))
        q = (stateful_delta_encode(stream).writeStream
             .format("memory").queryName("enc_gap").outputMode("update")
             .trigger(availableNow=True).start())
        with pytest.raises(Exception) as ei:
            q.awaitTermination(120)
        assert "non-contiguous" in str(ei.value)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_encoded_output_partition_pruning(spark):
    """The bucket-partitioned encoded layout must give real partition
    pruning: a bucket-filtered scan of out_path/data reads only that
    bucket's directories (the Iceberg-partition-pruning analog the lineage
    layout promises)."""
    import shutil as _sh
    import tempfile as _tf
    from streamvbyte_spark.operators.lineage import encode_with_checkpoint
    from streamvbyte_spark.sources import synthetic_tokens

    path = _tf.mkdtemp(prefix="svb_prune_")
    try:
        tok = synthetic_tokens(spark, 400, avg_len=32, seed=11, partitions=2)
        encode_with_checkpoint(tok, path, n_buckets=8)
        df = spark.read.parquet(path + "/data").where(F.col("bucket") == 3)
        plan = plan_string(df, "formatted")
        assert "PartitionFilters" in plan and "bucket" in plan, plan
        # the scan must list only bucket=3 files
        files = [f.filePath for f in
                 df.select(F.input_file_name().alias("filePath")).distinct()
                 .withColumnRenamed("filePath", "filePath").collect()]
        assert files and all("bucket=3" in f for f in files), files
    finally:
        _sh.rmtree(path, ignore_errors=True)


def test_stateful_delta_same_batch_redelivery(spark):
    """At-least-once delivery can repeat a chunk WITHIN one micro-batch;
    first occurrence wins, the copy is dropped, the chain stays intact."""
    import numpy as np
    from scalar_oracle import core
    from streamvbyte_spark.streaming.stateful_delta import stateful_delta_encode

    tmp = tempfile.mkdtemp(prefix="svb_state_dup_")
    try:
        v = np.cumsum(np.arange(30)).astype(np.int64)
        rows = [("d0", 0, v[:10].tolist()),
                ("d0", 1, v[10:20].tolist()),
                ("d0", 1, v[10:20].tolist()),   # same-batch redelivery
                ("d0", 2, v[20:].tolist())]
        spark.createDataFrame(rows, "doc_id string, chunk_id int, chunk array<int>") \
            .coalesce(1).write.mode("overwrite").parquet(tmp + "/in")
        stream = (spark.readStream
                  .schema("doc_id string, chunk_id int, chunk array<int>")
                  .parquet(tmp + "/in"))
        (stateful_delta_encode(stream).writeStream
         .format("memory").queryName("enc_dup").outputMode("update")
         .trigger(availableNow=True).start().awaitTermination(120))
        got = sorted(spark.sql("select * from enc_dup").collect(),
                     key=lambda r: r.chunk_id)
        assert [r.chunk_id for r in got] == [0, 1, 2]
        out = np.concatenate([
            core.delta_decode(bytes(r.encoded), r.n_tok, prev=r.prev)
            for r in got]).astype(np.int64)
        np.testing.assert_array_equal(out, v)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_decode_roundtrip(spark):
    """readStream over the encoded table -> mapInArrow decode -> the
    original tokens (the streaming consumer path)."""
    from streamvbyte_spark.operators import encode_table
    from streamvbyte_spark.sources import synthetic_tokens
    from streamvbyte_spark.streaming import decode_token_stream
    tmp = tempfile.mkdtemp(prefix="svb_sdec_")
    try:
        tok = synthetic_tokens(spark, 150, avg_len=48, seed=8, partitions=2)
        encode_table(tok, codec="auto").write.mode("overwrite").parquet(tmp + "/enc")
        dec = decode_token_stream(spark, tmp + "/enc")
        assert dec.isStreaming
        (dec.writeStream.format("parquet")
         .option("path", tmp + "/out")
         .option("checkpointLocation", tmp + "/ckpt")
         .trigger(availableNow=True).start().awaitTermination(120))
        back = spark.read.parquet(tmp + "/out")
        assert verify_roundtrip(tok, back) == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_lsh_self_joins_materialize_signatures(spark):
    """The LSH self-join queries must NOT recompute the signature pipeline on
    both join sides: the bands/signature table is materialized
    (localCheckpoint) first, so the final join plan contains ZERO parquet
    scans and ZERO Python stages — the scan->shingle/bucket->signature
    subtree executed exactly once, at stage-build time."""
    import streamvbyte_spark.queries as Q
    queries = Q.build_queries()
    for name in ("dedup_minhash_pairs", "dedup_minhash_verified",
                 "dedup_simhash_pairs",
                 "dedup_ngram_jaccard", "embedding_neardup", "ann_lsh",
                 "ann_ivf", "decontaminate"):
        df = queries[name](spark, SF)
        plan = plan_string(df, "simple")
        if name == "decontaminate":
            # its final re-reads the raw documents table (base rows + tiny
            # min(source) scalar subqueries — column-pruned, cheap), but the
            # EXPENSIVE shingle pipeline (posexplode Generate + lead Window)
            # must not appear: it is staged
            assert "Window" not in plan and "Generate" not in plan, (name, plan)
        else:
            assert "FileScan" not in plan and "Scan parquet" not in plan, \
                (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        # the per-ROW signature work (shingle windows / bucket UDFs) belongs
        # to the materialized stage; the only Python allowed in the join plan
        # is the per-PAIR exact dot of the embedding queries
        n_py = plan.count("ArrowEvalPython") + plan.count("PythonMapInArrow")
        allowed = 1 if name in ("embedding_neardup", "ann_lsh", "ann_ivf") else 0
        assert n_py <= allowed, (name, n_py, plan)


def test_simhash_plan_is_one_arrow_udf(spark):
    """dedup_simhash must compute the 32-bit simhash in ONE ArrowEvalPython
    stage (functions/text_udfs.doc_simhash), not 32 interpreted aggregate()
    HOF passes per document."""
    import streamvbyte_spark.queries as Q
    df = Q.build_queries()["dedup_simhash"](spark, SF)
    plan = plan_string(df, "simple")
    assert plan.count("ArrowEvalPython") == 1, plan
    # no bit-fold lambdas anywhere in the executed plan
    assert "aggregate(tokens" not in plan, plan
    import pandas as pd
    rows = df.limit(5).toPandas()
    assert pd.api.types.is_integer_dtype(rows["simhash"])


def test_registry_wide_no_cartesian(spark):
    """EVERY registry query's plan must be free of CartesianProduct, and
    free of BroadcastNestedLoopJoin except where a non-equi join is the
    designed shape (the exact ANN baseline's qid != cid broadcast) — a
    future query accidentally planning an all-pairs join at sf0.001 would
    otherwise only surface as a 100 TB incident."""
    import streamvbyte_spark.queries as Q
    bnlj_ok = {"ann_topk", "ann_cosine_topk", "ann_recall", "ann_recall_ivf"}
    failures = []
    for name, fn in Q.build_queries().items():
        try:
            plan = plan_string(fn(spark, SF), "simple")
        except Exception as e:  # noqa: BLE001 - report every query's verdict
            failures.append((name, "build-error", str(e)[:120]))
            continue
        if "CartesianProduct" in plan:
            failures.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            failures.append((name, "BroadcastNestedLoopJoin"))
    assert not failures, failures


def test_quality_lang_plans_one_arrow_udf(spark):
    """quality_score / lang_id must take their per-word counts from ONE
    fused Arrow word-stats UDF (split/dictionary/is_in in Arrow C++), not
    interpreted filter()/array_distinct HOF lambdas per word — and the
    struct fields must not re-evaluate the UDF."""
    import streamvbyte_spark.queries as Q
    queries = Q.build_queries()
    for name in ("quality_score", "lang_id"):
        df = queries[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, (name, plan)
        assert "lambdafunction" not in plan, (name, plan)


def test_sequence_pack_two_level_prefix_sum(spark):
    """sequence_pack's per-source running sum must be the two-level shape:
    the document-volume window partitions on (source, doc_id-range bucket) —
    never on source alone, which funnels a skewed source through one task —
    and the per-bucket prefix offsets come back via a broadcast join."""
    from streamvbyte_spark.functions import pipeline_sql as P
    import streamvbyte_spark.queries as Q
    sql = P.spark_sql("sequence_pack")
    w = P.PACK_BUCKET_WIDTH
    assert ("partition by source, (coalesce(try_cast(doc_id as bigint)"
            in sql and f"div {w})" in sql), sql
    # the only partition-by-source-alone window is over the tiny per-bucket
    # totals table (one row per bucket), keyed by the bsrc alias
    assert "partition by source order by doc_id" not in sql, sql
    df = Q.build_queries()["sequence_pack"](spark, SF)
    plan = plan_string(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    # both cum sides read the MATERIALIZED narrow word-count view — the
    # inline form re-scanned the text corpus once per side
    assert plan.count("Scan parquet") == 0, plan
    # the oracle keeps the single-window form (the gate proves equivalence)
    assert "partition by source order by doc_id" in P.duckdb_sql("sequence_pack")


def test_pack_sequences_two_level_and_full_packs(spark):
    """The materialized pack writer must (a) reuse the two-level prefix-sum
    shape (broadcast per-bucket offsets; never a per-source single-task
    window over per-doc rows), (b) carry no interpreted lambda over the
    PACKED token arrays (slice + GetArrayStructFields are codegen'd; the
    tokenizer transform() over words is the known separate cost), and
    (c) emit every pack of a source EXCEPT its last with exactly PACK_CAP
    tokens — the doc-spanning continuation invariant a dataloader relies
    on."""
    from streamvbyte_spark.functions import pipeline_sql as P
    import streamvbyte_spark.queries as Q
    sql = P.spark_sql("pack_sequences")
    w = P.PACK_BUCKET_WIDTH
    assert ("partition by source, (coalesce(try_cast(doc_id as bigint)"
            in sql and f"div {w})" in sql), sql
    assert "partition by source order by doc_id" not in sql, sql
    df = Q.build_queries()["pack_sequences"](spark, SF)
    plan = plan_string(df, "simple")
    assert "BroadcastHashJoin" in plan
    # ONE text-corpus scan (the tokenizer side); the bucket-totals side
    # reads the materialized narrow word-count view instead of a second
    assert plan.count("Scan parquet") == 1, plan
    rows = df.collect()
    last = {}
    for r in rows:
        last[r["source"]] = max(last.get(r["source"], -1), r["pack_id"])
    for r in rows:
        if r["pack_id"] < last[r["source"]]:
            assert r["n_tok"] == P.PACK_CAP, (r["source"], r["pack_id"],
                                              r["n_tok"])
    assert any(r["n_tok"] < P.PACK_CAP for r in rows)  # tail packs exist


def test_pack_sequences_encoded_plan_shape(spark):
    """The encoded-wire pack writer's final query plan: ZERO parquet scans
    (scan->tokenize->encode->prefix-sum window execute ONCE inside the
    materialized level-1 stage — reading it twice re-ran the corpus
    pipeline per consumer, and a separate totals branch re-scanned the
    text corpus), two mapInArrow stages (decode+slice+re-encode, segmented
    pack decode), the broadcast offsets join, and THREE exchanges — the
    token-bearing reassembly one a NUMBERED repartition, exempt from
    AQE's byte-based coalescing (a count-less repartition of the
    byte-small ENCODED column collapses the codec stages to ONE task).
    Values are proven by sharing pack_sequences' DuckDB oracle."""
    import streamvbyte_spark.queries as Q
    df = Q.build_queries()["pack_sequences_encoded"](spark, SF)
    plan = plan_string(df, "simple")
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("MapInArrow") == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert count_exchanges(df) == 3, plan
    assert plan.count("REPARTITION_BY_NUM") == 1, plan
    got = {(r["source"], r["pack_id"]): (r["n_tok"], r["fingerprint"])
           for r in df.collect()}
    want = {(r["source"], r["pack_id"]): (r["n_tok"], r["fingerprint"])
            for r in Q.build_queries()["pack_sequences"](spark, SF).collect()}
    assert got == want


def test_curated_encoded_rank_window_carries_encoded(spark):
    """The curated composite's md5 dedup rank window must shuffle ENCODED
    rows, not raw token arrays (the SQL-form window ships raw tokens —
    ~40 TB at 10^13 tokens; encoded it is ~2 B/token).
    Pins: the rank-window exchange partitions on md5 and sits ABOVE the
    encode MapInArrow (plans print root-first), no `tokens#` column exists
    at or above the encode stage, and the contamination anti-join is a
    broadcast.  Values are proven by sharing curated_pack_sequences' DuckDB
    oracle (driver gate) — re-checked here against the raw-token twin."""
    import streamvbyte_spark.queries as Q
    df, _ = Q.curated_encoded_rows(spark, SF, "plan_probe_curated")
    plan = plan_string(df, "simple")
    exch = plan.index("Exchange hashpartitioning(md5#")
    arrow = plan.index("MapInArrow")
    assert exch < arrow, plan                     # window shuffle above encode
    assert "tokens#" not in plan[:arrow], plan    # no raw tokens at/above it
    assert "encoded#" in plan[:arrow], plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    qs = Q.build_queries()
    got = {(r["source"], r["pack_id"]): (r["n_tok"], r["fingerprint"])
           for r in qs["curated_pack_encoded"](spark, SF).collect()}
    want = {(r["source"], r["pack_id"]): (r["n_tok"], r["fingerprint"])
            for r in qs["curated_pack_sequences"](spark, SF).collect()}
    assert got == want


def test_curation_pipeline_scans_once_and_broadcasts_hits(spark):
    """curation_pipeline shares the curated pack writers' stage set and
    their one corpus scan: the plan reads documents once, its only join
    is the broadcast of the staged contaminated-id set, and the size
    MapInArrow sits above the one numbered doc_id fan-out exchange.
    Nesting the whole decontaminate query instead scanned documents 4
    times behind 3 joins.  Values are proven by the driver gate."""
    import re
    import streamvbyte_spark.queries as Q
    df = Q.build_queries()["curation_pipeline"](spark, SF)
    plan = plan_string(df, "simple")
    scans = re.findall(r"FileScan parquet .*", plan)
    assert len(scans) == 1 and "documents.parquet" in scans[0], plan
    assert len(re.findall(r"Join ", plan)) == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    arrow = plan.index("MapInArrow run(")
    assert plan.count("REPARTITION_BY_NUM") == 1, plan
    assert re.search(r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\), "
                     "REPARTITION_BY_NUM", plan[arrow:]), plan


def test_token_quantiles_value_count_decomposition(spark):
    """token_quantiles must rank over the tiny (source, word-count)
    VALUE-COUNT table, never per-document rows: a ``row_number() over
    (partition by source order by n, doc_id)`` window funnels every document
    of a skewed source through one task.  The DuckDB
    oracle keeps the per-document rank form, so the driver gate proves the
    rank-selection decomposition exact."""
    from streamvbyte_spark.functions import pipeline_sql as P
    import streamvbyte_spark.queries as Q
    sql = P.spark_sql("token_quantiles")
    assert "row_number" not in sql, sql
    assert "group by source, n" in sql, sql           # value-count reduction
    assert "order by n, doc_id" not in sql, sql       # no per-doc window
    # the oracle keeps the single-window per-document rank form
    osql = P.duckdb_sql("token_quantiles")
    assert "row_number() over (partition by source order by n, doc_id)" in osql
    df = Q.build_queries()["token_quantiles"](spark, SF)
    plan = plan_string(df, "simple")
    # every Window in the plan sits ABOVE the (source, n) value-count
    # aggregation (plans print root-first, so above == smaller index) —
    # i.e. its input is the aggregated table, not per-doc rows
    import re
    vc_agg = re.search(r"HashAggregate\(keys=\[source#\d+, n#\d+\]", plan)
    assert vc_agg, plan
    assert "Window" in plan and plan.index("Window") < vc_agg.start(), plan


def test_pack_sink_roundtrip_and_corruption(spark, tmp_path):
    """The pack SINK (emit='encoded' -> parquet -> decode_packs): stored
    packs must decode to the exact concatenated token stream (checked
    against the SQL pack writer's arrays), and a corrupted payload byte
    must fail the checksum loudly, not return wrong tokens."""
    import pyarrow.parquet as pq
    from streamvbyte_spark.operators.packing import (decode_packs,
                                                     derived_string_order,
                                                     pack_tokens_encoded)
    tok = tokens_from_documents(spark, SF)
    packs = pack_tokens_encoded(tok, order_bucket=derived_string_order(tok),
                                emit="encoded")
    out = str(tmp_path / "p")
    packs.write.mode("overwrite").parquet(out)
    # tokens mode: exact arrays vs the SQL pack writer
    got = {(r.source, r.pack_id): r.tokens
           for r in decode_packs(spark.read.parquet(out),
                                 fingerprint=False).collect()}
    from streamvbyte_spark.functions import pipeline_sql as P
    import streamvbyte_spark.queries as Q
    spark.read.parquet(f"{SF}/documents.parquet") \
        .createOrReplaceTempView("documents")
    d = P.Dialect("spark")
    sql = P.q_pack_sequences(d, bucket_expr=Q._string_bucket_expr(spark))
    # swap the final fingerprint projection for the raw arrays
    ref_sql = sql.replace(
        "size(toks) as n_tok, doc_fingerprint(toks) as fingerprint",
        "toks")
    from streamvbyte_spark.functions.text_udfs import register_text_udfs
    register_text_udfs(spark)
    ref = {(r.source, r.pack_id): r.toks
           for r in spark.sql(ref_sql).collect()}
    assert got == ref and len(got) > 10
    # corruption: flip one payload byte in one parquet file -> loud failure
    t = pq.read_table(out)
    enc = t.column("encoded").to_pylist()
    enc[0] = (bytes([enc[0][0] ^ 0xFF]) + enc[0][1:]) if enc[0] else b"\x01"
    import os
    import pyarrow as pa_
    cols = {n: t.column(n) for n in t.column_names}
    cols["encoded"] = pa_.array(enc, pa_.binary())
    bad = str(tmp_path / "bad")
    os.makedirs(bad, exist_ok=True)
    pq.write_table(pa_.table(cols), f"{bad}/part-0.parquet")
    with pytest.raises(Exception) as ei:
        decode_packs(spark.read.parquet(bad)).collect()
    assert "checksum mismatch" in str(ei.value) or "decode" in str(ei.value)
    # a typo'd emit mode must fail at the call site, not as a missing
    # column far downstream
    with pytest.raises(ValueError, match="emit must be"):
        pack_tokens_encoded(tok, emit="encode")


def test_minhash_verification_filters_low_agreement(spark):
    """The verification stage must actually DROP a candidate pair whose
    signatures disagree (banding admits any single-band collision, so the
    sf corpora — all high-jaccard near-dups — never exercise the reject
    path).  Fabricated signature table: pair (a,b) agrees on all 16
    hashes, pair (a,c) agrees only on band 0's four (enough to collide in
    band 0, below MINHASH_VERIFY_MIN_AGREE).  Run the EXACT registry SQL
    fragment on both engines."""
    import duckdb
    from streamvbyte_spark.functions import pipeline_sql as P
    cols = ", ".join(f"mh{j}" for j in range(P.N_HASHES))
    rows = {
        "a": [10, 11, 12, 13] + list(range(100, 112)),
        "b": [10, 11, 12, 13] + list(range(100, 112)),   # all 16 agree
        "c": [10, 11, 12, 13] + list(range(200, 212)),   # only band 0
    }
    values = ", ".join(
        "('{}', {})".format(k, ", ".join(map(str, v)))
        for k, v in rows.items())
    sig = f"select * from (values {values}) as t(doc_id, {cols})"
    for engine in ("spark", "duckdb"):
        d = P.Dialect(engine)
        sql = (f"with sig as ({sig}), "
               f"bands as ({P._bands_from_sig(d, 'sig')}), "
               f"pairs as ({P._minhash_pairs_final('bands')}) "
               + P._minhash_verified_select(d, "sig", "pairs"))
        if engine == "spark":
            got = {(r.doc_a, r.doc_b): r.n_agree
                   for r in spark.sql(sql).collect()}
            # the banding itself DID propose both pairs
            pairs = spark.sql(
                f"with sig as ({sig}), "
                f"bands as ({P._bands_from_sig(d, 'sig')}) "
                + P._minhash_pairs_final("bands")).collect()
            assert {(r.doc_a, r.doc_b) for r in pairs} == \
                {("a", "b"), ("a", "c"), ("b", "c")}
        else:
            got = {(r[0], r[1]): r[2]
                   for r in duckdb.sql(sql).fetchall()}
        assert got == {("a", "b"): P.N_HASHES}, (engine, got)


def test_composites_survive_build_all_then_run_all(spark):
    """A driver may BUILD several queries' DataFrames before EXECUTING any
    of them.  Composites that embed another staged pipeline (components
    wrap minhash pairs; curation_pipeline and the curated pack writers
    each build the curation stage set) must therefore own DISJOINT stage
    views — building B must not drop the views A's built-but-unrun plan
    still references (make_pipeline's owner key / _build_curation_stages)."""
    import __spark_entry__ as entry
    qs = entry.queries()
    names = ["dedup_minhash_pairs", "dedup_components",
             "dedup_minhash_verified", "dedup_components_verified",
             "decontaminate", "curation_pipeline",
             "curated_pack_sequences", "curated_pack_encoded"]
    dfs = [(n, qs[n](spark, SF)) for n in names]   # build ALL first
    for n, df in dfs:                              # then run all
        assert df.count() > 0, n


def test_build_vocab_two_level_rank(spark):
    """build_vocab's global (cnt desc, token) rank must never sort the whole
    vocabulary through one window task: the row_number window partitions on
    (cnt, token-range bucket) — bounded at 2^16 rows per partition by
    construction — and the only unpartitioned window runs over the
    distinct-count table (<= sqrt(2N) pre-aggregated rows).  The
    vocab_remap_metrics oracle proves the decomposition value-exact; this
    pins the plan shape."""
    import re
    from streamvbyte_spark.operators.vocab import build_vocab
    from streamvbyte_spark.sources import tokens_from_documents
    tok = tokens_from_documents(spark, SF)
    df = build_vocab(tok)
    plan = plan_string(df, "simple")
    # the per-token rank window partitions on (cnt, tbkt)
    rn = re.search(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert rn, plan
    assert "cnt#" in rn.group(1) and "tbkt#" in rn.group(1), rn.group(1)
    # no unpartitioned row_number anywhere (the old single-task global sort)
    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^)]*)\)",
                         plan):
        assert "cnt#" in m.group(1), plan
    # offsets return via broadcast joins, not shuffles of the vocab table
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # value check vs the single-window reference rank
    from pyspark.sql import Window
    counts = (tok.select(F.explode("tokens").alias("token"))
              .groupBy("token").agg(F.count("*").alias("cnt")))
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    ref = {r.token: r.new_id for r in counts.select(
        "token", (F.row_number().over(w) - 1).cast("int").alias("new_id")
    ).collect()}
    got = {r.token: r.new_id for r in df.collect()}
    assert got == ref


def test_chunk_tokens_plan_fully_codegen(spark):
    """chunk_tokens must carry no interpreted HOF lambda: the chunk slices
    are posexplode + plain-projection slice(), all codegen'd."""
    from streamvbyte_spark.operators.chunking import chunk_tokens
    from streamvbyte_spark.sources import posting_lists
    ch = chunk_tokens(posting_lists(spark, SF, string_key=True), chunk_size=8)
    plan = ch._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan, plan


def test_neardup_final_pre_topk(spark):
    """embedding_neardup's global top-50 must plan as TakeOrderedAndProject
    (per-partition top-k before the single-partition merge), not an
    all-candidates single-task window sort."""
    import streamvbyte_spark.queries as Q
    df = Q.build_queries()["embedding_neardup"](spark, SF)
    plan = plan_string(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_durable_checkpoint_stage_mode(spark):
    """With spark.svb.stageCheckpointDir set, staged views and
    connected_components use reliable checkpoint() — identical results,
    checkpoint files actually written."""
    import os
    import streamvbyte_spark.queries as Q
    from streamvbyte_spark.operators.components import connected_components
    from streamvbyte_spark.operators.staging import STAGE_CHECKPOINT_CONF
    queries = Q.build_queries()
    base = queries["ann_lsh"](spark, SF).collect()
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string")
    base_cc = sorted(map(tuple, connected_components(pairs).collect()))
    tmp = tempfile.mkdtemp(prefix="svb_ck_")
    try:
        spark.conf.set(STAGE_CHECKPOINT_CONF, tmp)
        durable = queries["ann_lsh"](spark, SF).collect()
        assert sorted(map(tuple, durable)) == sorted(map(tuple, base))
        durable_cc = sorted(map(tuple, connected_components(pairs).collect()))
        assert durable_cc == base_cc == [("a", "a"), ("b", "a"), ("c", "a"),
                                         ("x", "x"), ("y", "x")]
        walked = [f for _, _, fs in os.walk(tmp) for f in fs]
        assert walked, "durable mode wrote no checkpoint files"
    finally:
        spark.conf.unset(STAGE_CHECKPOINT_CONF)
        shutil.rmtree(tmp, ignore_errors=True)


def test_stage_views_isolated_per_invocation(spark):
    """Two invocations of the same staged query must not share stage-view
    names: building query B between building and executing query A used to
    clobber A's materialized table silently."""
    import streamvbyte_spark.queries as Q
    queries = Q.build_queries()
    df_a = queries["ann_lsh"](spark, SF)      # built, not yet executed
    df_b = queries["ann_lsh"](spark, SF)      # second build, new views
    # A's plan resolved against ITS uuid-suffixed view at build time;
    # executing both after B's build must still agree
    assert "svb_stage_lsh_b_" in df_a._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, df_a.collect())) == \
           sorted(map(tuple, df_b.collect()))


def test_bucketed_tables_join_without_exchange(spark):
    """Bucketed-by-doc_id tables co-locate the encode-verification join: the
    SortMergeJoin plans with ZERO Exchange (the 'bucketing for co-located
    joins' scale lever, proven on the plan, not asserted in prose)."""
    from streamvbyte_spark.operators import encode_table
    from streamvbyte_spark.sources import synthetic_tokens
    try:
        tok = synthetic_tokens(spark, 300, avg_len=32, seed=4, partitions=2)
        enc = encode_table(tok, codec="auto")
        for name, df in (("t_orig", tok.select("doc_id", "n_tok")),
                         ("t_enc", enc.select("doc_id", "out_bytes"))):
            (df.write.mode("overwrite").format("parquet")
             .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(name))
        a = spark.table("t_orig")
        b = spark.table("t_enc")
        joined = a.join(b, "doc_id")
        assert count_exchanges(joined) == 0, plan_string(joined, "formatted")
        assert joined.count() == 300
    finally:
        spark.sql("drop table if exists t_orig")
        spark.sql("drop table if exists t_enc")


def test_roundtrip_plans_carry_no_interpreted_lambda(spark):
    """Round-trip/truncate queries fold the driver-gate fingerprint inside
    the decode kernels (batched.fingerprint_rows) and auto_full maps its
    tokens via encode_table's flat_transform: the interpreted two-arg fold
    lambda (lambda acc) and any extra ArrowEvalPython stage must be gone
    from every plan, and postings-based plans (no text tokenizer, whose
    per-word lambda is a separate known cost) must carry NO lambda at all."""
    import streamvbyte_spark.queries as Q
    queries = Q.build_queries()
    for name in ("svb_roundtrip", "auto_full_roundtrip", "truncate_decode",
                 "chunked_fused_roundtrip", "chunked_truncate_decode",
                 "zigzag_roundtrip_embeddings"):
        df = queries[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "lambda acc" not in plan, (name, plan)
        assert "ArrowEvalPython" not in plan, (name, plan)
    for name in ("chunked_fused_roundtrip", "chunked_truncate_decode"):
        df = queries[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "lambdafunction" not in plan.lower(), (name, plan)


def test_chunked_pipeline_reuses_posting_partitioning(spark):
    """posting_lists(string_key=True) groups on the string-cast key so the
    chunk-prev window reuses the groupBy partitioning: the fused chunked
    pipeline plans TWO exchanges (groupBy + the fused-decode repartition),
    not three — grouping on the bigint then casting hides the equivalence
    from Catalyst (which is why the FLAT delta queries default to the
    faster bigint groupBy instead: they never reuse the partitioning)."""
    from streamvbyte_spark.operators.chunking import (
        chunk_tokens, decode_reassemble_fused, encode_chunked_delta)
    from streamvbyte_spark.sources import posting_lists
    df = decode_reassemble_fused(encode_chunked_delta(
        chunk_tokens(posting_lists(spark, SF, string_key=True), chunk_size=8)),
        fingerprint=True)
    assert count_exchanges(df) == 2, plan_string(df, "simple")


def test_zone_map_pruning_pushes_to_written_encoded_table(spark):
    """The zone-map story at the STORAGE layer: write the encoded table
    (with tok_min/tok_max lineage) as parquet sorted by doc_id, read it
    back with a token-range predicate — the filter must reach the scan
    (PushedFilters), where parquet row-group min/max stats prune encoded
    blocks WITHOUT decoding any payload, and the surviving rows must match
    the in-memory zone_map_prune answer exactly."""
    from streamvbyte_spark.operators import encode_table
    from streamvbyte_spark.sources import tokens_from_documents
    tmp = tempfile.mkdtemp(prefix="svb_zm_")
    try:
        enc = encode_table(tokens_from_documents(spark, SF), codec="auto")
        # sortWithinPartitions clusters doc/token ranges so row-group stats
        # are tight — the same reason an Iceberg table would sort-order
        enc.sortWithinPartitions("tok_min").write.mode("overwrite") \
           .parquet(f"{tmp}/encoded")
        lo, hi = 1000, 20000
        back = (spark.read.parquet(f"{tmp}/encoded")
                .where((F.col("tok_max") >= lo) & (F.col("tok_min") <= hi)))
        plan = plan_string(back, "formatted")
        assert "GreaterThanOrEqual(tok_max,1000)" in plan, plan
        assert "LessThanOrEqual(tok_min,20000)" in plan, plan
        want = sorted(r.doc_id for r in enc.where(
            (F.col("tok_max") >= lo) & (F.col("tok_min") <= hi))
            .select("doc_id").collect())
        got = sorted(r.doc_id for r in back.select("doc_id").collect())
        assert got == want and got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_sessionization_matches_batch(spark):
    """Gap-based sessionization as a stateful stream: sessions split across
    micro-batches must come out EXACTLY as the batch query computes them
    (q_event_sessions).  A far-future sentinel per user closes every real
    session; the sentinel's own open session stays in state, unemitted."""
    import streamvbyte_spark.queries as Q
    from streamvbyte_spark.streaming.sessionize import (SESSION_GAP_US,
                                                        sessionize_stream)
    tmp = tempfile.mkdtemp(prefix="svb_sess_")
    try:
        ep_expr = ("(cast(datediff(cast(ts as date), date'1970-01-01') as bigint)"
                   " * 86400000000 + (cast(date_format(ts, 'HH') as bigint) * 3600"
                   " + cast(date_format(ts, 'mm') as bigint) * 60"
                   " + cast(date_format(ts, 'ss') as bigint)) * 1000000"
                   " + cast(date_format(ts, 'SSSSSS') as bigint))")
        ev = (spark.read.parquet(f"{SF}/events.parquet")
              .selectExpr("cast(user_id as string) as user_id",
                          "cast(event_id as string) as event_id",
                          f"{ep_expr} as ep"))
        med, mx = ev.selectExpr("percentile_approx(ep, 0.5)",
                                "max(ep)").first()
        ev.where(F.col("ep") <= med).coalesce(1) \
          .write.mode("overwrite").parquet(f"{tmp}/in/b0")
        sentinels = (ev.select("user_id").distinct()
                     .selectExpr("user_id", "'zz_final' as event_id",
                                 f"cast({int(mx) + 10 * SESSION_GAP_US} "
                                 "as long) as ep"))
        ev.where(F.col("ep") > med).union(sentinels).coalesce(1) \
          .write.mode("overwrite").parquet(f"{tmp}/in/b1")
        stream = (spark.readStream
                  .schema("user_id string, event_id string, ep long")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(tmp + "/in/*"))
        q = (sessionize_stream(stream).writeStream
             .format("memory").queryName("sessions").outputMode("update")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = sorted(map(tuple, spark.sql("select * from sessions").collect()))
        want = sorted((str(r[0]),) + tuple(r[1:])
                      for r in Q.build_queries()["event_sessions"](
                          spark, SF).collect())
        assert got == want and got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_sessionization_idle_flush(spark):
    """Continuous mode: with idle_flush armed, a user's open session is
    emitted by the processing-time timeout once the stream goes quiet."""
    from streamvbyte_spark.streaming.sessionize import sessionize_stream
    tmp = tempfile.mkdtemp(prefix="svb_sessfl_")
    try:
        spark.createDataFrame(
            [("u1", "e1", 1_000_000), ("u1", "e2", 2_000_000)],
            "user_id string, event_id string, ep long"
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b0")
        stream = (spark.readStream
                  .schema("user_id string, event_id string, ep long")
                  .parquet(tmp + "/in/*"))
        q = (sessionize_stream(stream, idle_flush=500).writeStream
             .format("memory").queryName("sess_flush").outputMode("update")
             .trigger(processingTime="1 second").start())
        try:
            import time
            deadline = time.time() + 60
            rows = []
            while time.time() < deadline and not rows:
                time.sleep(1)
                rows = spark.sql("select * from sess_flush").collect()
        finally:
            q.stop()
        assert [tuple(r) for r in rows] == [("u1", 1, 2, 1)]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_sessionization_counter_survives_idle_flush(spark):
    """Events arriving AFTER an idle flush must continue the per-user
    session numbering (a removed state would restart at 1, colliding with
    the already-emitted session in an update-mode sink)."""
    import time
    from streamvbyte_spark.streaming.sessionize import sessionize_stream
    tmp = tempfile.mkdtemp(prefix="svb_sessfl2_")
    try:
        spark.createDataFrame(
            [("u1", "e1", 1_000_000)],
            "user_id string, event_id string, ep long"
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b0")
        stream = (spark.readStream
                  .schema("user_id string, event_id string, ep long")
                  .parquet(tmp + "/in/*"))
        q = (sessionize_stream(stream, idle_flush=500).writeStream
             .format("memory").queryName("sess_flush2").outputMode("update")
             .trigger(processingTime="1 second").start())
        try:
            deadline = time.time() + 60
            while time.time() < deadline and not spark.sql(
                    "select * from sess_flush2").collect():
                time.sleep(1)
            # second wave: two events, themselves gap-separated — sessions
            # 2 and 3 (session 3 flushes on the next idle timeout)
            spark.createDataFrame(
                [("u1", "e2", 10_000_000_000), ("u1", "e3", 20_000_000_000)],
                "user_id string, event_id string, ep long"
            ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b1")
            deadline = time.time() + 60
            rows = []
            while time.time() < deadline and len(rows) < 3:
                time.sleep(1)
                rows = spark.sql("select * from sess_flush2").collect()
        finally:
            q.stop()
        got = sorted(map(tuple, rows))
        assert got == [("u1", 1, 1, 0), ("u1", 2, 1, 0),
                       ("u1", 3, 1, 0)], got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sequence_pack_default_bucket_fails_loudly_on_string_ids(spark):
    """pipeline_sql.spark_sql('sequence_pack') without a bucket_expr on a
    string-doc_id corpus must RAISE (a NULL numeric bucket would silently
    empty the broadcast equi-join), naming the remedy."""
    import pyarrow as pa
    import streamvbyte_spark.functions.pipeline_sql as P
    spark.createDataFrame(
        [("d00", "a b c", "s")], "doc_id string, text string, source string"
    ).createOrReplaceTempView("documents")
    with pytest.raises(Exception, match="bucket_expr"):
        spark.sql(P.spark_sql("sequence_pack")).collect()


def test_sequence_pack_string_bucket_derived_multibucket(spark):
    """Uniform-prefix string doc_ids (``doc%09d``) through the real query
    path: the derived string bucket (LCP of min/max + 2) must spread the
    two-level prefix sum over MANY buckets — the old fixed 2-char prefix
    put every such doc in ONE bucket, silently restoring the single-task
    funnel — and the result must still match the DuckDB
    single-window oracle exactly."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    import __spark_entry__ as entry
    import streamvbyte_spark.queries as Q
    from streamvbyte_spark.queries import _string_bucket_expr
    tmp = tempfile.mkdtemp(prefix="svb_pack_str_")
    try:
        docs = [(f"doc{i:09d}", ("w " * ((i % 7) * 3 + 1)).strip(),
                 "web" if i % 5 else "code") for i in range(60)]
        pq.write_table(pa.table({
            "doc_id": [d[0] for d in docs],
            "text": [d[1] for d in docs],
            "source": [d[2] for d in docs],
        }), f"{tmp}/documents.parquet")
        df = Q.build_queries()["sequence_pack"](spark, tmp)
        got = sorted(map(tuple, df.collect()))
        # the view is registered by the query build; the derived bucket
        # must fan out (the ids share a 10-char prefix, so 2 chars give 1)
        expr = _string_bucket_expr(spark)
        n_buckets = spark.sql(
            f"select count(distinct {expr}) as n from documents").first()["n"]
        assert n_buckets > 8, (expr, n_buckets)
        con = duckdb.connect()
        con.execute("create view documents as "
                    f"select * from '{tmp}/documents.parquet'")
        want = sorted(map(tuple,
                          con.sql(entry.oracle_sql()["sequence_pack"]).fetchall()))
        assert got == want, (got[:3], want[:3])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_index_intersect_materializes_encoded_index(spark):
    """The serving query's join plan reads the CHECKPOINTED encoded index
    (stage-cache policy): zero parquet scans, no all-pairs join — the
    explode/groupBy/encode build ran exactly once, at stage-build time."""
    import streamvbyte_spark.queries as Q
    df = Q.build_queries()["index_intersect"](spark, SF)
    plan = plan_string(df, "simple")
    assert "FileScan" not in plan and "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_index_build_pins_decode_fanout(spark):
    """index_build_chunked's fused-decode repartition must be NUMBERED
    (AQE-coalescing-exempt): its input is byte-small but CPU-heavy encoded
    chunks, exactly the shape AQE's byte-based advisory collapses to one
    task (CLAUDE.md; operators/packing.py regression)."""
    import streamvbyte_spark.queries as Q
    df = Q.build_queries()["index_build_chunked"](spark, SF)
    plan = plan_string(df, "simple")
    assert "REPARTITION_BY_NUM" in plan, plan


@pytest.mark.parametrize("name", ["dedup_simhash", "quality_score",
                                  "lang_id", "fingerprint",
                                  "curated_pack_encoded"])
def test_kernel_stages_take_the_one_fanout_rule(spark, tmp_path, name):
    """The scan fan-out rule (session.fanout_scan) at the CPU-heavy kernel
    stages.  Over a one-row-group documents file the UDF (or the curated
    composite's encode MapInArrow) plans ABOVE exactly one numbered
    doc_id exchange of the session's width — not beside it on the scan's
    single task, as a hint in the UDF's own select planned it.  Over a
    corpus that already scans at least that wide there is no fan-out
    exchange at all: a numbered hint would pin every corpus to its count."""
    import re
    import pyarrow.parquet as pq
    import streamvbyte_spark.queries as Q
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sf01 = "/root/testdata/sf0.01"
    docs = pq.read_table(f"{sf01}/documents.parquet")
    multi = tmp_path / "documents.parquet"
    multi.mkdir()
    step = -(-docs.num_rows // (2 * width))
    for i in range(2 * width):
        pq.write_table(docs.slice(i * step, step), multi / f"part-{i}.parquet")
    assert spark.read.parquet(str(multi)).rdd.getNumPartitions() >= width

    def plan_of(sf_dir, tag):
        if name != "curated_pack_encoded":
            return plan_string(Q.build_queries()[name](spark, sf_dir),
                               "simple")
        df, _ = Q.curated_encoded_rows(spark, sf_dir, f"fanout_rule_{tag}")
        plan = plan_string(df, "simple")
        Q.release_stage(spark, f"fanout_rule_{tag}")
        return plan

    plan = plan_of(sf01, "one")
    node = re.search(r"ArrowEvalPython|MapInArrow", plan)
    assert node, plan
    assert plan.count("REPARTITION_BY_NUM") == 1, plan
    below = plan[node.start():]
    assert re.search(r"Exchange hashpartitioning\(doc_id#\d+L?, "
                     rf"{width}\), REPARTITION_BY_NUM", below), plan
    plan = plan_of(str(tmp_path), "multi")
    assert re.search(r"ArrowEvalPython|MapInArrow", plan), plan
    assert "REPARTITION_BY_NUM" not in plan, plan


def test_streaming_index_update_batch_exact(spark):
    """Replaying a corpus through micro-batches — OUT of doc_id order and
    WITH an at-least-once redelivery overlap — must drain to chunk rows
    BYTE-IDENTICAL to the batch build over the same documents: the state
    value is the encoded EF chunk, merge is a set union, so arrival order
    cannot matter and redeliveries are no-ops."""
    import numpy as np
    from streamvbyte_spark.operators.index import build_index_chunked
    from streamvbyte_spark.streaming.index_update import index_update_stream

    tmp = tempfile.mkdtemp(prefix="svb_idxst_")
    words = ["scan", "sort", "join", "agg", "key"]
    rng = np.random.default_rng(11)
    docs = [(j, " ".join(rng.choice(words, rng.integers(1, 6)).tolist()), "s")
            for j in range(0, 400, 3)]  # ids span > 2 chunks at span=128
    try:
        # batch 0 delivers the HIGH ids first (no ordering contract),
        # batch 1 the low ids PLUS a multi-doc redelivery tail of batch 0
        schema = "doc_id long, text string, source string"
        spark.createDataFrame(docs[70:], schema) \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b0")
        spark.createDataFrame(docs[:80], schema) \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b1")
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(tmp + "/in/*"))
        q = (index_update_stream(stream).writeStream
             .format("memory").queryName("idx_upd").outputMode("update")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = {}
        for r in spark.sql("select * from idx_upd").collect():
            k = (r.term, r.chunk_id)
            # n_tok strictly grows along a chunk's emission history: the
            # max-n_tok row is the final generation
            if k not in got or r.n_tok > got[k][0]:
                got[k] = (r.n_tok, bytes(r.encoded))
        batch_docs = spark.createDataFrame(docs, schema)
        want = {(r.doc_id, r.chunk_id): (r.n_tok, bytes(r.encoded))
                for r in build_index_chunked(batch_docs).collect()}
        assert got == want
        # the replay genuinely exercised the merge path: some chunk was
        # emitted in more than one generation
        gens = spark.sql("select term, chunk_id, count(*) as g from idx_upd "
                         "group by term, chunk_id having count(*) > 1")
        assert gens.count() > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_index_update_tf_batch_exact(spark):
    """The TF twin must drain to chunk rows with BOTH wires byte-identical
    to build_index_tf_chunked — and a redelivered document must NOT double
    its term frequencies (dids already present keep their stored counts)."""
    import numpy as np
    from streamvbyte_spark.operators.index import build_index_tf_chunked
    from streamvbyte_spark.streaming.index_update import index_update_stream_tf

    tmp = tempfile.mkdtemp(prefix="svb_idxtfst_")
    words = ["scan", "sort", "join", "agg", "key"]
    rng = np.random.default_rng(13)
    docs = [(j, " ".join(rng.choice(words, rng.integers(1, 8)).tolist()), "s")
            for j in range(0, 300, 2)]
    try:
        schema = "doc_id long, text string, source string"
        # b0 contains docs[100:] TWICE — a WITHIN-batch redelivery, the
        # exact shape that double-counts tf if the merge counts raw
        # occurrences instead of deduped (did, pos) pairs
        spark.createDataFrame(docs[60:] + docs[100:], schema) \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b0")
        # b1 redelivers a tail of b0 (the cross-batch hazard) + the rest
        spark.createDataFrame(docs[:70], schema) \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b1")
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(tmp + "/in/*"))
        q = (index_update_stream_tf(stream).writeStream
             .format("memory").queryName("idx_tf_upd").outputMode("update")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = {}
        for r in spark.sql("select * from idx_tf_upd").collect():
            k = (r.term, r.chunk_id)
            if k not in got or r.n_doc > got[k][0]:
                got[k] = (r.n_doc, bytes(r.enc_dids), bytes(r.enc_tfs))
        want = {(r.doc_id, r.chunk_id): (r.n_doc, bytes(r.enc_dids),
                                         bytes(r.enc_tfs))
                for r in build_index_tf_chunked(
                    spark.createDataFrame(docs, schema)).collect()}
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_index_stage_generation_reuse(spark):
    """Plan-identical re-invocations of the staged index queries must REUSE
    the live checkpointed generation, not stack a new one per call — and a
    different sf_dir is a fingerprint MISS that builds a fresh generation."""
    import streamvbyte_spark.queries as Q
    from streamvbyte_spark.operators import staging
    queries = Q.build_queries()
    r1 = sorted(map(tuple, queries["index_intersect"](spark, SF).collect()))
    g1 = staging._STAGE_VIEWS[(id(spark), "index_intersect")].views
    r2 = sorted(map(tuple, queries["index_intersect"](spark, SF).collect()))
    g2 = staging._STAGE_VIEWS[(id(spark), "index_intersect")].views
    assert [v for v, _ in g1] == [v for v, _ in g2]   # same generation
    assert r1 == r2
    queries["index_intersect"](spark, "/root/testdata/sf0.01")
    g3 = staging._STAGE_VIEWS[(id(spark), "index_intersect")].views
    assert [v for v, _ in g3] != [v for v, _ in g1]   # miss -> fresh build


def _build_jobs(spark, build) -> int:
    """Spark jobs run while ``build()`` executes, counted by job group."""
    sc = spark.sparkContext
    group = f"svb_build_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _fresh_probe_terms(spark, view, key, k):
    """The probe rule recomputed over a staged index view: the k smallest
    terms with df >= INDEX_MIN_DF."""
    from streamvbyte_spark.operators.index import INDEX_MIN_DF, _did_stream
    enc = spark.table(view)
    _, _, df_col = _did_stream(enc, key)
    return [r.doc_id for r in
            enc.groupBy("doc_id").agg(F.sum(df_col).alias("df"))
            .where(F.col("df") >= INDEX_MIN_DF)
            .orderBy("doc_id").limit(k).collect()]


def test_index_probe_terms_cached_per_generation(spark):
    """Every staged index query derives its probe terms once per stage
    generation: the cached terms equal a fresh recompute over the staged
    view, and a repeat call builds its DataFrame without one Spark job."""
    import streamvbyte_spark.queries as Q
    from streamvbyte_spark.operators import staging
    queries = Q.build_queries()
    probe_k = {"index_intersect": 2, "index_and_multi": 3,
               "index_topk_and": 2, "index_phrase_match": 2,
               "index_union": 2}
    for name, k in probe_k.items():
        queries[name](spark, SF)
        gen = staging._STAGE_VIEWS[(id(spark), name)]
        assert len(gen.derived) == k, (name, gen.derived)
        assert gen.derived == _fresh_probe_terms(
            spark, gen.names[0], name, k), name
        assert _build_jobs(spark, lambda: queries[name](spark, SF)) == 0, name
        assert staging._STAGE_VIEWS[(id(spark), name)] is gen, name
        staging.release_stage(spark, name)


def test_index_probe_terms_rederived_on_rebuild(spark):
    """An externally dropped view, a new sf_dir and release_stage each
    rebuild the generation, and the rebuilt generation derives its probe
    terms afresh from its own view."""
    import streamvbyte_spark.queries as Q
    from streamvbyte_spark.operators import staging
    key = (id(spark), "index_intersect")
    build = Q.build_queries()["index_intersect"]

    def rebuilt(sf_dir, old):
        assert _build_jobs(spark, lambda: build(spark, sf_dir)) > 0
        gen = staging._STAGE_VIEWS[key]
        assert set(gen.names).isdisjoint(old.names)
        assert gen.derived is not old.derived
        assert gen.derived == _fresh_probe_terms(
            spark, gen.names[0], "index_intersect", 2)
        return gen

    other_sf = os.path.join(os.path.dirname(SF), "sf0.01")
    build(spark, SF)
    g1 = staging._STAGE_VIEWS[key]
    spark.catalog.dropTempView(g1.names[0])            # dropped view
    g2 = rebuilt(SF, g1)
    assert g2.derived == g1.derived
    g3 = rebuilt(other_sf, g2)                         # new sf_dir
    staging.release_stage(spark, "index_intersect")    # released
    assert key not in staging._STAGE_VIEWS
    rebuilt(other_sf, g3)
    staging.release_stage(spark, "index_intersect")


def test_serving_gate_row_folds_without_exchange(spark):
    """Every gate-shaped serving request is one Spark job: one scan of the
    probed terms' chunk rows feeds one kernel task that aligns the chunks,
    runs the op and folds the gate row (or cuts the top-k) — no Exchange
    of any kind, broadcast included, is left in the plan."""
    import streamvbyte_spark.queries as Q
    from streamvbyte_spark.operators import staging
    queries = Q.build_queries()
    for name in ("index_intersect", "index_and_multi", "index_phrase_match",
                 "index_union", "index_topk_and"):
        df = queries[name](spark, SF)
        plan = plan_string(df, "simple")
        assert "Exchange" not in plan, (name, plan)
        assert _build_jobs(spark, df.collect) == 1, name
        staging.release_stage(spark, name)


def test_stage_views_lifecycle(spark):
    """stage_generation over a two-stage build whose second stage reads the
    first stage's view, with a derived value over both views: a
    same-fingerprint call reuses the live generation without building or
    deriving; an externally dropped view, or release_stage, makes the next
    call rebuild under fresh names and derive again."""
    from streamvbyte_spark.operators.staging import (release_stage,
                                                     stage_generation,
                                                     stage_views)
    calls = []

    def base():
        calls.append("base")
        return spark.range(10).withColumnRenamed("id", "x")

    def doubled(base_view):
        calls.append("doubled")
        return spark.sql(f"select x * 2 as y from {base_view}")

    def derive(base_view, dbl_view):
        calls.append("derive")
        return dbl_view, sum(r.y for r in spark.table(dbl_view).collect())
    stages = [("svb_stage_toy_base", base), ("svb_stage_toy_dbl", doubled)]
    fp = ("toy", 1)

    def run():
        gen = stage_generation(spark, "toy_lifecycle", fp, stages,
                               derive=derive)
        assert stage_views(spark, "toy_lifecycle", fp, stages) == gen.names
        # the derived value is the one computed over THIS generation's views
        assert gen.derived == (gen.names[1], 90)
        return gen.names

    g1 = run()
    assert calls == ["base", "doubled", "derive"]
    assert g1[0].startswith("svb_stage_toy_base_")
    assert g1[1].startswith("svb_stage_toy_dbl_")
    # (a) hit: same names, no build, no derive
    assert run() == g1 and len(calls) == 3
    # (b) one view dropped externally -> rebuild under new names, old gone
    spark.catalog.dropTempView(g1[0])
    g2 = run()
    assert calls[3:] == ["base", "doubled", "derive"]
    assert set(g2).isdisjoint(g1)
    assert not any(spark.catalog.tableExists(v) for v in g1)
    # (c) release_stage drops the views; the next call rebuilds
    release_stage(spark, "toy_lifecycle")
    assert not any(spark.catalog.tableExists(v) for v in g2)
    g3 = run()
    assert calls[6:] == ["base", "doubled", "derive"]
    assert set(g3).isdisjoint(g2)
    release_stage(spark, "toy_lifecycle")


def test_merge_index_updates_both_wires(spark):
    """The continuous-maintenance lifecycle: the stream consumes the BASE
    corpus then the NEW documents (state covers the stored content, the
    merge contract); the stored table is the batch build over base.
    Drain -> merge must equal a fresh batch build over the union corpus,
    for BOTH wires: untouched chunks pass through, touched chunks take
    the latest generation, tok_start is re-derived."""
    import numpy as np
    from streamvbyte_spark.operators.index import (build_index_chunked,
                                                   build_index_tf_chunked,
                                                   merge_index_updates)
    from streamvbyte_spark.streaming.index_update import (
        index_update_stream, index_update_stream_tf)
    tmp = tempfile.mkdtemp(prefix="svb_idxmerge_")
    words = ["scan", "sort", "join"]
    rng = np.random.default_rng(17)
    base = [(j, " ".join(rng.choice(words, rng.integers(1, 5)).tolist()), "s")
            for j in range(0, 200, 2)]
    newer = [(j, " ".join(rng.choice(words, rng.integers(1, 5)).tolist()), "s")
             for j in range(200, 300, 2)]
    schema = "doc_id long, text string, source string"
    try:
        spark.createDataFrame(base, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{tmp}/in/b0")
        spark.createDataFrame(newer, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{tmp}/in/b1")
        for name, build, stream_fn in (
                ("set", build_index_chunked, index_update_stream),
                ("tf", build_index_tf_chunked, index_update_stream_tf)):
            stored = build(spark.createDataFrame(base, schema))
            src = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(tmp + "/in/*"))
            qn = f"idx_merge_{name}"
            q = (stream_fn(src).writeStream.format("memory").queryName(qn)
                 .outputMode("update").trigger(availableNow=True).start())
            q.awaitTermination(180)
            # latest generation per key only (the upsert a real sink does)
            cnt = "n_tok" if name == "set" else "n_doc"
            ups = spark.sql(
                f"select * from (select *, row_number() over (partition by "
                f"term, chunk_id order by {cnt} desc) as rn from {qn}) "
                "where rn = 1").drop("rn")
            merged = merge_index_updates(stored, ups)
            want_df = build(spark.createDataFrame(base + newer, schema))
            got = sorted(map(tuple, merged.select(*want_df.columns).collect()))
            want = sorted(map(tuple, want_df.collect()))
            assert got == want, name
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_merge_index_updates_positional_wire(spark):
    """The positional wire merges through its OWN branch (duck-typed into
    the TF branch it would silently DROP enc_pos): stored = positional
    build over the even half, updates = the
    full build's chunks restricted to groups a new (odd) doc touches
    (exactly the generations a stream covering the stored corpus emits);
    merged must byte-equal the full batch build AND serve identical
    occurrence rows."""
    import numpy as np
    from pyspark.sql import functions as F
    from streamvbyte_spark.operators.index import (INDEX_CHUNK_SPAN,
                                                   build_index_pos_chunked,
                                                   decode_index_pos,
                                                   merge_index_updates,
                                                   term_doc_pos_pairs)
    words = ["scan", "sort", "join", "scan"]
    rng = np.random.default_rng(29)
    rows = [(j, " ".join(rng.choice(words, rng.integers(1, 6)).tolist()), "s")
            for j in range(0, 300)]
    schema = "doc_id long, text string, source string"
    full_docs = spark.createDataFrame(rows, schema)
    old = full_docs.where("doc_id % 2 = 0")
    new = full_docs.where("doc_id % 2 = 1")
    touched = (term_doc_pos_pairs(new)
               .select(F.col("term").alias("doc_id"),
                       F.expr(f"did div {INDEX_CHUNK_SPAN}")
                       .cast("int").alias("chunk_id"))
               .distinct())
    updates = build_index_pos_chunked(full_docs).join(
        touched, ["doc_id", "chunk_id"], "left_semi")
    merged = merge_index_updates(build_index_pos_chunked(old), updates)
    want_df = build_index_pos_chunked(full_docs)
    assert merged.columns == want_df.columns      # POS schema, enc_pos kept
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, want_df.collect()))
    assert got == want
    occ = sorted(map(tuple, decode_index_pos(merged).collect()))
    occ_want = sorted(map(tuple, decode_index_pos(want_df).collect()))
    assert occ == occ_want


def test_merge_index_updates_validates_wires(spark):
    """Schema validation: mismatched wires and
    incomplete payloads raise instead of silently truncating a stream."""
    import pytest
    from streamvbyte_spark.operators.index import (build_index_chunked,
                                                   build_index_pos_chunked,
                                                   build_index_tf_chunked,
                                                   merge_index_updates)
    docs = spark.createDataFrame(
        [(0, "a b", "s"), (1, "b c a", "s")],
        "doc_id long, text string, source string")
    set_w = build_index_chunked(docs)
    tf_w = build_index_tf_chunked(docs)
    pos_w = build_index_pos_chunked(docs)
    with pytest.raises(ValueError, match="wire"):
        merge_index_updates(tf_w, pos_w)     # would silently drop enc_pos
    with pytest.raises(ValueError, match="wire"):
        merge_index_updates(set_w, tf_w)
    with pytest.raises(ValueError, match="missing"):
        merge_index_updates(pos_w, pos_w.drop("enc_pos"))
    # a self-merge is the identity on every wire
    assert merge_index_updates(pos_w, pos_w).count() == pos_w.count()


def test_streaming_index_update_pos_batch_exact(spark):
    """The positional stream must drain to chunk rows with ALL THREE wires
    byte-identical to build_index_pos_chunked (same within-batch and
    cross-batch redelivery hazards as the TF twin — a doubled doc must not
    duplicate positions), and the drained generations must FOLD into a
    stored positional table through merge_index_updates' pos branch to
    exactly the full batch build, closing the streaming lifecycle for the
    phrase-serving wire."""
    import numpy as np
    from streamvbyte_spark.operators.index import (build_index_pos_chunked,
                                                   merge_index_updates)
    from streamvbyte_spark.streaming.index_update import (
        index_update_stream_pos)

    tmp = tempfile.mkdtemp(prefix="svb_idxposst_")
    words = ["scan", "sort", "join", "agg", "key"]
    rng = np.random.default_rng(7)
    docs = [(j, " ".join(rng.choice(words, rng.integers(1, 8)).tolist()), "s")
            for j in range(0, 300, 2)]
    try:
        schema = "doc_id long, text string, source string"
        spark.createDataFrame(docs[60:] + docs[100:], schema) \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b0")
        spark.createDataFrame(docs[:70], schema) \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/b1")
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(tmp + "/in/*"))
        q = (index_update_stream_pos(stream).writeStream
             .format("memory").queryName("idx_pos_upd").outputMode("update")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = {}
        for r in spark.sql("select * from idx_pos_upd").collect():
            k = (r.term, r.chunk_id)
            if k not in got or r.n_pos > got[k][1]:
                got[k] = (r.n_doc, r.n_pos, bytes(r.enc_dids),
                          bytes(r.enc_tfs), bytes(r.enc_pos))
        full = build_index_pos_chunked(spark.createDataFrame(docs, schema))
        want = {(r.doc_id, r.chunk_id): (r.n_doc, r.n_pos, bytes(r.enc_dids),
                                         bytes(r.enc_tfs), bytes(r.enc_pos))
                for r in full.collect()}
        assert got == want
        # lifecycle: stored = batch build over the docs the FIRST batch
        # covered; drained latest generations merge to the full build
        ups = spark.sql(
            "select * from (select *, row_number() over (partition by "
            "term, chunk_id order by n_pos desc) as rn from idx_pos_upd) "
            "where rn = 1").drop("rn")
        stored = build_index_pos_chunked(
            spark.createDataFrame(docs[60:], schema))
        merged = sorted(map(tuple, merge_index_updates(stored, ups)
                            .drop("out_bytes").collect()))
        assert merged == sorted(map(tuple,
                                    full.drop("out_bytes").collect()))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_index_intersect_cogrouped_plan(spark):
    """The co-grouped serving shape (AND / OR / PHRASE / TF top-k /
    k-way AND): the probed terms' ENCODED chunk rows pair up by chunk_id
    BEFORE any decode (common dids can only live in co-occupied chunks —
    chunking is by did div span, term-independent), and the set op /
    adjacency match / scoring runs in-lane inside the one decode kernel.
    Pins, for the gate and top-k plans: exactly one Python stage over one
    ``doc_id IN`` scan, no join (the chunks align inside the kernel), and
    NO posting- or occurrence-level explode anywhere (decoding every chunk
    of both terms and shuffling exploded did / (did, pos) rows is the
    shape this replaced).  The distributed ``*_rows`` forms keep their
    chunk_id join over the same kernel."""
    import re

    import streamvbyte_spark.queries as Q
    from streamvbyte_spark.operators import index, staging
    from streamvbyte_spark.plans.explain import plan_string
    qs = Q.build_queries()
    for name in ("index_intersect", "index_union", "index_phrase_match",
                 "index_topk_and", "index_and_multi"):
        df = qs[name](spark, SF)
        plan = plan_string(df, "simple")
        # the one decode(+set-op/score) kernel
        assert plan.count("MapInArrow") == 1, (name, plan)
        # no explode of posting arrays anywhere
        assert "Generate" not in plan, (name, plan)
        assert "Join" not in plan, (name, plan)
        assert re.search(r"Filter doc_id#\d+ IN \(", plan), (name, plan)
    # the TF top-k additionally ends in the k-row sort-limit (the kernel
    # pre-limits each batch to its local top-k before it)
    plan = plan_string(qs["index_topk_and"](spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan, plan
    rows_forms = {
        "index_intersect": lambda e, t: index.intersect_terms_rows(e, t),
        "index_and_multi": lambda e, t: index.intersect_terms_rows(e, t),
        "index_union": lambda e, t: index.union_terms_rows(e, *t),
        "index_phrase_match": lambda e, t: index.phrase_match_rows(e, *t)}
    for name, rows in rows_forms.items():
        gen = staging._STAGE_VIEWS[(id(spark), name)]
        plan = plan_string(rows(spark.table(gen.names[0]), gen.derived),
                           "simple")
        assert plan.count("MapInArrow") == 1, (name, plan)
        assert "Generate" not in plan, (name, plan)
        assert "Join" in plan, (name, plan)   # the chunk_id join(s)
