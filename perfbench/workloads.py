"""The benchmark workloads.

Each workload owns its inputs, one repeatable set-up step, one timed
operation (the unit the closed loop repeats), a correctness check made
outside the timed operations, and the extra per-layer figures of its
traced run.  Why each workload exists is recorded in README.md.

* ``bulk_codec`` — an operation is one encode pass of the persisted token
  table followed by one decode pass of the persisted encoded table.
* ``index_serving`` — an operation is one serving request against indexes
  staged during set-up.
"""

from __future__ import annotations

import gc
import os
import random
import time

import numpy as np

import inputs
from statistics import median

# (standard, --small) input sizes
BULK_DOCS = (40000, 2000)
BULK_AVG_LEN = 512
CORPUS_DOCS = (5000, 600)
KERNEL_BATCH_ROWS = 16384

# timed in the index_serving traced run (see README.md)
CURATE_QUERIES = ("curation_pipeline", "curated_pack_encoded",
                  "pack_store_roundtrip")
SERVING_QUERIES = ("index_intersect", "index_and_multi", "index_topk_and",
                   "index_phrase_match")
# codecs the auto selector picks among (the stored-table histogram) and
# the kernels timed one by one: auto, its 7 candidates, fsst, and ef on
# the sorted family only
STORED_CODECS = ("svb", "svb0124", "svb_delta", "bitpack", "for", "dict",
                 "rle")
KERNEL_CODECS = ("auto",) + STORED_CODECS + ("fsst", "ef")
SERVING_INDEXES = ("build_index_chunked", "build_index_tf_chunked",
                   "build_index_pos_chunked")


def normalize(rows, cols):
    """Order-insensitive canonical form of a result: columns sorted by
    name, rows sorted; floats rounded so cross-engine rounding noise in
    the last digits never reads as a mismatch."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


class Context:
    """What a workload needs from the run: the session, the tracer, the
    seed and the input cache directory."""

    def __init__(self, spark, tracer, seed, cache_dir):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.cache_dir = cache_dir

    def action(self, what: str, fn):
        """Run one Spark action inside a ``spark.<what>`` span."""
        with self.tracer.span(f"spark.{what}"):
            return fn()


class Workload:
    name = ""
    # untimed ops before the timed loop (see Run.warm_up)
    warm_ops = 3
    # extra options of the Spark JVM for this workload
    jvm_options = ""

    def __init__(self, small: bool = False):
        self.small = small

    def inputs(self, ctx: Context) -> None:
        raise NotImplementedError

    def setup(self, ctx: Context) -> None:
        raise NotImplementedError

    def release(self, ctx: Context) -> None:
        raise NotImplementedError

    def check(self, ctx: Context) -> tuple[int, int]:
        """(checks attempted, checks failed)."""
        raise NotImplementedError

    def op(self, ctx: Context, i: int) -> bool:
        """One timed operation; returns False when its output is wrong."""
        raise NotImplementedError

    def bytes_per_token(self) -> float:
        raise NotImplementedError

    def layer_metrics(self, ctx: Context) -> dict[str, float]:
        return {}


# ------------------------------------------------------------- bulk_codec

class BulkCodec(Workload):
    name = "bulk_codec"

    def inputs(self, ctx):
        docs = BULK_DOCS[self.small]
        key = {"seed": ctx.seed, "docs": docs, "len": BULK_AVG_LEN}
        self.path = inputs.cached(
            ctx.cache_dir, "tokens", key, "tokens.parquet",
            lambda: inputs.generate_tokens(ctx.seed, docs, BULK_AVG_LEN))

    def setup(self, ctx):
        from pyspark.sql import functions as F
        from streamvbyte_spark.operators import encode_table
        from streamvbyte_spark.operators.staging import materialize
        spark = ctx.spark
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        with ctx.tracer.span("setup.persist_tokens"):
            self.tok = (spark.read.parquet(self.path)
                        .select("doc_id", "tokens", "n_tok", "source")
                        .repartition(n).persist())
            self.n_tokens = ctx.action("collect", lambda: int(
                self.tok.agg(F.sum("n_tok")).collect()[0][0]))
        # the decode phase reads a checkpointed encoded table: a persisted
        # encode_table plan would be substituted into the encode passes by
        # Spark's cache manager and turn them into cache reads
        with ctx.tracer.span("operators.staging.materialize"):
            self.enc = materialize(encode_table(self.tok, codec="auto"))

    def release(self, ctx):
        from streamvbyte_spark.operators.staging import release
        release(self.enc)
        self.tok.unpersist(blocking=True)
        self.enc = self.tok = None
        gc.collect()

    def check(self, ctx):
        from pyspark.sql import functions as F
        from streamvbyte_spark.operators import decode_table
        attempted = failed = 0
        with ctx.tracer.span("check.roundtrip"):
            dec = decode_table(self.enc, verify_checksum=True)
            # full outer join on doc_id: a missing, extra or altered row
            # shows as a row whose two token arrays are not null-safe equal
            bad = ctx.action("collect", lambda: (
                dec.alias("d").join(self.tok.alias("t"), "doc_id", "full")
                .where(~F.col("d.tokens").eqNullSafe(F.col("t.tokens")))
                .count()))
        attempted += 1
        failed += bad != 0
        with ctx.tracer.span("check.sizes"):
            row = ctx.action("collect", lambda: self.enc.agg(
                F.sum("out_bytes").alias("ob"),
                F.sum(F.length("encoded")).alias("stored"),
                F.sum("n_tok").alias("n")).collect()[0])
        attempted += 1
        failed += (row["ob"] != row["stored"] or row["n"] != self.n_tokens)
        self.out_bytes = int(row["stored"])
        return attempted, failed

    def op(self, ctx, i):
        from pyspark.sql import functions as F
        from streamvbyte_spark.operators import decode_table, encode_table
        with ctx.tracer.span("operators.encode.encode_table"):
            ob = ctx.action("collect", lambda: encode_table(
                self.tok, codec="auto").agg(F.sum("out_bytes"))
                .collect()[0][0])
        with ctx.tracer.span("operators.encode.decode_table"):
            nt = ctx.action("collect", lambda: decode_table(
                self.enc, verify_checksum=True).agg(F.sum("n_tok"))
                .collect()[0][0])
        return ob == self.out_bytes and nt == self.n_tokens

    def bytes_per_token(self):
        return self.out_bytes / self.n_tokens

    def layer_metrics(self, ctx):
        from pyspark.sql import functions as F
        from streamvbyte_spark.operators import size_table
        tr = ctx.tracer
        m = {}
        for name in ("encode_table", "decode_table"):
            m[f"operators.encode.{name}.s"] = median(
                tr.durations(f"operators.encode.{name}", req="op"))
        sizes, ident = [], []
        for _ in range(3):
            t = time.perf_counter()
            with tr.span("operators.encode.size_table"):
                ctx.action("collect", lambda: size_table(self.tok).agg(
                    F.sum("size_bytes")).collect())
            sizes.append(time.perf_counter() - t)

            def identity(batches):
                yield from batches
            t = time.perf_counter()
            with tr.span("spark.mapinarrow_identity"):
                self.tok.mapInArrow(identity, self.tok.schema) \
                    .agg(F.sum("n_tok")).collect()
            ident.append(time.perf_counter() - t)
        m["operators.encode.size_table.s"] = median(sizes)
        m["spark.mapinarrow.identity_s"] = median(ident)
        # codec choice histogram of the stored table
        hist = {r["codec"]: r for r in self.enc.groupBy("codec").agg(
            F.count("*").alias("rows"),
            F.sum(F.length("encoded")).alias("bytes")).collect()}
        m.update(codec_histogram(hist))
        m.update(kernel_metrics(ctx, self.path))
        return m


def codec_histogram(hist: dict) -> dict[str, float]:
    """codec.rows/bytes.<codec> from {codec name: Row(rows, bytes)}."""
    m = {}
    for c in STORED_CODECS:
        m[f"codec.rows.{c}"] = float(hist[c]["rows"]) if c in hist else 0.0
        m[f"codec.bytes.{c}"] = float(hist[c]["bytes"]) if c in hist else 0.0
    return m


def kernel_metrics(ctx, path) -> dict[str, float]:
    """Single-thread kernel throughput over the first 16,384-row batch of
    the bulk table, timed once per kernel in this process (the whole set
    takes ~30 s on a 4-core host; repeats would not fit the run limit)."""
    import pyarrow.parquet as pq
    from streamvbyte_spark.codec import batched
    tr = ctx.tracer
    t = pq.read_table(path, columns=["tokens", "family"]).slice(
        0, KERNEL_BATCH_ROWS)
    col = t.column("tokens").combine_chunks()
    offsets = np.asarray(col.offsets, dtype=np.int64)
    flat = np.asarray(col.values, dtype=np.int32).view(np.uint32)
    fam = np.asarray(t.column("family").to_pylist())
    sorted_rows = np.flatnonzero(fam == "near_sorted_gap")
    s_len = offsets[1:][sorted_rows] - offsets[:-1][sorted_rows]
    s_off = np.concatenate([[0], np.cumsum(s_len)])
    s_flat = np.concatenate([flat[offsets[r]:offsets[r + 1]]
                             for r in sorted_rows])
    m = {}

    def best(name, fn, n_tok):
        t0 = time.perf_counter()
        with tr.span(f"codec.batched.{name}"):
            out = fn()
        return out, n_tok / (time.perf_counter() - t0)

    n = int(offsets[-1])
    cases = [(c, flat, offsets, n) if c != "ef" else
             (c, s_flat, s_off, int(s_off[-1])) for c in KERNEL_CODECS]
    for c, f, o, nt in cases:
        (enc, eoff, cids), rate = best(
            "encode_rows", lambda: batched.encode_rows(f, o, codec=c), nt)
        m[f"codec.batched.encode_rows.{c}.tok_per_s"] = rate
        (dflat, _), rate = best(
            "decode_rows",
            lambda: batched.decode_rows(enc, eoff, o[1:] - o[:-1], cids), nt)
        m[f"codec.batched.decode_rows.{c}.tok_per_s"] = rate
        if not np.array_equal(dflat, f):
            raise AssertionError(f"kernel round trip differs for codec {c}")
        if c == "svb":
            _, m["codec.batched.validate_rows.tok_per_s"] = best(
                "validate_rows",
                lambda: batched.validate_rows(enc, eoff, o[1:] - o[:-1]), nt)
    _, m["codec.batched.row_costs.tok_per_s"] = best(
        "row_costs", lambda: batched.row_costs(
            flat, offsets, batched.VECTOR_COST_CODECS), n)
    _, m["codec.batched.fingerprint_rows.tok_per_s"] = best(
        "fingerprint_rows",
        lambda: batched.fingerprint_rows(flat.view(np.int32), offsets), n)
    return m


# --------------------------------------------------------- index_serving

class IndexServing(Workload):
    name = "index_serving"
    warm_ops = 6 * len(SERVING_QUERIES)
    # at the default JIT thresholds requests kept getting faster for 50+
    # requests; at a tenth they flatten within the warm-up.  bulk_codec
    # keeps the defaults: there the lower thresholds slowed passes by 40 %
    jvm_options = "-XX:CompileThresholdScaling=0.1"

    def inputs(self, ctx):
        docs = CORPUS_DOCS[self.small]
        key = {"seed": ctx.seed, "docs": docs}
        path = inputs.cached(
            ctx.cache_dir, "documents", key, "documents.parquet",
            lambda: inputs.generate_documents(ctx.seed, docs))
        self.sf_dir = os.path.dirname(path)
        import streamvbyte_spark.queries as Q
        self.Q = Q
        self.queries = Q.build_queries()
        self.oracles = Q.build_oracles()

    def __init__(self, small: bool = False):
        super().__init__(small)
        self.request_s: dict[str, list[float]] = {}  # timed requests

    def setup(self, ctx):
        # the first call of each serving query stages its encoded index
        # (operators.staging.materialize); later calls reuse the stage
        for name in SERVING_QUERIES:
            with ctx.tracer.span(f"queries.{name}"):
                self.queries[name](ctx.spark, self.sf_dir)

    def release(self, ctx):
        for name in SERVING_QUERIES:
            self.Q.release_stage(ctx.spark, name)
        gc.collect()

    def oracle_check(self, ctx, names) -> tuple[int, dict]:
        """Compare each named query against its DuckDB oracle over the
        generated corpus.  Returns (failed, verified rows by query)."""
        import duckdb
        con = duckdb.connect()
        con.execute("create view documents as select * from "
                    f"'{self.sf_dir}/documents.parquet'")
        failed, verified = 0, {}
        for name in names:
            with ctx.tracer.span(f"check.{name}"):
                df = self.queries[name](ctx.spark, self.sf_dir)
                got = normalize([tuple(r) for r in ctx.action(
                    "collect", df.collect)], df.columns)
                rel = con.sql(self.oracles[name])
                want = normalize(rel.fetchall(), rel.columns)
            failed += got != want or sorted(df.columns) != sorted(rel.columns)
            verified[name] = got
        con.close()
        return failed, verified

    def check(self, ctx):
        from pyspark.sql import functions as F
        from streamvbyte_spark.operators.index import build_index_chunked
        failed, self.verified = self.oracle_check(ctx, SERVING_QUERIES)
        with ctx.tracer.span("check.index_bytes"):
            docs = ctx.spark.read.parquet(f"{self.sf_dir}/documents.parquet")
            row = ctx.action("collect", lambda: build_index_chunked(docs).agg(
                F.sum("out_bytes").alias("b"),
                F.sum("n_tok").alias("n")).collect()[0])
        self.index_bpt = row["b"] / row["n"]
        # requests cycle over the four kinds, each cycle in seeded order
        rng = random.Random(ctx.seed)
        self.order = []
        for _ in range(64):
            cycle = list(SERVING_QUERIES)
            rng.shuffle(cycle)
            self.order.extend(cycle)
        return len(SERVING_QUERIES) + 1, failed + (row["n"] <= 0)

    def op(self, ctx, i):
        name = self.order[i % len(self.order)]
        t0 = time.perf_counter()
        with ctx.tracer.span(f"queries.{name}"):
            df = self.queries[name](ctx.spark, self.sf_dir)
            rows = ctx.action("collect", df.collect)
        if i >= self.warm_ops:
            self.request_s.setdefault(name, []).append(
                time.perf_counter() - t0)
        return normalize([tuple(r) for r in rows], df.columns) \
            == self.verified[name]

    def bytes_per_token(self):
        return self.index_bpt

    def layer_metrics(self, ctx):
        from pyspark.sql import functions as F
        from streamvbyte_spark.operators import index
        tr = ctx.tracer
        m = {f"queries.{q}.ms_p50": 1e3 * median(self.request_s[q])
             for q in SERVING_QUERIES if q in self.request_s}
        docs = ctx.spark.read.parquet(f"{self.sf_dir}/documents.parquet")
        for name in SERVING_INDEXES:
            build = getattr(index, name)
            times = []
            for _ in range(2):
                t = time.perf_counter()
                with tr.span(f"operators.index.{name}"):
                    ctx.action("collect", lambda: build(docs).agg(
                        F.sum("out_bytes")).collect())
                times.append(time.perf_counter() - t)
            m[f"operators.index.{name}.s"] = median(times)
        m.update(self.curate_layer_metrics(ctx))
        return m

    def curate_layer_metrics(self, ctx) -> dict[str, float]:
        """The curation -> pack layers over the same corpus: two cycles of
        curation_pipeline -> curated_pack_encoded -> pack_store_roundtrip
        into noop sinks, plus the token source, the encoded pack writer
        and the pack reader timed on their own."""
        from pyspark.sql import functions as F
        from streamvbyte_spark.codec import batched
        from streamvbyte_spark.operators import (decode_packs,
                                                 pack_tokens_encoded)
        from streamvbyte_spark.sources import tokens_from_documents
        tr, spark = ctx.tracer, ctx.spark
        for _ in range(2):
            for name in CURATE_QUERIES:
                gc.collect()
                with tr.span(f"queries.{name}"):
                    df = self.queries[name](spark, self.sf_dir)
                    ctx.action("noop", lambda: df.write.format("noop")
                               .mode("overwrite").save())
                df = None
                self.Q.release_stage(spark, name)
        m = {f"queries.{q}.s_p50": median(tr.durations(f"queries.{q}"))
             for q in CURATE_QUERIES}  # no other caller runs these
        out = os.path.join(os.environ["TMPDIR"], "packs")
        t_src, t_pack, t_dec = [], [], []
        for _ in range(2):
            t = time.perf_counter()
            with tr.span("sources.tokens_from_documents"):
                tok = tokens_from_documents(spark, self.sf_dir)
                ctx.action("noop", lambda: tok.write.format("noop")
                           .mode("overwrite").save())
            t_src.append(time.perf_counter() - t)
            t = time.perf_counter()
            with tr.span("operators.packing.pack_tokens_encoded"):
                packs = pack_tokens_encoded(tok, emit="encoded")
                ctx.action("write", lambda: packs.write.mode("overwrite")
                           .parquet(out))
            t_pack.append(time.perf_counter() - t)
            t = time.perf_counter()
            with tr.span("operators.packing.decode_packs"):
                ctx.action("noop", lambda: decode_packs(
                    spark.read.parquet(out)).write.format("noop")
                    .mode("overwrite").save())
            t_dec.append(time.perf_counter() - t)
        m["sources.tokens_from_documents.s"] = median(t_src)
        m["operators.packing.pack_tokens_encoded.s"] = median(t_pack)
        m["operators.packing.decode_packs.s"] = median(t_dec)
        stored = spark.read.parquet(out)
        row = stored.agg(F.sum(F.length("encoded")).alias("b"),
                         F.sum("n_tok").alias("n")).collect()[0]
        m["operators.packing.pack_bytes_per_token"] = row["b"] / row["n"]
        # the stored packs carry codec ids, not names
        hist = {batched.CODEC_NAMES[r["codec"]]: r for r in stored
                .groupBy("codec").agg(
                    F.count("*").alias("rows"),
                    F.sum(F.length("encoded")).alias("bytes")).collect()}
        m.update(codec_histogram(hist))
        return m


WORKLOADS = {w.name: w for w in (BulkCodec, IndexServing)}
