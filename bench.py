"""Benchmark harness — prints ONE JSON line for the driver.

Headline queries run at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: every CPU in the affinity mask).  The
throughput job mirrors the reference perf
harness's framing (/root/reference/tests/perf.c:38-91: uints/sec over a
1/2/3/4-byte value mix) scaled up: a deterministic synthetic token table
(FIXTURES.md families) is encoded with the auto-selector and decoded back,
reporting encode+decode tokens/sec and compressed bytes/token.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from streamvbyte_spark.operators import decode_table, encode_table  # noqa: E402
from streamvbyte_spark.session import default_cpus, get_spark  # noqa: E402
from streamvbyte_spark.sources import synthetic_tokens  # noqa: E402
import streamvbyte_spark.queries as Q  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "60000"))
AVG_LEN = int(os.environ.get("SPARK_GRAFT_BENCH_AVG_LEN", "512"))


def _converged_passes(run, min_reps: int = 3, max_reps: int = 8,
                      tol: float = 0.15) -> list[float]:
    """Run `run()` until the last two pass times agree within `tol` (cap
    `max_reps`).  A best-of-3 over passes that are still monotonically
    descending (10.0 -> 3.0 -> 1.7 s: first-touch allocation + JIT, not
    steady state) once published a phantom 1.9x encode regression;
    convergence-gated reps make the artifact measure the kernel, not the
    session heap."""
    times: list[float] = []
    while len(times) < max_reps:
        t0 = time.perf_counter()
        run()
        times.append(time.perf_counter() - t0)
        if len(times) >= min_reps:
            a, b = times[-2], times[-1]
            if abs(a - b) <= tol * max(a, b):
                break
    return times


def _mem_stats(spark) -> dict:
    """Session-memory snapshot emitted per headliner so a BENCH artifact
    anomaly is attributable from the artifact alone (a session once read
    14-100% slow on untouched queries and nothing in the artifact showed
    why).  jvm_cached_mb = storage memory of persisted/checkpointed RDD
    blocks; driver_rss_mb = this Python process (local mode: Spark JVM is
    a child, Python workers are separate — the JVM block number is the one
    that tracks a checkpoint-generation leak)."""
    cached = -1.0
    try:
        cached = sum(i.memSize() for i in
                     spark.sparkContext._jsc.sc().getRDDStorageInfo()) / 1e6
    except Exception:
        pass
    rss = -1.0
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    rss = int(line.split()[1]) * 1024 / 1e6
                    break
    except OSError:
        pass
    return {"jvm_cached_mb": round(cached, 1), "driver_rss_mb": round(rss, 1)}


def throughput_job(spark, n_docs: int, partitions: int):
    """Encode (auto) + decode the synthetic token table; returns
    converged-best metrics plus the raw per-pass times (the driver artifact
    must show whether a round-over-round delta exceeds this sandbox's session
    spread — single measurements swing 2-3x; see BENCH/BASELINE.md).

    The input table is generated+cached once (generation is not timed).  All
    encode reps run BEFORE the encoded table is persisted — Spark's cache
    manager substitutes cached data into any plan-identical query, which would
    turn later encode passes into cache reads."""
    tok = synthetic_tokens(spark, n_docs, avg_len=AVG_LEN, seed=42,
                           partitions=partitions).persist()
    n_tokens = int(tok.agg(F.sum("n_tok")).collect()[0][0])

    out_bytes_box = [None]

    def _enc():
        out_bytes_box[0] = (encode_table(tok, codec="auto")
                            .agg(F.sum("out_bytes")).collect()[0][0])

    enc_times = _converged_passes(_enc)
    out_bytes = out_bytes_box[0]

    enc = encode_table(tok, codec="auto").persist()
    enc.count()

    def _dec():
        dec_tokens = (decode_table(enc, verify_checksum=True)
                      .agg(F.sum("n_tok")).collect()[0][0])
        assert dec_tokens == n_tokens

    dec_times = _converged_passes(_dec)
    # svb-only wire bytes on the same table: the artifact itself shows the
    # auto-selector's wire win (the encoded pack writer ships auto bytes
    # over both shuffle legs)
    svb_bytes = (encode_table(tok, codec="svb")
                 .agg(F.sum("out_bytes")).collect()[0][0])
    enc.unpersist()
    tok.unpersist()
    t_enc, t_dec = min(enc_times), min(dec_times)
    return {
        "bytes_per_token_svb": svb_bytes / n_tokens,
        "tokens": n_tokens,
        "encode_sec": t_enc,
        "decode_sec": t_dec,
        "encode_passes": [round(t, 3) for t in enc_times],
        "decode_passes": [round(t, 3) for t in dec_times],
        "encode_tok_per_sec": n_tokens / t_enc,
        "decode_tok_per_sec": n_tokens / t_dec,
        "bytes_per_token": out_bytes / n_tokens,
        "ratio": out_bytes / (4 * n_tokens),
    }


def main():
    timings: dict[str, float] = {}
    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # throughput job FIRST (perf.c framing): it must see a clean heap —
    # running it after the checkpoint-heavy staged queries measured executor
    # memory pressure, not the kernels (encode passes still monotonically
    # descending 10.0/3.0/1.7 -> a phantom 1.9x "regression").  Reps are
    # convergence-gated (_converged_passes).
    tp = throughput_job(spark, N_DOCS, partitions=CPUS * 2)

    # headline operator queries at SF_DIR (one unmeasured warm-up first:
    # JVM JIT + python worker pool + allocator pools on this noisy sandbox)
    queries = Q.build_queries()
    headline = ["auto_roundtrip", "auto_size", "delta_roundtrip_postings",
                "svb_size", "metrics_by_source",
                # pipeline operators (round-over-round perf coverage beyond
                # the codec): shingle-hash MinHash LSH dedup + bucketed ANN +
                # hyperplane-banded near-dup (signature tables materialized
                # once before the self-join) + the
                # encoded-bytes-over-the-wire fused chunked decode
                "dedup_minhash_pairs", "ann_lsh", "embedding_neardup",
                "chunked_fused_roundtrip",
                # simhash as one Arrow pandas UDF (not 32 interpreted HOF
                # passes/doc); auto_full's fsst winners encode via the
                # whole-batch kernel (not a per-row registry loop)
                "dedup_simhash", "auto_full_roundtrip",
                # the materialized pack writers — SQL form (raw-token
                # wire) vs the encoded-wire operator, benched side by side
                "pack_sequences", "pack_sequences_encoded",
                # the end-to-end curation composite (dedup -> decontaminate
                # -> length gate -> pack/byte budget): a gated query, so it
                # is benched beside its parts
                "curation_pipeline",
                # the all-encoded curated pack writer (encode at the
                # scan; md5 rank window + contamination anti-join over
                # encoded rows; no raw-token shuffle) — the flagship
                # production composite
                "curated_pack_encoded",
                # the stored-pack round trip (write the encoded pack
                # table to parquet, read it back, decode + checksum-verify)
                # — the dataloader-serving hot path at training time; a
                # read-path regression is invisible without it
                "pack_store_roundtrip",
                # the inverted-index family — the skew-proof chunked
                # build (groupBy (term, did div span) + EF per chunk),
                # boolean-AND serving from the encoded wire, and the
                # TF-weighted integer top-k
                "index_build_chunked", "index_intersect", "index_topk_and",
                # phrase serving from the positional wire (decode only the
                # probed terms' chunks, adjacency probed in-lane) — the
                # canonical positional-index workload
                "index_phrase_match",
                # k-way boolean AND (3-term chunk alignment + in-lane
                # intersect fold) — real queries have > 2 terms; benched
                # beside the 2-term form for the per-term marginal cost
                "index_and_multi"]
    passes: dict[str, list[float]] = {}
    mem: dict[str, dict] = {}
    for name in headline:
        # per-query warm-up pass + best of 3 measured: JIT and this
        # sandbox's page-fault noise swing single measurements 2-3x
        # (CLAUDE.md "Environment quirks"; see BENCH/BASELINE.md's
        # auto_roundtrip noise analysis).  The per-pass lists go into the
        # JSON so the artifact itself shows whether a round-over-round
        # delta exceeds the session spread.
        queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        passes[name] = []
        for _ in range(3):
            # drop the previous pass's DataFrame references first: staged
            # queries localCheckpoint their subplans, and those blocks only
            # unpersist after Python GC releases the DataFrame -> the
            # ContextCleaner reaps the RDD.  Without this, repeated passes
            # of the checkpoint-heavy queries accumulate executor-memory
            # blocks and the LATER passes measure memory pressure, not the
            # query (pack_sequences_encoded once recorded
            # [6.3, 4.9, 12.8] s in one session vs ~2.1 s controlled).
            import gc
            df = None
            gc.collect()
            t0 = time.perf_counter()
            df = queries[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            passes[name].append(round(time.perf_counter() - t0, 3))
        timings[name] = min(passes[name])
        # release THIS query's live stage generation after its LAST
        # measured pass: generation REUSE keeps the three passes above
        # flat, but each staged headliner otherwise leaves its checkpoint
        # blocks resident for the REST of the run — 22 headliners deep,
        # later queries measure accumulated storage pressure, not their
        # plans.  dropTempView alone would not free the blocks;
        # release_stage unpersists the checkpointed RDDs synchronously.
        # Safe here: this headliner's DataFrames are all executed and
        # dropped, and the next query owns a disjoint stage key.
        df = None
        Q.release_stage(spark, name)
        # snapshot AFTER release: jvm_cached_mb is then a LEAK detector —
        # a climbing series across headliners means some query's blocks
        # survived their release
        mem[name] = _mem_stats(spark)

    timings["throughput_encode"] = round(tp["encode_sec"], 3)
    timings["throughput_decode"] = round(tp["decode_sec"], 3)
    passes["throughput_encode"] = tp["encode_passes"]
    passes["throughput_decode"] = tp["decode_passes"]

    total = sum(timings.values())
    result = {
        "metric": "encode+decode tokens/sec (auto codec) + headline query wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "tokens": tp["tokens"],
        "encode_tok_per_sec": round(tp["encode_tok_per_sec"]),
        "decode_tok_per_sec": round(tp["decode_tok_per_sec"]),
        "bytes_per_token": round(tp["bytes_per_token"], 4),
        "bytes_per_token_svb": round(tp["bytes_per_token_svb"], 4),
        "compression_ratio": round(tp["ratio"], 4),
    }
    # per-pass times + per-headliner memory snapshots are the artifact's
    # self-adjudication data (session spread / generation-leak detection),
    # but on stdout they grow the single JSON line to ~3.3 KB, and a reader
    # that tails only the LAST 2000 chars parses nothing and loses the
    # headline.  They go to stderr AND BENCH/DETAIL_last.json; stdout
    # stays one COMPACT line.
    detail = {"query_passes": passes, "query_mem": mem}
    print(json.dumps(detail), file=sys.stderr)
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH", "DETAIL_last.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    spark.stop()
    line = json.dumps(result)
    if len(line) > 1900:
        # never let the headline line outgrow the driver's 2000-char tail
        # again: shed the per-query dict (it survives in the detail file)
        result["queries"] = "see BENCH/DETAIL_last.json"
        line = json.dumps(result)
    print(line)


if __name__ == "__main__":
    main()
