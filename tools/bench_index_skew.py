"""Adversarial-skew serving bench: a df=1.0 stopword corpus, measured.

Reproduces and extends the SCALE.md "SERVING under a df=1.0 stopword"
section: every document contains the stopword `the`; the rare terms
`zebra` (200 docs, two concentrated blocks) and `quagga` (150 docs, one
block overlapping zebra's first) exist so AND-family serving can be
measured under maximal df asymmetry.  The structural claims this script
prints evidence for:

* 2-term AND (`intersect_terms`): one scan reads both terms' encoded
  chunk rows into one task, whose aligner keeps only the co-occupied
  pairs (~df_rare/span) before any decode — the stopword's D/span
  encoded chunks cross Arrow once but are never decoded.
* k-way AND (`intersect_terms_multi`): only chunks ALL k terms occupy are
  decoded — the RAREST term bounds the decode work.
* TF top-k (`topk_and_terms`, co-grouped: in-lane score and per-batch
  local top-k): measured against an inline reconstruction of the
  decode-everything plan it replaced (decode_index_tf over both terms'
  full chunk sets + posting-level did join).
* OR consumed DISTRIBUTED (`union_terms_rows`, the operators' public
  return) vs the gate-scalar fold (`union_terms`): the fold concentrates
  the full union-id list on one task and dominates big-OR walls; the
  rows form stays span-bounded per task.

Usage: python tools/bench_index_skew.py [n_docs] [span] [cpus]
Prints one JSON line per measurement (best of N with a warm-up).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
SPAN = int(sys.argv[2]) if len(sys.argv) > 2 else 16_384
CPUS = int(sys.argv[3]) if len(sys.argv) > 3 else 16


def corpus(spark, n):
    """Every doc holds TWO df=1.0 stopwords (`the` at tf=2, `ubiq`);
    zebra in 2 blocks of 100 (doc 1000.. and n//2..), quagga in one
    150-block overlapping zebra's first (500..)."""
    from pyspark.sql import functions as F
    return (spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the ubiq"),
            F.when((F.col("id") >= 1000) & (F.col("id") < 1100),
                   F.lit(" zebra"))
            .when((F.col("id") >= n // 2) & (F.col("id") < n // 2 + 100),
                  F.lit(" zebra")).otherwise(F.lit("")),
            F.when((F.col("id") >= 500) & (F.col("id") < 650),
                   F.lit(" quagga")).otherwise(F.lit("")),
            F.lit(" the")).alias("text"),   # `the` tf=2 everywhere
        F.lit("s").alias("source")))


def best_of(run, reps=3):
    times = []
    run()  # warm-up
    for _ in range(reps):
        t0 = time.perf_counter()
        run()
        times.append(round(time.perf_counter() - t0, 3))
    return min(times), times


def main():
    from pyspark.sql import functions as F

    from streamvbyte_spark.operators.index import (
        build_index_chunked, build_index_tf_chunked, decode_index_tf,
        intersect_terms, intersect_terms_multi, topk_and_terms,
        union_terms, union_terms_rows)
    from streamvbyte_spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    docs = corpus(spark, N_DOCS)

    enc = build_index_chunked(docs, span=SPAN).localCheckpoint()
    enc_tf = build_index_tf_chunked(docs, span=SPAN).localCheckpoint()
    n_chunks = enc.count()

    def emit(name, best, times, extra=None):
        row = {"measure": name, "best_sec": best, "passes": times,
               "n_docs": N_DOCS, "span": SPAN, "cpus": CPUS,
               "total_chunks": n_chunks}
        row.update(extra or {})
        print(json.dumps(row))

    # co-occupied pair/triple counts: the decode-work bound per query
    def occupied(terms):
        j = None
        for i, t in enumerate(terms):
            s = enc.where(F.col("doc_id") == t).select(
                "chunk_id", F.col("n_tok").alias(f"n_{i}"))
            j = s if j is None else j.join(s, "chunk_id")
        return j.count()

    b, ts = best_of(lambda: intersect_terms(enc, "the", "zebra").collect())
    emit("and_2term_stopword_rare", b, ts,
         {"co_occupied_pairs": occupied(["the", "zebra"])})

    b, ts = best_of(lambda: intersect_terms_multi(
        enc, ["the", "zebra", "quagga"]).collect())
    emit("and_3term_stopword_two_rare", b, ts,
         {"co_occupied_triples": occupied(["the", "zebra", "quagga"])})

    # the named worst case: TWO df=1.0 stopwords AND one rare term — the
    # rare term must still bound the decode work (its chunks are the only
    # co-occupied triples; each stopword side decodes <= span dids there)
    b, ts = best_of(lambda: intersect_terms_multi(
        enc, ["the", "ubiq", "zebra"]).collect())
    emit("and_two_stopwords_rare", b, ts,
         {"co_occupied_triples": occupied(["the", "ubiq", "zebra"])})

    # identity cross-checks (the timed claims are only meaningful if the
    # forms agree): fold row == fold of the distributed rows, co-grouped
    # top-k == the reconstructed old plan's rows
    from streamvbyte_spark.operators.index import intersect_terms_rows
    and_row = intersect_terms(enc, "the", "zebra").collect()[0]
    and_rows = sorted(r.did for r in
                      intersect_terms_rows(enc, ["the", "zebra"]).collect())
    assert and_row.n_common == len(and_rows), (and_row, len(and_rows))
    multi_row = intersect_terms_multi(
        enc, ["the", "zebra", "quagga"]).collect()[0]
    multi_rows = sorted(
        r.did for r in
        intersect_terms_rows(enc, ["the", "zebra", "quagga"]).collect())
    assert multi_row.n_common == len(multi_rows)
    assert set(multi_rows) == set(and_rows) & {
        r.did for r in intersect_terms_rows(enc, ["quagga"]).collect()}

    b, ts = best_of(lambda: topk_and_terms(
        enc_tf, "the", "zebra", k=10).collect())
    emit("topk_cogrouped", b, ts)

    def topk_old_plan(collect=True):
        # the retired decode-everything plan, reconstructed: decode BOTH
        # terms' full chunk sets, join posting rows on did
        posts = decode_index_tf(
            enc_tf.where(F.col("doc_id").isin(["the", "zebra"])))
        a = posts.where(F.col("term") == "the").select(
            "did", F.col("tf").alias("tf_a"))
        c = posts.where(F.col("term") == "zebra").select(
            "did", F.col("tf").alias("tf_b"))
        df = (a.join(c, "did")
              .select("did", "tf_a", "tf_b",
                      (F.col("tf_a") + F.col("tf_b")).alias("score"))
              .orderBy(F.col("score").desc(), F.col("did").asc())
              .limit(10))
        return df.collect() if collect else df

    assert [tuple(r) for r in
            topk_and_terms(enc_tf, "the", "zebra", k=10).collect()] == \
        [tuple(r) for r in topk_old_plan()]

    b, ts = best_of(topk_old_plan)
    emit("topk_decode_everything_reference", b, ts)

    or_row = union_terms(enc, "the", "zebra").collect()[0]
    assert or_row.n_docs == union_terms_rows(enc, "the", "zebra").count()

    b, ts = best_of(lambda: union_terms(enc, "the", "zebra").collect())
    emit("or_gate_scalar_fold", b, ts)

    b, ts = best_of(lambda: union_terms_rows(enc, "the", "zebra")
                    .write.format("noop").mode("overwrite").save())
    emit("or_distributed_rows", b, ts)

    spark.stop()


if __name__ == "__main__":
    main()
