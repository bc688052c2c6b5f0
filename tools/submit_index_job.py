"""Cluster entry point for the inverted-index build — spark-submit --py-files.

    cd /root/repo && zip -qr /tmp/streamvbyte_spark.zip streamvbyte_spark
    spark-submit --master <cluster-or-local[N]> \
        --py-files /tmp/streamvbyte_spark.zip \
        tools/submit_index_job.py \
        --input  <documents parquet path> \
        --output <index table path> \
        [--span 131072] [--probe term_a,term_b] [--and t1,t2,t3,...]

Builds the TF-weighted chunked index (operators/index.build_index_tf_chunked:
one posting-level shuffle, every chunk bounded by the span — the skew-proof
100 TB shape) and writes it as parquet; a serving query's probe predicate
prunes at the scan via parquet row-group min/max PushedFilters (plan-tested
in test_index_store_and_serve_pushes_probe_predicate — NOT directory
partitioning: partitionBy(term) would mint one directory per vocabulary
entry).  --probe runs a top-k AND against the
STORED index and includes the rows in the report (the serving smoke check).
--and runs a K-WAY boolean AND against the same stored TF wire (its EF
did stream serves set queries directly — operators/index.INDEX_WIRES)
and reports the match count plus the smallest matching ids.

The JSON report (last stdout line): terms, chunks, postings, encoded bytes,
bytes/posting, wall seconds.
"""

from __future__ import annotations

import argparse
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--span", type=int, default=131072)
    ap.add_argument("--probe", default="")
    ap.add_argument("--and", dest="and_terms", default="",
                    help="comma-separated terms for a k-way boolean AND "
                         "served from the stored index")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from streamvbyte_spark.operators.index import (build_index_tf_chunked,
                                                   topk_and_terms)

    spark = SparkSession.builder.appName("svb-index-job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    docs = spark.read.parquet(args.input)
    t0 = time.time()
    build_index_tf_chunked(docs, span=args.span) \
        .write.mode("overwrite").parquet(args.output)
    stored = spark.read.parquet(args.output)
    # coalesce: sum() over an EMPTY index (all-empty texts) is NULL — the
    # report must say zeros, not die on None arithmetic
    agg = stored.agg(
        F.countDistinct("doc_id").alias("terms"),
        F.count("*").alias("chunks"),
        F.coalesce(F.sum("n_doc"), F.lit(0)).alias("postings"),
        F.coalesce(F.sum("out_bytes"), F.lit(0)).alias("enc_bytes")
    ).collect()[0]
    report = {"terms": agg.terms, "chunks": agg.chunks,
              "postings": agg.postings, "enc_bytes": agg.enc_bytes,
              "bytes_per_posting": round(agg.enc_bytes / max(agg.postings, 1),
                                         4),
              "wall_sec": round(time.time() - t0, 2)}
    if args.probe:
        a, b = args.probe.split(",", 1)
        report["probe"] = [r.asDict() for r in
                           topk_and_terms(stored, a, b, k=10).collect()]
    if args.and_terms:
        from streamvbyte_spark.operators.index import intersect_terms_rows
        terms = [t for t in args.and_terms.split(",") if t]
        # localCheckpoint the intersection ONCE: the count/min aggregate
        # and the bounded id sample otherwise each re-scan and re-decode
        # the stored index
        rows = intersect_terms_rows(stored, terms).localCheckpoint()
        # count + a bounded id sample, never the full (possibly huge) list
        agg = rows.agg(F.count("*").alias("n"),
                       F.min("did").alias("min_did")).collect()[0]
        report["and"] = {"terms": terms, "n_docs": agg.n,
                         "first_dids": [r.did for r in
                                        rows.orderBy("did").limit(5)
                                        .collect()],
                         "min_did": agg.min_did}
    print(json.dumps(report, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
