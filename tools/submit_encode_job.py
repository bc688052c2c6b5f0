"""Cluster entry point for the encode job — run via spark-submit --py-files.

Packaging + launch (the north-rule deployment shape):

    cd /root/repo && zip -qr /tmp/streamvbyte_spark.zip streamvbyte_spark
    spark-submit --master <cluster-or-local[N]> \
        --py-files /tmp/streamvbyte_spark.zip \
        tools/submit_encode_job.py \
        --input  <token parquet/Iceberg path or 'synthetic:N_DOCS'> \
        --output <encoded table path> \
        [--codec auto] [--buckets 64] [--avg-len 256]

On a real cluster the same command runs at N and 4N executors
(--num-executors / dynamic allocation); the job is a resumable
checkpoint-encode: rerunning after a failure only processes buckets whose
lineage rows are missing (operators.lineage).
"""

from __future__ import annotations

import argparse
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--codec", default="auto")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--avg-len", type=int, default=256)
    args = ap.parse_args()

    # imports resolved from --py-files zip on executors
    from pyspark.sql import SparkSession

    from streamvbyte_spark.operators.lineage import (
        encode_with_checkpoint, lineage_metrics)
    from streamvbyte_spark.sources import synthetic_tokens

    spark = SparkSession.builder.appName("svb-encode-job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.input.startswith("synthetic:"):
        n_docs = int(args.input.split(":", 1)[1])
        tok = synthetic_tokens(spark, n_docs, avg_len=args.avg_len)
    else:
        tok = spark.read.parquet(args.input)

    t0 = time.time()
    result = encode_with_checkpoint(tok, args.output, n_buckets=args.buckets,
                                    codec=args.codec)
    wall = time.time() - t0
    metrics = {}
    if not result.get("skipped"):
        from pyspark.sql import functions as F
        r = lineage_metrics(spark, args.output).agg(
            F.sum("docs").alias("docs"),
            F.sum("in_bytes").alias("in_bytes"),
            F.sum("out_bytes").alias("out_bytes")).collect()[0]
        metrics = {"docs": r.docs, "in_bytes": r.in_bytes,
                   "out_bytes": r.out_bytes,
                   "ratio": round(r.out_bytes / r.in_bytes, 4)}
    print(json.dumps({"result": result, "wall_sec": round(wall, 2), **metrics},
                     default=str))
    spark.stop()


if __name__ == "__main__":
    main()
