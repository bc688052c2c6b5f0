"""Per-query isolation harness for the optimization rounds (guide §1).

NOT the driver bench — bench.py is frozen for measurement.  This tool times
individual registry queries with the noop sink (computation only, no sink
cost), captures .explain("formatted") to plans/<tag>/<query>_<suffix>.txt,
and prints one JSON line per query with warm-up + measured passes.

Each query runs in its own Python process and Spark session, one after
another, so its best-of-N does not depend on its position in the list (in
one shared session, JVM warm-up that one warm-up pass does not finish
favoured the queries listed last).  Each query pays its own session start.

Usage:
  python bench_extra.py [--sf DIR] [--plans TAG_DIR] [--suffix before]
                        [--passes 3] query [query ...]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    from streamvbyte_spark.session import default_cpus
    ap.add_argument("--cpus", type=int, default=default_cpus())
    ap.add_argument("--plans", default=None,
                    help="directory to write explain('formatted') into")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()
    if len(args.queries) > 1:
        flags = ["--sf", args.sf, "--cpus", str(args.cpus),
                 "--suffix", args.suffix, "--passes", str(args.passes),
                 *(["--plans", args.plans] if args.plans else [])]
        for name in args.queries:
            subprocess.run([sys.executable, os.path.abspath(__file__),
                            *flags, name])
        return

    from streamvbyte_spark.session import get_spark
    import streamvbyte_spark.queries as Q

    spark = get_spark(master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    queries = Q.build_queries()

    for name in args.queries:
        if name not in queries:
            print(json.dumps({"query": name, "err": "unknown"}))
            continue
        spark.sparkContext.setJobDescription(f"bench_extra: {name} warmup")
        t0 = time.perf_counter()
        df = queries[name](spark, args.sf)
        df.write.format("noop").mode("overwrite").save()
        warm = time.perf_counter() - t0
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            with open(os.path.join(
                    args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        times = []
        for i in range(args.passes):
            df = None
            gc.collect()
            spark.sparkContext.setJobDescription(f"bench_extra: {name} p{i}")
            t0 = time.perf_counter()
            df = queries[name](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        df = None
        Q.release_stage(spark, name)
        print(json.dumps({"query": name, "sf": args.sf,
                          "warm": round(warm, 3), "passes": times,
                          "best": min(times)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
