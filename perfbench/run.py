"""streamvbyte-spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload bulk_codec --seed 1 --seconds 10 \
        --trace 0

Run from the repository root.  The command starts its own Spark session at
``local[N]`` (N = the CPUs this process may run on), generates the
workload's inputs from ``--seed`` (cached under ``.perfbench/cache``), sets
the workload up several times, checks its outputs, warms it until its
operations stop getting faster, then repeats the workload's operation in a
closed loop with one client for ``--seconds``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones and the spans are written under ``.perfbench/traces/``.
See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

N_SETUP = 3  # set-up repetitions; setup_s takes their median

# per-layer self times reported by the traced run; a layer the workload
# does not call reports 0
LAYERS = ("run", "op", "session", "inputs", "setup", "check", "spark",
          "queries", "sources", "codec.batched", "operators.encode",
          "operators.index", "operators.packing", "operators.staging")


def host_env(run_dir: str, jvm_options: str = "") -> dict[str, str]:
    """Session settings derived from this host, applied through the
    environment before Spark starts (the package's session factory reads
    them): CPU count from the affinity mask, driver memory from
    /proc/meminfo, every scratch path inside the checkout, and the
    checkout on the Python workers' import path."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    # a sixth of the host's memory: the heap is pre-touched (below), so
    # this is what the JVM keeps resident
    driver_gb = max(1, min(16, mem_kb // 6 // 2**20))
    tmp = os.path.join(run_dir, "tmp")
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.ui.enabled=false",
        "--conf", f"spark.sql.warehouse.dir={run_dir}/warehouse",
        # the whole heap is committed and touched at start, so the JVM's
        # resident size does not depend on when the collector grows it
        "--conf", "spark.driver.extraJavaOptions="
                  f"-Xms{driver_gb}g -XX:+AlwaysPreTouch {jvm_options}",
        "pyspark-shell",
    ]
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher's too, keeps out of /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext
    from harness import descendants
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def per_layer_names() -> list[str]:
    """Names of the per-layer metrics, in report order (BENCHMARK.json's
    ``per_layer`` lists the same names; the smoke test checks it)."""
    from harness import SQL_METRICS
    from workloads import (CURATE_QUERIES, KERNEL_CODECS, SERVING_INDEXES,
                           SERVING_QUERIES, STORED_CODECS)
    names = [f"spark.{k}" for k in SQL_METRICS.values()]
    names += ["spark.jobs", "spark.stages", "spark.tasks",
              "session.get_spark_s", "setup.input_gen_s", "setup.first_s",
              "setup.repeat_s", "setup.warmup_s", "op.count", "op.ms_p90",
              "op.traced_ms_p50", "op.untraced_ms_p50", "trace.overhead_ms",
              "trace.overhead_frac", "rss.java_peak_mb",
              "rss.python_peak_mb", "operators.encode.encode_table.s",
              "operators.encode.decode_table.s",
              "operators.encode.size_table.s", "spark.mapinarrow.identity_s"]
    for c in STORED_CODECS:
        names += [f"codec.rows.{c}", f"codec.bytes.{c}"]
    for c in KERNEL_CODECS:
        names += [f"codec.batched.encode_rows.{c}.tok_per_s",
                  f"codec.batched.decode_rows.{c}.tok_per_s"]
    names += [f"codec.batched.{k}.tok_per_s"
              for k in ("validate_rows", "row_costs", "fingerprint_rows")]
    names += [f"queries.{q}.ms_p50" for q in SERVING_QUERIES]
    names += [f"operators.index.{b}.s" for b in SERVING_INDEXES]
    names += [f"queries.{q}.s_p50" for q in CURATE_QUERIES]
    names += ["sources.tokens_from_documents.s",
              "operators.packing.pack_tokens_encoded.s",
              "operators.packing.decode_packs.s",
              "operators.packing.pack_bytes_per_token"]
    names += [f"self_s.{layer}" for layer in LAYERS]
    return names


def unit_of(name: str) -> str:
    if name.startswith("codec.bytes."):
        return "B"
    if name.startswith("self_s."):
        return "s"
    if name.endswith("tok_per_s"):
        return "tok/s"
    if name.endswith(("_ms", "ms_p50", "ms_p90")):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s", ".s_p50")):
        return "s"
    if name.endswith("_frac"):
        return "ratio"
    if name.endswith("bytes_per_token"):
        return "B/token"
    return "count"


class Run:
    """One invocation: set-up, check, warm-up, timed loop, metrics."""

    def __init__(self, args):
        from harness import Tracer
        import workloads
        self.args = args
        self.wl = workloads.WORKLOADS[args.workload](small=args.small)
        self.tracer = Tracer(enabled=bool(args.trace))
        self.attempted = self.failed = 0
        self.t = {}

    def timed(self, key, span, fn):
        t0 = time.perf_counter()
        with self.tracer.span(span):
            out = fn()
        self.t.setdefault(key, []).append(time.perf_counter() - t0)
        return out

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def attempt(self, ctx, i: int) -> bool:
        """Run op ``i``; an op that raises counts as failed and the loop
        goes on (the traceback goes to stderr)."""
        try:
            ok = self.wl.op(ctx, i)
        except Exception:
            traceback.print_exc()
            ok = False
        self.count(ok)
        return ok

    def warm_up(self, ctx) -> None:
        """``warm_ops`` untimed ops, each output checked.  The count is
        where the workload's op times stopped descending on the reference
        host (README.md); a fixed count keeps setup_s steady."""
        t0 = time.perf_counter()
        for i in range(self.wl.warm_ops):
            with self.tracer.span("setup.warmup_op", req=f"w{i}"):
                self.attempt(ctx, i)
        self.t["warmup"] = [time.perf_counter() - t0]
        self.n_warm = self.wl.warm_ops

    def timed_loop(self, ctx, sm) -> None:
        """Closed loop, one client: the next op starts when the previous
        one ends, until ``--seconds`` have passed.  The traced run traces
        every other op, so the difference between the medians of traced
        and untraced ops is the tracing overhead."""
        tr = self.tracer
        self.lat, self.traced, self.untraced, self.per_op = [], [], [], []
        t_end = time.perf_counter() + self.args.seconds
        i = 0
        while i == 0 or time.perf_counter() < t_end:
            trace_this = bool(self.args.trace) and i % 2 == 0
            if sm is not None:
                sm.start_group(f"op{i}")
            t0 = time.perf_counter()
            with tr.span("op" if trace_this else "untraced_op",
                         req=f"op{i}"), tr.muted(not trace_this):
                self.attempt(ctx, self.n_warm + i)
            dt = time.perf_counter() - t0
            self.lat.append(dt)
            (self.traced if trace_this else self.untraced).append(dt)
            if trace_this:
                self.per_op.append(sm.harvest(f"op{i}"))
            i += 1

    def execute(self) -> dict:
        from harness import RssSampler, SparkMetrics
        import workloads
        # the package must import before anything is set up: without it
        # there is nothing to measure
        import streamvbyte_spark  # noqa: F401
        from streamvbyte_spark.session import get_spark

        args, wl, tr = self.args, self.wl, self.tracer
        with RssSampler() as rss, tr.span("run", req="run"):
            def start():
                cpus = int(os.environ["SPARK_GRAFT_CPUS"])
                s = get_spark(app=f"perfbench-{args.workload}",
                              master=f"local[{cpus}]",
                              shuffle_partitions=cpus)
                s.sparkContext.setLogLevel("ERROR")
                return s
            spark = self.timed("session", "session.get_spark", start)
            try:
                ctx = workloads.Context(spark, tr, args.seed,
                                        os.path.join(WORK, "cache"))
                self.timed("input", "inputs.load", lambda: wl.inputs(ctx))
                for k in range(N_SETUP):
                    if k:
                        wl.release(ctx)
                    self.timed("setup", "setup.repeat", lambda: wl.setup(ctx))
                attempted, failed = wl.check(ctx)
                self.attempted += attempted
                self.failed += failed
                self.warm_up(ctx)
                self.timed_loop(ctx, SparkMetrics(spark) if args.trace
                                else None)
                e2e = {
                    "setup_s": self.t["session"][0] + self.t["input"][0]
                    + median(self.t["setup"]) + self.t["warmup"][0],
                    "op_ms_p50": 1e3 * median(self.lat),
                    "bytes_per_token": wl.bytes_per_token(),
                }
                layer = self.layer_metrics(ctx) if args.trace else {}
            finally:
                stop_spark(spark)
        e2e["peak_rss_mb"] = rss.peak / 2**20
        layer.update({f"rss.{k}_peak_mb": v / 2**20
                      for k, v in rss.peak_by_kind.items()})
        print(json.dumps({k: [round(x, 3) for x in v]
                          for k, v in self.t.items()}
                         | {"ops": [round(x, 3) for x in self.lat]}
                         | {k: round(v / 2**20) for k, v in
                            rss.peak_by_kind.items()}), file=sys.stderr)
        metrics = e2e
        if args.trace:
            metrics = layer
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            path = os.path.join(WORK, "traces", f"{args.workload}-seed"
                                f"{args.seed}-{int(time.time())}.jsonl")
            tr.write(path)
            print(f"spans: {path}", file=sys.stderr)
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": v, "unit": unit_of(k)}
                            for k, v in metrics.items()}}

    def layer_metrics(self, ctx) -> dict[str, float]:
        from harness import SQL_METRICS, quantile
        m: dict[str, float] = {}
        for k in list(SQL_METRICS.values()) + ["jobs", "stages", "tasks"]:
            m[f"spark.{k}"] = median([p[k] for p in self.per_op])
        m["session.get_spark_s"] = self.t["session"][0]
        m["setup.input_gen_s"] = self.t["input"][0]
        m["setup.first_s"] = self.t["setup"][0]
        m["setup.repeat_s"] = median(self.t["setup"])
        m["setup.warmup_s"] = self.t["warmup"][0]
        m["op.count"] = float(len(self.lat))
        m["op.ms_p90"] = 1e3 * quantile(self.lat, 0.9)
        m["op.traced_ms_p50"] = 1e3 * median(self.traced)
        m["op.untraced_ms_p50"] = 1e3 * median(self.untraced or self.traced)
        m["trace.overhead_ms"] = m["op.traced_ms_p50"] \
            - m["op.untraced_ms_p50"]
        m["trace.overhead_frac"] = m["trace.overhead_ms"] \
            / m["op.untraced_ms_p50"]
        m.update(self.wl.layer_metrics(ctx))
        self_t = self.tracer.layer_self_times()
        for layer in LAYERS:
            m[f"self_s.{layer}"] = self_t.get(layer, 0.0)
        # every run reports every per-layer metric; a layer this workload
        # does not call reads 0
        return {k: m.get(k, 0.0) for k in per_layer_names()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("bulk_codec", "index_serving"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs, for the smoke test only")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    import workloads
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    env = host_env(run_dir, workloads.WORKLOADS[args.workload].jvm_options)
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    t0 = time.perf_counter()
    try:
        result = Run(args).execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"run took {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
