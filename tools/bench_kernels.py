"""Single-thread codec kernel timings on one bulk_codec-shaped batch.

Builds the ``bulk_codec`` token table (``perfbench/inputs.generate_tokens``,
40,000 rows, average length 512) and takes one 10,000-row batch in shuffled
row order, the shape a round-robin repartitioned Spark task sees.  Times,
best of ``--passes`` in one process: ``row_costs(prune=True)``,
``encode_rows`` for ``auto`` and each stored codec, and ``decode_rows`` of
the ``auto`` output (mixed codec groups).  It runs under the malloc
settings ``get_spark`` gives the Python workers (freed memory stays in the
heap), re-executing itself once to set them.

Usage: python tools/bench_kernels.py [--seed 2] [--passes 7]
Prints one JSON line: milliseconds and tokens per second per kernel.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import inputs  # noqa: E402  (perfbench/inputs.py, read only)
from streamvbyte_spark.arrow_rows import list_flat  # noqa: E402
from streamvbyte_spark.codec import batched  # noqa: E402
from streamvbyte_spark.session import _WORKER_MALLOC_ENV  # noqa: E402

ROWS = 10_000


def best_ms(fn, passes):
    fn()  # warm the scratch pools
    best = float("inf")
    for _ in range(passes):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return 1e3 * best


def main():
    if any(os.environ.get(k) != v for k, v in _WORKER_MALLOC_ENV.items()):
        os.execve(sys.executable, [sys.executable, *sys.argv],
                  {**os.environ, **_WORKER_MALLOC_ENV})
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=2)
    ap.add_argument("--passes", type=int, default=7)
    args = ap.parse_args()
    table = inputs.generate_tokens(args.seed, 40000, 512)
    rows = np.random.default_rng(args.seed).permutation(table.num_rows)[:ROWS]
    tokens = table.column("tokens").combine_chunks().take(rows)
    flat, offsets = list_flat(tokens)
    flat = np.ascontiguousarray(flat.view(np.uint32))
    n_tok = np.diff(offsets)
    n = int(offsets[-1])
    ms = {"row_costs.prune": best_ms(lambda: batched.row_costs(
        flat, offsets, batched.VECTOR_COST_CODECS, prune=True), args.passes)}
    for codec in ("auto",) + batched.VECTOR_COST_CODECS:
        ms[f"encode_rows.{codec}"] = best_ms(
            lambda: batched.encode_rows(flat, offsets, codec), args.passes)
    enc, eoff, cids = batched.encode_rows(flat, offsets, "auto")
    ms["decode_rows.auto"] = best_ms(
        lambda: batched.decode_rows(enc, eoff, n_tok, cids), args.passes)
    print(json.dumps({
        "seed": args.seed, "rows": ROWS, "tokens": n,
        "bytes_per_token": round(enc.size / n, 4),
        "ms": {k: round(v, 1) for k, v in ms.items()},
        "mtok_per_s": {k: round(n / v / 1e3, 2) for k, v in ms.items()},
        "auto_vs_svb": round(ms["encode_rows.svb"] / ms["encode_rows.auto"],
                             3)}))


if __name__ == "__main__":
    main()
