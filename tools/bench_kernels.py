"""Single-thread codec kernel timings on one bulk_codec-shaped batch.

Builds the ``bulk_codec`` token table (``perfbench/inputs.generate_tokens``,
40,000 rows, average length 512) and takes one 10,000-row batch in shuffled
row order, the shape a round-robin repartitioned Spark task sees.  Times,
best of ``--passes`` in one process: the auto size pass, both as
``row_costs(prune=True)`` over the 7 ``auto`` candidates and as
``size_rows(codec="auto")``, and ``encode_rows`` and ``decode_rows`` (of
that encode's output) for each auto mode (mixed codec groups) and every
stored codec — ``ef`` and ``auto_sorted`` on the batch's rows each
sorted.  Then the serving shape: ``ef`` encode and decode of batches
of 8 and 32 rows of at most 128 sorted doc ids (the EF did chunks an
``index_serving`` request decodes), timed per call over 100 calls.
Auto encode and decode are also timed over the same 10,000 rows cut the
way ``get_spark``'s Arrow batch rule cuts a partition, one call per
slice, so the per-call cost the rule adds shows at the kernel layer.

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
from streamvbyte_spark.session import (  # noqa: E402
    ARROW_BATCH_BYTES, ARROW_BATCH_ROWS)

ROWS = 10_000


def best_ms(fn, passes, calls=1):
    fn()  # warm-up call
    best = float("inf")
    for _ in range(passes):
        t0 = time.perf_counter()
        for _ in range(calls):
            fn()
        best = min(best, (time.perf_counter() - t0) / calls)
    return 1e3 * best


def sorted_rows(flat, offsets):
    """Each row's values sorted (one sort of the row-major composite key)."""
    row = np.repeat(np.arange(offsets.size - 1, dtype=np.uint64),
                    np.diff(offsets))
    return (np.sort((row << np.uint64(32)) | flat) & np.uint64(0xFFFFFFFF)) \
        .astype(np.uint32)


def session_slices(flat, offsets):
    """The batch cut into (flat, offsets) slices at get_spark's Arrow batch
    rule: a slice closes once its list<int32> bytes (4 per value, 4 per
    row offset) reach ARROW_BATCH_BYTES or its rows ARROW_BATCH_ROWS.
    Spark's own size estimate runs ~4% above those bytes: it cuts rows of
    512 tokens every 1,967 rows where this cut would take 2,044."""
    bounds, size = [0], 0
    for i, n in enumerate(np.diff(offsets), 1):
        size += 4 * int(n) + 4
        if size >= ARROW_BATCH_BYTES or i - bounds[-1] == ARROW_BATCH_ROWS:
            bounds.append(i)
            size = 0
    if bounds[-1] != offsets.size - 1:
        bounds.append(offsets.size - 1)
    return [(flat[offsets[a]:offsets[b]], offsets[a:b + 1] - offsets[a])
            for a, b in zip(bounds[:-1], bounds[1:])]


def main():
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
    timed, out_bytes = {}, {}  # kernel -> (ms, tokens); codec -> bytes

    def bench(name, fn, tokens=n, calls=1):
        timed[name] = (best_ms(fn, args.passes, calls), tokens)

    bench("row_costs.prune", lambda: batched.row_costs(
        flat, offsets, batched.VECTOR_COST_CODECS, prune=True))
    bench("size_rows.auto", lambda: batched.size_rows(flat, offsets, "auto"))
    for codec in tuple(batched.AUTO_MODES) + batched.CODEC_NAMES:
        vals = sorted_rows(flat, offsets) \
            if codec in ("ef", "auto_sorted") else flat
        enc = batched.encode_rows(vals, offsets, codec)
        out_bytes[codec] = enc[0].size
        bench(f"encode_rows.{codec}",
              lambda: batched.encode_rows(vals, offsets, codec))
        bench(f"decode_rows.{codec}",
              lambda: batched.decode_rows(enc[0], enc[1], n_tok, enc[2]))
    slices = session_slices(flat, offsets)
    encs = [batched.encode_rows(f, o, "auto") for f, o in slices]
    bench("encode_rows.auto.session_batches", lambda: [
        batched.encode_rows(f, o, "auto") for f, o in slices])
    bench("decode_rows.auto.session_batches", lambda: [
        batched.decode_rows(e[0], e[1], np.diff(o), e[2])
        for e, (_, o) in zip(encs, slices)])
    rng = np.random.default_rng(args.seed)
    for r in (8, 32):
        lens = rng.integers(1, 129, r)
        dids = np.concatenate([np.sort(rng.choice(40000, k, replace=False))
                               for k in lens]).astype(np.uint32)
        doff = np.concatenate([[0], np.cumsum(lens)])
        enc = batched.encode_rows(dids, doff, "ef")
        bench(f"encode_rows.ef.serving{r}",
              lambda: batched.encode_rows(dids, doff, "ef"), dids.size, 100)
        bench(f"decode_rows.ef.serving{r}", lambda: batched.decode_rows(
            enc[0], enc[1], lens, enc[2]), dids.size, 100)
    ms = {k: v[0] for k, v in timed.items()}
    print(json.dumps({
        "seed": args.seed, "rows": ROWS, "tokens": n,
        "session_batch_rows": [o.size - 1 for _, o in slices],
        "bytes_per_token": round(out_bytes["auto"] / n, 4),
        "ms": {k: round(v, 3) for k, v in ms.items()},
        "mtok_per_s": {k: round(t / v / 1e3, 2)
                       for k, (v, t) in timed.items()},
        "auto_vs_svb": round(ms["encode_rows.svb"] / ms["encode_rows.auto"],
                             3)}))


if __name__ == "__main__":
    main()
