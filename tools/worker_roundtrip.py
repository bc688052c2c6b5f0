"""Where a one-row Python task's time goes, at the Arrow crossing (layer 2).

Runs a one-row, one-task ``mapInArrow`` in a ``get_spark()`` session
``--runs`` times after ``--warmup`` untimed runs, all in one session, so
the task lands on a reused Python worker as a serving request's does.
The function calls into the package (so the worker imports the engine on
unpickling, as it does for every kernel) and stamps three times; the
driver stamps collect's start and return.  Prints one JSON line with the
median milliseconds of four intervals:

* ``collect_to_entry_ms``: ``collect()`` called to the function's entry
  (scheduling, task launch, the command read);
* ``entry_to_first_batch_ms``: entry to the first input batch in hand;
* ``first_batch_to_exit_ms``: first batch to the function's output;
* ``exit_to_return_ms``: the output to ``collect()`` returning.

It also prints ``quickack_at_entry``: how many runs read ``TCP_QUICKACK``
as 1 on the worker's TCP socket at function entry
(``session.worker_quickack``; the kernel's delayed-ACK mode reads 0), out
of ``runs``.  Times are CLOCK_MONOTONIC, one clock for every process on a
Linux host, so the driver's and the worker's stamps compare in local
mode.

Usage: python tools/worker_roundtrip.py [--runs 20] [--warmup 5] [--cpus 4]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from streamvbyte_spark.session import get_spark, worker_quickack  # noqa: E402


def probe(batches):
    import pyarrow as pa
    entry = time.monotonic()
    quickack = worker_quickack()
    batches = iter(batches)
    n = next(batches).num_rows
    got = time.monotonic()
    n += sum(b.num_rows for b in batches)
    yield pa.RecordBatch.from_pydict({
        "entry": [entry], "first": [got], "exit": [time.monotonic()],
        "quickack": [quickack], "n": [n]})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=20)
    ap.add_argument("--warmup", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()

    spark = get_spark(master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(0, 1, 1, numPartitions=1).mapInArrow(
        probe, "entry double, first double, exit double, quickack long, "
               "n long")
    gaps: dict[str, list[float]] = {
        "collect_to_entry_ms": [], "entry_to_first_batch_ms": [],
        "first_batch_to_exit_ms": [], "exit_to_return_ms": []}
    quickack = 0
    for i in range(args.warmup + args.runs):
        t0 = time.monotonic()
        (row,) = df.collect()
        t1 = time.monotonic()
        if row.n != 1:
            raise RuntimeError(f"probe read {row.n} rows, expected 1")
        if i < args.warmup:
            continue
        quickack += row.quickack == 1
        for key, a, b in zip(gaps, (t0, row.entry, row.first, row.exit),
                             (row.entry, row.first, row.exit, t1)):
            gaps[key].append(1e3 * (b - a))
    spark.stop()
    print(json.dumps({"runs": args.runs,
                      **{k: round(median(v), 2) for k, v in gaps.items()},
                      "quickack_at_entry": quickack}))


if __name__ == "__main__":
    main()
