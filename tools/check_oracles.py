"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema
width, and order-insensitive values.

Usage: python tools/check_oracles.py [--tiny-batches] [sf_dir] [name...]

--tiny-batches runs the sweep under a batch rule of 3 rows / 16 KiB
instead of get_spark's 4 MiB / 2^14 rows: every kernel then meets Arrow
batch seams, and every decoder its output slice seams, that the test
data's few batches never cut, so a result that depends on where a batch
is cut shows as a mismatch."""

from __future__ import annotations

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import __spark_entry__ as entrymod
from streamvbyte_spark import session
from streamvbyte_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
TINY_BATCH_ROWS, TINY_BATCH_BYTES = 3, 16 << 10


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, (list, tuple)):
                # driver parity: its pandas canonicalizer (sort_values/hash
                # over all columns) dies on list cells with `unhashable type:
                # 'list'` — fail here so array-typed result columns can never
                # pass locally while erring at the driver (round-1 lesson)
                raise TypeError(
                    f"array-typed result column {cols[i]!r}: the driver "
                    "canonicalizer cannot hash lists; emit scalar columns "
                    "(e.g. n_tok + polynomial fingerprint) instead")
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def main():
    tiny = "--tiny-batches" in sys.argv
    if tiny:
        sys.argv.remove("--tiny-batches")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    if tiny:
        # read by get_spark and by every decoder when its plan is built
        session.ARROW_BATCH_ROWS = TINY_BATCH_ROWS
        session.ARROW_BATCH_BYTES = TINY_BATCH_BYTES
        print(f"batch rule: {TINY_BATCH_ROWS} rows / {TINY_BATCH_BYTES} B")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if name not in os_:
                print(f"{name}: NO ORACLE (rows={len(srows)})")
                continue
            rel = con.sql(os_[name])
            dcols = rel.columns
            wide = [f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
                    if str(t) in ("HUGEINT", "UHUGEINT", "UBIGINT")]
            if wide:
                # fetchall() masks this (Python ints compare fine) but the
                # driver's pandas canonicalizer converts HUGEINT to float64
                # and hash-mismatches Spark's int64 — fail here instead
                print(f"{name}: WIDE-INT ORACLE COLUMN {wide} — cast to bigint")
                failures += 1
                continue
            drows = rel.fetchall()
            a, b = normalize(srows, scols), normalize(drows, dcols)
            if sorted(scols) != sorted(dcols):
                print(f"{name}: SCHEMA MISMATCH spark={sorted(scols)} duck={sorted(dcols)}")
                failures += 1
            elif a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                print(f"{name}: VALUE MISMATCH rows spark={len(a)} duck={len(b)} first_diffs={diff}")
                failures += 1
            else:
                print(f"{name}: OK ({len(a)} rows)")
        except Exception as e:
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            failures += 1
    spark.stop()
    # self-certifying summary: a truncated log looks identical to a
    # passing one — artifacts must end with this line
    print(f"SUMMARY: {n_run - failures}/{n_run} OK"
          + (f", {failures} FAILED" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
