"""Hostile-input sweep of every stored codec's batch decoder.

Each trial encodes one kernel-level batch with one codec (rows of random
full 32-bit, small-range, constant and small-alphabet values, sorted for
ef), then corrupts one nonempty row once: its last byte cut, one bit
flipped, or its n_tok overstated.  ``decode_rows`` over the corrupt batch
must then end in a ValueError (the kernels raise StreamError) or, for a
flip or an overstated count, return exactly n_tok tokens per row.  No
IndexError, MemoryError or any other exception type may escape.  A cut
byte always raises; an overstated count may decode, because the count is
out of band (a width-0 constant row, or extra codes that fit a row's
padding bits).

A garbled header can declare a huge width or count, so the sweep runs in a
child Python process that caps its own address space (RLIMIT_AS) once its
imports are done: an allocation sized from hostile bytes fails there as a
MemoryError the sweep reports, and never takes memory from the test
process, which may host a Spark JVM and so is never capped.

Run directly, the file is the child: ``python tests/test_codec_hostile.py
TRIALS SEED`` prints one JSON object, codec -> corruption -> outcome ->
count.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import numpy as np

CORRUPTIONS = ("cut", "flip", "overstate")
_HEADROOM = 1 << 30  # address space the child may grow by after its imports


def _row(rng, n, sort):
    kind = rng.integers(0, 4)
    if kind == 0:
        v = rng.integers(0, 2 ** 32, n, dtype=np.uint64)
    elif kind == 1:
        v = rng.integers(0, 300, n)
    elif kind == 2:
        v = np.full(n, rng.integers(0, 2 ** 32, dtype=np.uint64))
    else:
        v = rng.choice(rng.integers(0, 2 ** 32, 4, dtype=np.uint64), n)
    v = v.astype(np.uint32)
    return np.sort(v) if sort else v


def _outcome(batched, enc, eoff, n_toks, cids):
    try:
        _, voff = batched.decode_rows(enc, eoff, n_toks, cids)
    except ValueError:
        return "ValueError"
    except Exception as e:  # noqa: BLE001 - the sweep reports every type
        return type(e).__name__
    return "decoded" if np.array_equal(np.diff(voff), n_toks) else \
        "wrong_count"


def sweep(trials: int, seed: int) -> dict:
    from streamvbyte_spark.codec import batched
    rng = np.random.default_rng(seed)
    out = {}
    for codec in batched.CODEC_NAMES:
        seen = {kind: Counter() for kind in CORRUPTIONS}
        for _ in range(trials):
            rows = [_row(rng, int(n), codec == "ef")
                    for n in rng.integers(1, 300, rng.integers(1, 7))]
            off = np.concatenate([[0], np.cumsum([r.size for r in rows])])
            enc, eoff, cids = batched.encode_rows(
                np.concatenate(rows), off.astype(np.int64), codec)
            n_toks = np.diff(off).astype(np.int64)
            i = int(rng.integers(0, len(rows)))
            cut = np.delete(enc, eoff[i + 1] - 1)
            seen["cut"][_outcome(batched, cut,
                                 eoff - (np.arange(eoff.size) > i),
                                 n_toks, cids)] += 1
            flip = enc.copy()
            flip[rng.integers(eoff[i], eoff[i + 1])] ^= \
                np.uint8(1 << int(rng.integers(0, 8)))
            seen["flip"][_outcome(batched, flip, eoff, n_toks, cids)] += 1
            over = n_toks.copy()
            over[i] += int(rng.integers(1, 1000))
            seen["overstate"][_outcome(batched, enc, eoff, over, cids)] += 1
        out[codec] = {kind: dict(c) for kind, c in seen.items()}
    return out


def test_hostile_bytes_raise_valueerror_or_decode_exactly():
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1")
    trials = 150
    r = subprocess.run([sys.executable, __file__, str(trials), "7"],
                       capture_output=True, text=True, timeout=600, env=env)
    assert r.returncode == 0, r.stderr
    seen = json.loads(r.stdout)
    from streamvbyte_spark.codec import batched
    assert sorted(seen) == sorted(batched.CODEC_NAMES)
    for codec, kinds in seen.items():
        assert kinds["cut"] == {"ValueError": trials}, (codec, kinds)
        for kind in ("flip", "overstate"):
            assert sum(kinds[kind].values()) == trials, (codec, kinds)
            assert set(kinds[kind]) <= {"ValueError", "decoded"}, \
                (codec, kind, kinds[kind])


if __name__ == "__main__":
    import resource
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from streamvbyte_spark.codec import batched  # noqa: F401 - import first
    with open("/proc/self/statm") as f:
        vm = int(f.read().split()[0]) * os.sysconf("SC_PAGE_SIZE")
    resource.setrlimit(resource.RLIMIT_AS, (vm + _HEADROOM,) * 2)
    print(json.dumps(sweep(int(sys.argv[1]), int(sys.argv[2]))))
